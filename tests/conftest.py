from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"
# The differential fuzzer's pinned-seed tier — explicit, NOT derived by
# string surgery on SF_CORRECT (a silent no-op if that ever changes
# tier/format would rerun the pins against the wrong dataset; ADVICE r8).
SF_FUZZ = SF_SMOKE


@pytest.fixture(scope="session")
def spark():
    from stock_streaming_data_pipeline_spark.session import get_spark

    spark = get_spark("tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield spark


@pytest.fixture(scope="session")
def duck():
    from stock_streaming_data_pipeline_spark.tables import duck_connection

    # tests that use this fixture import check_oracle.compare
    sys.path.insert(0, str(REPO / "tools"))
    return duck_connection(SF_SMOKE)

"""Source guard: every materialization of an intermediate goes through
``operators/checkpoint.materialize``, the one place that picks between
``localCheckpoint`` and the reliable ``checkpoint``. A direct call
anywhere else in the package would bring back per-site fault policy.
The two branches must return the same rows and schema."""

from __future__ import annotations

import ast

import pytest
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.operators import checkpoint
from stock_streaming_data_pipeline_spark.operators.checkpoint import (
    materialize,
    truncate_lineage,
)
from tests.conftest import REPO

PACKAGE = REPO / "stock_streaming_data_pipeline_spark"
HELPER = PACKAGE / "operators" / "checkpoint.py"
_DIRECT = {"localCheckpoint", "checkpoint"}


def direct_materializations(source: str) -> list[int]:
    """Lines of ``<x>.localCheckpoint(...)`` / ``<x>.checkpoint(...)``."""
    return sorted(
        n.func.end_lineno
        for n in ast.walk(ast.parse(source))
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in _DIRECT
    )


def test_no_direct_materialization_outside_the_helper():
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == HELPER:
            continue
        found += [
            f"{path.relative_to(REPO)}:{ln}"
            for ln in direct_materializations(path.read_text())
        ]
    assert found == []


def test_guard_flags_a_direct_call():
    src = (
        "a = df.localCheckpoint(eager=True)\n"
        "def f(df):\n"
        "    b = (\n"
        "        df.select('x')\n"
        "        .checkpoint()\n"
        "    )\n"
        "    c = materialize(df, eager=False)\n"
        "    return df.localCheckpoint\n"
    )
    assert direct_materializations(src) == [1, 5]


@pytest.mark.parametrize(
    "master, in_driver",
    [
        ("local", True),
        ("local[4]", True),
        ("local[*]", True),
        ("local[4,2]", True),
        ("local-cluster[2,1,1024]", False),
        ("spark://h:7077", False),
        ("yarn", False),
    ],
)
def test_executors_in_driver(master, in_driver):
    assert checkpoint._executors_in_driver(master) is in_driver


@pytest.fixture
def checkpoint_dir(spark, tmp_path):
    """The session's reliable checkpoint dir, pointed at ``tmp_path`` for
    the test and restored afterwards (the session is shared)."""
    if getattr(spark, "_jsparkSession", None) is None:
        pytest.skip("needs the py4j JVM session (not under Spark Connect)")
    sc = spark.sparkContext._jsc.sc()
    before = sc.checkpointDir()
    spark.sparkContext.setCheckpointDir(str(tmp_path))
    try:
        yield tmp_path
    finally:
        getattr(sc, "checkpointDir_$eq")(before)


def test_reliable_branch_matches_the_local_branch(spark, checkpoint_dir, monkeypatch):
    """On a non-local master ``materialize`` writes a reliable checkpoint.
    Forced onto that branch, both helpers at both ``eager`` settings
    return the local branch's rows and schema, and write their files
    under the checkpoint dir."""
    base = spark.range(100).select(
        F.col("id"),
        (F.col("id") * 3 % 7).alias("k"),
        F.sha1(F.col("id").cast("string")).alias("s"),
    )
    cases = [(h, e) for h in (materialize, truncate_lineage) for e in (True, False)]

    def run():
        return [
            (out.schema, sorted(map(tuple, out.collect())))
            for out in (h(base, eager=e) for h, e in cases)
        ]

    local = run()
    assert list(checkpoint_dir.rglob("part-*")) == []
    monkeypatch.setattr(checkpoint, "_executors_in_driver", lambda master: False)
    reliable = run()
    assert reliable == local
    assert local[0][1] == sorted(map(tuple, base.collect()))
    assert len({p.parent for p in checkpoint_dir.rglob("part-*")}) == len(cases)

"""The oracle side's DuckDB reader and literal-relation renderer
(``tables.duck_connection`` / ``tables.values_sql``)."""

from __future__ import annotations

import random
import re
import struct

from tests.conftest import SF_SMOKE

from stock_streaming_data_pipeline_spark.tables import duck_connection, values_sql


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def test_zero_rows_give_a_typed_empty_relation():
    con = duck_connection(SF_SMOKE)
    rel = con.sql(values_sql("a BIGINT, b DOUBLE, c VARCHAR", []))
    assert rel.columns == ["a", "b", "c"]
    assert [str(t) for t in rel.types] == ["BIGINT", "DOUBLE", "VARCHAR"]
    assert rel.fetchall() == []


def test_strings_keep_their_quotes_and_none_is_null():
    rows = [(1, "it's"), (2, "''"), (3, None), (None, "x")]
    con = duck_connection(SF_SMOKE)
    got = con.sql(values_sql("k BIGINT, s VARCHAR", rows))
    assert [str(t) for t in got.types] == ["BIGINT", "VARCHAR"]
    assert got.fetchall() == rows


def test_doubles_read_back_bit_identical():
    """A plain decimal literal is typed DECIMAL in DuckDB and its cast to
    DOUBLE can land one ulp off; every double must come back with the
    bits it went in with."""
    rng = random.Random(17)
    xs = [0.1 + 0.2, 5e-324, -5e-324, 1.7976931348623157e308, -0.0, 0.0]
    xs += [rng.uniform(-1e6, 1e6) for _ in range(3000)]
    xs += [rng.uniform(-1.0, 1.0) * 10.0 ** rng.randint(-300, 300) for _ in range(1000)]
    con = duck_connection(SF_SMOKE)
    got = con.sql(values_sql("i BIGINT, x DOUBLE", list(enumerate(xs)))).fetchall()
    assert sorted(i for i, _ in got) == list(range(len(xs)))
    assert [(xs[i], y) for i, y in got if _bits(y) != _bits(xs[i])] == []


_BINARY_UNITS = {"KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def test_duckdb_memory_limit_stays_below_physical_memory():
    """A limit above MemTotal lets a runaway oracle take the host down
    instead of failing with a DuckDB error on its own."""
    con = duck_connection(SF_SMOKE)
    setting = con.sql("SELECT current_setting('memory_limit')").fetchone()[0]
    num, unit = re.fullmatch(r"([\d.]+) (\w+)", setting).groups()
    limit = float(num) * _BINARY_UNITS[unit]
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    assert 0 < limit < kib * 1024, setting


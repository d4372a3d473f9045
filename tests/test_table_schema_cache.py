"""tables.read_parquet: the inferred parquet schema is reused per file
version and conf setting, so a repeated table load plans without the
footer-inference job, and a changed file or conf infers afresh."""

from __future__ import annotations

import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from stock_streaming_data_pipeline_spark import tables

from tests.conftest import REPO

SF_BUNDLED = str(REPO / "perfbench" / "data" / "sf0.001")


def _jobs_in_group(spark, group: str, fn) -> int:
    """Spark jobs started by ``fn()``. The status tracker is fed by the
    asynchronous listener bus, so a sentinel job in its own group is run
    after ``fn`` and awaited: once the bus has delivered it, every
    earlier job is counted."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(group + "-sentinel", "sentinel")
        spark.range(1).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(group + "-sentinel"):
        assert time.time() < deadline, "listener bus never delivered the sentinel"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def test_second_load_starts_no_job(spark):
    tables._SCHEMA_CACHE.clear()
    miss = _jobs_in_group(
        spark, "schema-miss", lambda: tables.load_table(spark, SF_BUNDLED, "orders")
    )
    hit = _jobs_in_group(
        spark, "schema-hit", lambda: tables.load_table(spark, SF_BUNDLED, "orders")
    )
    assert miss >= 1  # the counter sees the inference job at all
    assert hit == 0


def test_rewritten_file_returns_new_schema(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [1, 2]}), path)
    assert tables.load_table(spark, str(tmp_path), "region").columns == [
        "r_regionkey"
    ]
    pq.write_table(pa.table({"r_regionkey": [1, 2], "r_name": ["a", "b"]}), path)
    df = tables.load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(df.collect()) == [(1, "a"), (2, "b")]


def test_rewritten_part_directory_returns_new_schema(spark, tmp_path):
    table = tmp_path / "part.parquet"
    table.mkdir()
    pq.write_table(pa.table({"p_partkey": [1]}), table / "part-0.parquet")
    assert tables.load_table(spark, str(tmp_path), "part").columns == ["p_partkey"]
    shutil.rmtree(table)
    table.mkdir()
    pq.write_table(pa.table({"p_name": ["x"]}), table / "part-1.parquet")
    assert tables.load_table(spark, str(tmp_path), "part").columns == ["p_name"]


def test_nanos_conf_flip_reinfers(spark, tmp_path):
    """TIMESTAMP(NANOS) reads as a long only under nanosAsLong; without it
    Spark rejects the file at inference, so a reused long schema would
    show up as a read that does not fail."""
    from pyspark.sql import types as T

    path = str(tmp_path / "nanos.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1_000_000_123], pa.timestamp("ns"))}), path
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        assert isinstance(tables.read_parquet(spark, path).schema["ts"].dataType, T.LongType)
        spark.conf.set(key, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            tables.read_parquet(spark, path)
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("name", tables.TABLES)
def test_cached_schema_equals_inferred(spark, name):
    path = tables.table_path(SF_BUNDLED, name)
    tables.load_table(spark, SF_BUNDLED, name)  # fills the cache, confs pinned
    hit = []
    assert _jobs_in_group(
        spark, f"schema-eq-{name}", lambda: hit.append(tables.read_parquet(spark, path))
    ) == 0
    assert hit[0].schema == spark.read.parquet(path).schema


def test_uri_paths_are_not_cached():
    assert tables._file_signature("s3a://bucket/sf1/orders.parquet") is None
    assert tables._file_signature("hdfs://nn:8020/sf1/orders.parquet") is None

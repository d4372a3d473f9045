"""End-to-end facade test: the reference's StreamingJob user journey."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.pipeline import FEATURE_SCHEMA, StockPipeline
from stock_streaming_data_pipeline_spark.sources.trades import write_trades_dir
from stock_streaming_data_pipeline_spark.streaming import sinks
from tests.test_table_schema_cache import _jobs_in_group


def test_pipeline_user_journey(spark, tmp_path):
    src = str(tmp_path / "trades")
    write_trades_dir(spark, src, files=3, n_rows=4000)

    pipe = StockPipeline(
        source_dir=src, out_dir=str(tmp_path / "out"), spark=spark
    ).run()
    try:
        prices = pipe.price_tracking()
        volumes = pipe.volume_tracking()
        feats = pipe.features()
        store = pipe.feature_store()

        assert prices.count() > 0 and volumes.count() > 0
        assert {"symbol", "timestamp", "high", "low", "close", "num_trades"} <= set(
            feats.columns
        )
        assert feats.filter(
            (F.col("low") > F.col("close")) | (F.col("close") > F.col("high"))
        ).count() == 0
        assert {"year", "month", "day"} <= set(store.columns)

        # maintenance compaction keeps the resolved state identical
        before = sorted(map(tuple, volumes.collect()))
        pipe.compact()
        after = sorted(map(tuple, pipe.volume_tracking().collect()))
        assert before == after
    finally:
        pipe.stop()


def test_reads_before_run_raise(spark, tmp_path):
    pipe = StockPipeline(
        source_dir=str(tmp_path / "trades"), out_dir=str(tmp_path / "out"), spark=spark
    )
    with pytest.raises(RuntimeError, match=r"run\(\) must be called first"):
        pipe.price_tracking()
    with pytest.raises(RuntimeError, match=r"run\(\) must be called first"):
        pipe.compact()


def test_compact_drops_a_deleted_key(spark, tmp_path):
    src = str(tmp_path / "trades")
    write_trades_dir(spark, src, files=2, n_rows=1000)
    pipe = StockPipeline(
        source_dir=src, out_dir=str(tmp_path / "out"), spark=spark
    ).run()
    try:
        keys = ["symbol", "timestamp"]
        prices = pipe.price_tracking()
        victim = prices.select(*keys).orderBy(*keys).limit(1)
        want = sorted(map(tuple, prices.join(victim, keys, "left_anti").collect()))
        # a delete committed after every streamed epoch
        sinks.tombstone_writer(pipe.fan.path("price_tracking"), keys)(victim, 10**6)
        assert sorted(map(tuple, pipe.price_tracking().collect())) == want

        pipe.compact()
        assert sorted(map(tuple, pipe.price_tracking().collect())) == want
        path = pipe.fan.path("price_tracking")
        raw = spark.read.parquet(*sinks._current_data_files(spark, path))
        assert raw.count() == len(want)
        assert "_deleted" not in raw.columns
    finally:
        pipe.stop()


def test_feature_reads_plan_without_a_job(spark, tmp_path):
    """features() and feature_store() read with the sinks' known schemas:
    a repeated read starts no Spark job, and the schemas are the ones
    inference finds in the written files."""
    src = str(tmp_path / "trades")
    write_trades_dir(spark, src, files=2, n_rows=1000)
    pipe = StockPipeline(
        source_dir=src, out_dir=str(tmp_path / "out"), spark=spark
    ).run()
    try:
        pipe.features()
        assert _jobs_in_group(spark, "features-again", pipe.features) == 0
        assert _jobs_in_group(spark, "store-again", pipe.feature_store) == 0
        for table, read in (
            ("btc_features", pipe.features),
            ("feature_store", pipe.feature_store),
        ):
            inferred = spark.read.parquet(pipe.fan.path(table))
            if table == "btc_features":
                inferred = inferred.select(
                    F.from_json("value", FEATURE_SCHEMA).alias("v")
                ).select("v.*")
            assert read().schema == inferred.schema, table
            assert sorted(map(tuple, read().collect())) == sorted(
                map(tuple, inferred.collect())
            ), table
    finally:
        pipe.stop()


def test_feature_reads_follow_a_moved_output_directory(spark, tmp_path):
    """A file sink's log lists absolute paths, so Spark's own reader of a
    moved sink directory fails. After the drained output directory is
    moved, the pipeline's reads over the new location return the same
    features and feature-store rows."""
    src = str(tmp_path / "trades")
    write_trades_dir(spark, src, files=2, n_rows=1000)
    pipe = StockPipeline(
        source_dir=src, out_dir=str(tmp_path / "out"), spark=spark
    ).run()
    try:
        feats = sorted(map(tuple, pipe.features().collect()))
        store = sorted(map(tuple, pipe.feature_store().collect()))
    finally:
        pipe.stop()
    assert feats and store

    os.rename(tmp_path / "out", tmp_path / "moved")
    pipe.fan.out_dir = str(tmp_path / "moved")
    assert sorted(map(tuple, pipe.features().collect())) == feats
    assert sorted(map(tuple, pipe.feature_store().collect())) == store
    with pytest.raises(Exception, match="FileNotFound|does not exist|PATH_NOT_FOUND"):
        spark.read.parquet(pipe.fan.path("feature_store")).collect()

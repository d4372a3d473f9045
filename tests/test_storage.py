"""Storage-layout behaviors that matter at 100 TB: Hive partition pruning,
bucketed co-located joins (no shuffle), clustered in-file ordering (O1),
and the CSV/JSON reader surface (S6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.streaming.sinks import with_date_partitions
from stock_streaming_data_pipeline_spark.tables import load_table
from tests.conftest import SF_SMOKE


def test_partition_pruning(spark, tmp_path):
    """Reading one day from a year/month/day layout must prune partitions
    (the feature-store read path, K4/SURVEY §4)."""
    out = str(tmp_path / "store")
    ev = load_table(spark, SF_SMOKE, "events")
    with_date_partitions(ev, "ts").write.partitionBy("year", "month", "day").mode(
        "overwrite"
    ).parquet(out)

    df = spark.read.parquet(out).filter(
        (F.col("year") == 2024) & (F.col("month") == 1) & (F.col("day") == 5)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # partition filters must reach the scan (pruning happens at listing
    # time, before any data IO)
    pf = plan.split("PartitionFilters: [", 1)
    assert len(pf) == 2, plan[:1500]
    pf_section = pf[1].split("]", 1)[0]
    assert "day" in pf_section and "month" in pf_section, pf_section
    got_days = {r["day"] for r in df.select("day").distinct().collect()}
    assert got_days <= {5}


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Pre-bucketed tables joined on the bucket key co-locate without an
    Exchange — the bucketing story for repeated fact-fact joins."""
    import shutil

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    orders = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
        "overwrite"
    ).saveAsTable("b_orders")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
        "overwrite"
    ).saveAsTable("b_lineitem")

    # At smoke scale Catalyst would broadcast the small side (a
    # BroadcastExchange, which is not a shuffle); disable broadcast to
    # exercise the bucketed sort-merge path the layout exists for.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan[:2000]}"
        assert "Bucketed: true" in plan
        assert (
            joined.count()
            == li.join(orders, li.l_orderkey == orders.o_orderkey).count()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_clustered_write_sorted_within_partitions(spark, tmp_path):
    """O1: repartition by key + sortWithinPartitions gives per-file
    time-ordering per key (the Cassandra CLUSTERING ORDER BY layout)."""
    out = str(tmp_path / "clustered")
    ev = load_table(spark, SF_SMOKE, "events")
    (
        ev.repartition(4, "event_type")
        .sortWithinPartitions("event_type", "ts")
        .write.mode("overwrite")
        .parquet(out)
    )
    import pyarrow.parquet as pq
    import os

    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert files
    for f in files:
        t = pq.read_table(os.path.join(out, f), columns=["event_type", "ts"]).to_pandas()
        for _, g in t.groupby("event_type"):
            assert g["ts"].is_monotonic_increasing


def test_csv_json_reader_roundtrip(spark, tmp_path):
    """S6: schema-explicit CSV and JSON readers (no inference in prod)."""
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    csv_dir, json_dir = str(tmp_path / "csv"), str(tmp_path / "json")
    ev.write.mode("overwrite").option("header", True).csv(csv_dir)
    ev.write.mode("overwrite").json(json_dir)

    schema = "event_id long, user_id long, event_type string, value double"
    back_csv = spark.read.schema(schema).option("header", True).csv(csv_dir)
    back_json = spark.read.schema(schema).json(json_dir)
    want = sorted(map(tuple, ev.collect()))
    assert sorted(map(tuple, back_csv.collect())) == want
    assert sorted(map(tuple, back_json.collect())) == want


def test_approx_sketches_sane(spark):
    """approx_count_distinct / approx percentile land within tolerance of
    exact (no SQL oracle — engine-specific sketches)."""
    ev = load_table(spark, SF_SMOKE, "events")
    row = ev.agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.percentile_approx("value", 0.5).alias("approx_p50"),
        F.expr("percentile(value, 0.5)").alias("exact_p50"),
    ).collect()[0]
    assert abs(row["approx_users"] - row["exact_users"]) <= 0.1 * row["exact_users"]
    assert abs(row["approx_p50"] - row["exact_p50"]) <= 5.0

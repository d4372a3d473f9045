"""Stateful streaming operators vs their batch window-function semantics.

The running total and fixed-N lookback (SURVEY T11/W1/W2) must match the
batch formulation exactly, including across micro-batch boundaries (state
continuity) — driven over a multi-file replay so several real batches run.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.sources.streams import stream_trades
from stock_streaming_data_pipeline_spark.sources.trades import (
    synthetic_trades,
    write_trades_dir,
)
from stock_streaming_data_pipeline_spark.streaming import state as stream_state


@pytest.fixture(scope="module")
def trades_small(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("trades_state"))
    # no late rows: state fold order must equal event-time order for the
    # batch equivalence to be exact across batch boundaries
    batch = write_trades_dir(
        spark, path, files=3, n_rows=3000, late_fraction=0.0
    )
    return path, batch


def _settle_append(sdf, spark, tmp_path, name):
    chk = str(tmp_path / f"chk_{name}")
    q = (
        sdf.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    return spark.table(name)


def test_running_total_matches_batch(spark, trades_small, tmp_path):
    path, batch = trades_small
    out = stream_state.running_total(
        stream_trades(spark, path), key="symbol", ts="ts", value="volume",
        out="cumulative_volume",
    )
    got = _settle_append(out, spark, tmp_path, "state_running").toPandas()

    w = (
        Window.partitionBy("symbol")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = (
        batch.withColumn("cumulative_volume", F.sum("volume").over(w))
        .select("symbol", "ts", "volume", "cumulative_volume")
        .toPandas()
    )
    key = ["symbol", "ts", "volume"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want)
    assert (got["cumulative_volume"] - want["cumulative_volume"]).abs().max() < 1e-9


def test_running_total_monotone(spark, trades_small, tmp_path):
    path, _ = trades_small
    got = spark.table("state_running").toPandas()
    for _, g in got.sort_values("ts").groupby("symbol"):
        assert g["cumulative_volume"].is_monotonic_increasing


def test_trailing_lookback_matches_batch(spark, trades_small, tmp_path):
    path, batch = trades_small
    out = stream_state.trailing_lookback(
        stream_trades(spark, path), key="symbol", ts="ts", value="price", rows=5
    )
    got = _settle_append(out, spark, tmp_path, "state_lookback").toPandas()

    w = Window.partitionBy("symbol").orderBy("ts").rowsBetween(-4, 0)
    want = (
        batch.select(
            "symbol", "ts", F.col("price"),
            F.avg("price").over(w).alias("lookback_mean"),
            F.min("price").over(w).alias("lookback_min"),
            F.max("price").over(w).alias("lookback_max"),
            F.count(F.lit(1)).over(w).alias("lookback_n"),
        )
        .toPandas()
    )
    key = ["symbol", "ts"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want)
    for c in ["lookback_mean", "lookback_min", "lookback_max"]:
        assert (got[c] - want[c]).abs().max() < 1e-9
    assert (got["lookback_n"] == want["lookback_n"]).all()


def test_state_chunk_order_independence(spark, tmp_path):
    """A group whose batch rows span multiple Arrow chunks must fold in
    event-time order, not chunk-arrival order (ADVICE r1): shrink the Arrow
    batch size so every group straddles chunks, feed rows in scrambled
    order within one micro-batch, and require exact batch-window parity."""
    path = str(tmp_path / "trades_chunks")
    trades = synthetic_trades(spark, n_rows=600, late_fraction=0.0)
    # one file == one micro-batch, rows deliberately out of event-time order
    trades.orderBy(F.xxhash64("ts", "symbol")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        out = stream_state.trailing_lookback(
            stream_trades(spark, path), key="symbol", ts="ts", value="price",
            rows=5,
        )
        got = _settle_append(out, spark, tmp_path, "state_chunks").toPandas()
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
        else:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    w = Window.partitionBy("symbol").orderBy("ts").rowsBetween(-4, 0)
    want = (
        spark.read.parquet(path)
        .select(
            "symbol", "ts",
            F.avg("price").over(w).alias("lookback_mean"),
            F.count(F.lit(1)).over(w).alias("lookback_n"),
        )
        .toPandas()
    )
    key = ["symbol", "ts"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want)
    assert (got["lookback_mean"] - want["lookback_mean"]).abs().max() < 1e-9
    assert (got["lookback_n"] == want["lookback_n"]).all()


def test_late_rows_fold_in_arrival_order(spark, tmp_path):
    """late_fraction > 0 across multiple micro-batches (ADVICE r1): the
    documented contract is arrival-order folding across batches. Pin the
    order-insensitive invariants — no row lost or duplicated, and the final
    per-key running total equals the exact per-key sum."""
    path = str(tmp_path / "trades_late")
    batch = write_trades_dir(
        spark, path, files=4, n_rows=2000, late_fraction=0.15, late_by_s=120
    )
    out = stream_state.running_total(
        stream_trades(spark, path), key="symbol", ts="ts", value="volume",
        out="cumulative_volume",
    )
    got = _settle_append(out, spark, tmp_path, "state_late").toPandas()
    assert len(got) == batch.count()  # every row emitted exactly once
    final = got.groupby("symbol")["cumulative_volume"].max()
    want = batch.groupBy("symbol").agg(F.sum("volume").alias("s")).toPandas()
    want = want.set_index("symbol")["s"]
    for sym in want.index:
        assert abs(final[sym] - want[sym]) < 1e-6


def test_cents_half_up_matches_sql_round():
    """round(x*100, 0) half-away-from-zero (the DuckDB oracle rule), not
    Python's banker's rounding (ADVICE r1): 0.125 → 13 cents, not 12."""
    import duckdb

    cases = [0.125, 0.135, 0.005, 1.005, 2.675, -0.125, -1.005, 0.0, 99.995]
    for x in cases:
        # CAST to DOUBLE: the pipeline's value column is a double, and a
        # bare literal would parse as exact DECIMAL in DuckDB
        want = duckdb.sql(
            f"SELECT CAST(round(CAST({x!r} AS DOUBLE)*100, 0) AS BIGINT)"
        ).fetchone()[0]
        assert stream_state._cents_half_up(x) == want, x


def test_lookback_emit_ready_only(spark, trades_small, tmp_path):
    path, batch = trades_small
    out = stream_state.trailing_lookback(
        stream_trades(spark, path), key="symbol", ts="ts", value="price",
        rows=5, emit_ready_only=True,
    )
    got = _settle_append(out, spark, tmp_path, "state_ready")
    n_src = batch.count()
    n_sym = batch.select("symbol").distinct().count()
    # first rows-1 rows per key withheld (kafka.py:42-50 behavior)
    assert got.count() == n_src - n_sym * 4
    assert got.filter(F.col("lookback_n") < 5).count() == 0


def test_ewma_state_matches_batch_fold(spark, trades_small, tmp_path):
    """Streaming EWMA == batch applyInPandas EWMA bitwise, across real
    micro-batch boundaries (multi-file replay, ordered data): the one
    double of keyed state must carry the recursion over exactly."""
    from stock_streaming_data_pipeline_spark.operators.running import ewma

    path, batch = trades_small
    sdf = stream_trades(spark, path).withColumn("tb", F.unix_micros("ts"))
    out = stream_state.ewma_state(
        sdf, key="symbol", ts="ts", tiebreak="tb", value="price"
    )
    got = {
        (r["symbol"], r["tb"]): r["ewma_raw"]
        for r in _settle_append(out, spark, tmp_path, "state_ewma").collect()
    }
    ref = ewma(
        batch.withColumn("tb", F.unix_micros("ts")),
        key="symbol",
        order=("tb",),
        value_col="price",
    )
    want = {(r["symbol"], r["tb"]): r["ewma_raw"] for r in ref.collect()}
    assert got == want  # bitwise


def test_session_fold_closes_on_gap_and_keeps_tail_open(spark, tmp_path):
    import datetime as dt

    from stock_streaming_data_pipeline_spark.streaming import state as st

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0),
        (1, t0 + dt.timedelta(minutes=10)),          # same session
        (1, t0 + dt.timedelta(hours=2)),             # gap -> closes s1
        (1, t0 + dt.timedelta(hours=2, minutes=5)),  # open tail
        (2, t0),                                     # lone open session
    ]
    path = str(tmp_path / "sess_rows")
    spark.createDataFrame(rows, "user_id long, ts timestamp").coalesce(
        1
    ).write.mode("overwrite").parquet(path)
    sdf = spark.readStream.schema("user_id long, ts timestamp").parquet(path)
    out = _settle_append(
        st.session_fold(sdf, key="user_id", ts="ts"),
        spark,
        tmp_path,
        "state_sessions",
    )
    got = [
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in out.collect()
    ]
    t0us = int(t0.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    # only key 1's first session closed; both tails stay in state
    assert got == [(1, t0us, t0us + 600_000_000, 2)]


def test_kmv_state_fold_batch_boundary_invariance(spark, tmp_path):
    """The streamed sketch must be bit-identical whether the rows arrive
    as one micro-batch or many (the commutative-combine property that
    gives the streaming sketch its batch oracle)."""
    import datetime as dt

    from stock_streaming_data_pipeline_spark.operators import kmv
    from stock_streaming_data_pipeline_spark.streaming import state as st

    rows = [("g", i % 37) for i in range(300)]
    batch_df = spark.createDataFrame(rows, "event_type string, user_id long")
    want = kmv.kmv_sketch(
        batch_df, group_col="event_type", key_col="user_id", k=16
    ).collect()[0]["sketch"]

    # stream the same rows split across several files (one file per batch
    # under maxFilesPerTrigger=1)
    path = str(tmp_path / "kmv_rows")
    batch_df.repartition(4).write.mode("overwrite").parquet(path)
    sdf = (
        spark.readStream.schema("event_type string, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = _settle_append_update(
        st.kmv_state_fold(sdf, key="event_type", member="user_id", k=16),
        spark,
        tmp_path,
        "kmv_state",
    )
    rows_out = sorted(out.collect(), key=lambda r: r["n_seen_batches"])
    assert list(rows_out[-1]["sketch"]) == list(want)
    # estimates monotonically approach the final value's sketch size path
    assert rows_out[-1]["n_seen_batches"] >= 2


def _settle_append_update(sdf, spark, tmp_path, name):
    chk = str(tmp_path / f"chk_{name}")
    q = (
        sdf.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    return spark.table(name)

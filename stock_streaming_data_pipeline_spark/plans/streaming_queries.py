"""Structured Streaming queries exposed through the batch catalog.

Each entry runs a REAL streaming query — file-source replay of the parquet
testdata, availableNow trigger, memory sink — waits for it to settle, and
returns the result as a batch DataFrame. The DuckDB oracle is the batch
semantics of the same computation, so the *streaming engine itself*
(incremental planning, watermarks, state store) goes through the same
differential gate as every batch operator.

Complete output mode is used for the windowed aggregations so the settled
memory-sink table equals the full batch result (append mode would withhold
windows newer than the final watermark — that semantics is exercised in
tests/test_streaming.py instead).
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.functions.scalars import (
    dec38,
    half_away,
    half_up,
    round6,
)
from stock_streaming_data_pipeline_spark.operators.ohlc import bar_aggs
from stock_streaming_data_pipeline_spark.plans import stock as _stock
from stock_streaming_data_pipeline_spark.plans.catalog import _REGISTRY, register
from stock_streaming_data_pipeline_spark.sources.streams import (
    events_as_trades,
    stream_documents,
    stream_events,
)
from stock_streaming_data_pipeline_spark.streaming import state as stream_state


# settle() drains a memory sink through the driver, so it is ONLY for
# aggregate-sized results (windowed rollups, sketches, top-k). A streaming
# query whose settled output grows with the fact table must drain through
# a parquet file sink instead — the ``writeStream.format("parquet")``
# sinks of streaming/jobs.py start_fanout (btc_features, and the
# date-partitioned feature_store) are the pattern. This cap turns that
# mistake into a loud error rather than a silent corpus-sized driver
# collect. Verification harnesses that legitimately need full settled
# outputs for a differential compare (the sf1 sweep replays 1M events
# through append-mode queries) raise the cap explicitly via
# SPARK_GRAFT_SETTLE_MAX_ROWS instead of weakening the default.
SETTLE_MAX_ROWS = 100_000


def _settle_cap() -> int:
    import os

    return int(os.environ.get("SPARK_GRAFT_SETTLE_MAX_ROWS", SETTLE_MAX_ROWS))


def settle(sdf: DataFrame, mode: str) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into a memory
    sink; return the settled rows as a stable batch DataFrame. Refuses
    (raises ValueError) if the settled table exceeds ``SETTLE_MAX_ROWS`` —
    fact-grained streaming output belongs in a file sink, never a
    driver-side memory sink.

    settle() writes no session conf. The query's state-store count is the
    session's ``spark.sql.streaming.internal.stateStore.partitions`` (one
    store per stateful operator on a local session, see session.py), which
    Spark freezes in the query's checkpoint; results do not depend on it,
    since keyed state is hash-partitioned either way. Each settle uses a
    fresh checkpoint, so every settle starts from the session default."""
    spark = sdf.sparkSession
    name = "settle_" + uuid.uuid4().hex[:12]
    with tempfile.TemporaryDirectory(prefix="chk_") as chk:
        q = (
            sdf.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .option("checkpointLocation", chk)
            .start()
        )
        try:
            finished = q.awaitTermination(600)
            if not finished:
                raise TimeoutError(
                    f"streaming query {name} did not finish draining within "
                    "600s — refusing to return a partial memory-sink table"
                )
        finally:
            q.stop()
        sink = spark.table(name)
        # memory-sink rows already sit in driver memory; the guard bounds
        # what settle() re-materializes and hands back as a batch frame.
        n = sink.count()
        cap = _settle_cap()
        if n > cap:
            spark.catalog.dropTempView(name)
            raise ValueError(
                f"settle(): streaming query {name} settled {n} rows "
                f"(> settle cap {cap}) — fact-grained streaming output "
                "must drain through a file sink (streaming/sinks.py), "
                "not a driver-side memory sink; verification sweeps that "
                "need the full output set SPARK_GRAFT_SETTLE_MAX_ROWS"
            )
        rows = sink.collect()
        out = spark.createDataFrame(rows, sink.schema)
    spark.catalog.dropTempView(name)
    return out


@register(
    "streaming_tumbling_volume",
    tags=("T1", "T2", "T6", "A1", "S1"),
    oracle=_stock.tumbling_volume_oracle(),
)
def streaming_tumbling_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's q01 (1-min tumbling volume agg,
    ProcessStockStream.py:112-129) run as a real streaming query over the
    replayed events table, day-grained for the testdata cadence."""
    trades = events_as_trades(stream_events(spark, sf_dir))
    agg = (
        trades.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), F.col("symbol"))
        .agg(
            F.sum("volume").alias("total_volume"),
            F.sum(F.col("price") * F.col("volume")).alias("total_usd_volume"),
            F.count(F.lit(1)).alias("num_trades"),
        )
    )
    settled = settle(agg, "complete")
    return settled.select(
        F.col("symbol").alias("event_type"),
        F.unix_seconds("w.start").alias("window_start"),
        round6(F.col("total_volume")).alias("total_volume"),
        round6(F.col("total_usd_volume")).alias("total_usd_volume"),
        "num_trades",
    )


@register(
    "streaming_sliding_ohlc",
    tags=("T1", "T3", "T6", "A2", "S1"),
    oracle=_REGISTRY["ohlc_sliding_bars"].oracle,
)
def streaming_sliding_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's centerpiece q03 sliding feature agg
    (ProcessStockStream.py:143-161) as a real streaming query; must produce
    byte-identical bars to the batch `ohlc_sliding_bars` plan."""
    trades = events_as_trades(stream_events(spark, sf_dir))
    agg = (
        trades.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "10 minutes").alias("w"), F.col("symbol"))
        .agg(*bar_aggs("price", "volume", "ts"))
    )
    settled = settle(agg, "complete")
    return settled.select(
        F.col("symbol").alias("event_type"),
        F.unix_seconds("w.start").alias("window_start"),
        F.unix_seconds("w.end").alias("window_end"),
        round6(F.col("total_usd_volume")).alias("total_usd_volume"),
        round6(F.col("total_volume")).alias("total_volume"),
        "high",
        "low",
        "open",
        "close",
        F.col("num_trades"),
    )


@register(
    "streaming_cumulative_state",
    tags=("T11", "A3", "W1"),
    oracle=f"""
WITH trades AS ({_stock.SQL_TRADES})
SELECT event_type, epoch_us(ts) AS ts_us,
       round(sum(volume) OVER (
         PARTITION BY event_type ORDER BY ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cumulative_volume
FROM trades
""",
)
def streaming_cumulative_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed running total via applyInPandasWithState — the producer's
    cumulative-volume dict (FinnhubProducer.py:34-36) living in the
    streaming state store, checked against the batch window-function
    semantics."""
    trades = events_as_trades(stream_events(spark, sf_dir))
    totals = stream_state.running_total(
        trades, key="symbol", ts="ts", value="volume", out="cumulative_volume"
    )
    settled = settle(totals, "append")
    return settled.select(
        F.col("symbol").alias("event_type"),
        F.unix_micros("ts").alias("ts_us"),
        round6(F.col("cumulative_volume")).alias("cumulative_volume"),
    )


@register(
    "streaming_upsert_fanout",
    tags=("K1", "K2", "K4", "K5", "T4", "T7", "T8"),
    oracle=f"""
WITH trades AS ({_stock.SQL_TRADES})
SELECT event_type,
       (epoch_us(ts) // 86400000000) * 86400 AS window_start,
       round(sum(volume), 6) AS total_volume,
       round(sum(value * volume), 6) AS total_usd_volume
FROM trades
GROUP BY 1, 2
""",
)
def streaming_upsert_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE four-query fan-out (streaming/jobs.py) replayed over the
    events table: update-mode windowed aggs through the epoch-stamped
    keyed-upsert sink, resolved last-write-wins — the final volume_tracking
    state must equal the batch aggregation (Cassandra-parity semantics,
    T4/T8). The resolved rows are aggregate-sized (one per symbol-day),
    so they are collected, as settle() does, and the fan-out's output
    directory is deleted before returning."""
    import shutil

    from stock_streaming_data_pipeline_spark.streaming import sinks as s
    from stock_streaming_data_pipeline_spark.streaming.jobs import start_fanout

    trades = events_as_trades(stream_events(spark, sf_dir))
    out_dir = tempfile.mkdtemp(prefix="fanout_")
    try:
        fan = start_fanout(
            trades,
            out_dir,
            tumbling_window="1 day",
            tumbling_watermark="1 hour",
            feature_window="1 hour",
            feature_slide="10 minutes",
            feature_watermark="10 minutes",
            available_now=True,
        )
        try:
            for q in fan.queries:
                if not q.awaitTermination(600):
                    raise TimeoutError(
                        f"fan-out query {q.name} did not finish draining "
                        "within 600s"
                    )
        finally:
            fan.stop_all()
        vol = s.read_upsert_table(
            spark, fan.path("volume_tracking"), ["symbol", "timestamp"]
        ).select(
            F.col("symbol").alias("event_type"),
            F.unix_seconds("timestamp").alias("window_start"),
            round6(F.col("total_volume")).alias("total_volume"),
            round6(F.col("total_usd_volume")).alias("total_usd_volume"),
        )
        return spark.createDataFrame(vol.collect(), vol.schema)
    finally:
        shutil.rmtree(out_dir)


# Sign-safe fixed-two-decimal rendering of a BIGINT cents column `c`:
# formatted sign-first from abs(c), because '%d.%02d' on raw negative
# cents emits malformed strings ('-2.-5' for -205; '0.-5' for -99..-1,
# losing the sign). Same text both engines modulo printf name/IF.
CENTS_FMT_SPARK = (
    "format_string('%s%d.%02d', IF(c < 0, '-', ''),"
    " abs(c) DIV 100, abs(c) % 100)"
)
CENTS_FMT_DUCK = (
    "printf('%s%d.%02d', CASE WHEN c < 0 THEN '-' ELSE '' END,"
    " abs(c) // 100, abs(c) % 100)"
)


@register(
    "kafka_payload_shape",
    tags=("C3", "C4", "K3"),
    oracle=f"""
WITH agg AS (
  SELECT event_type, count(*) AS num_trades,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS c
  FROM events GROUP BY event_type
)
SELECT event_type AS key,
       to_json(struct_pack(
         symbol := event_type,
         num_trades := num_trades,
         total_value := {CENTS_FMT_DUCK}
       )) AS value
FROM agg
""",
)
def kafka_payload_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kafka message contract (key=symbol, value=to_json(named_struct))
    the reference publishes (ProcessStockStream.py:163-172) — JSON
    serialization parity across engines. total_value rides inside the
    JSON as a fixed two-decimal STRING built from exact BIGINT cents:
    a raw DOUBLE field diverges across engines' JSON encoders the
    moment it crosses 1e7 (Spark's Jackson writes 1.00292592E7,
    DuckDB 10029259.2 — caught by the sf1 sweep). The string is formatted
    sign-first from abs(cents) — '%d.%02d' on raw negative cents would
    emit malformed values like '-2.-5' for -205 (and lose the sign
    entirely for -99..-1), so the payload contract stays correct even if
    summed event values ever go negative (refunds/adjustments)."""
    from stock_streaming_data_pipeline_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    cents = half_up("value", 2)
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("num_trades"),
        F.sum(cents).alias("c"),
    )
    return agg.select(
        F.col("event_type").alias("key"),
        F.to_json(
            F.struct(
                F.col("event_type").alias("symbol"),
                F.col("num_trades"),
                F.expr(CENTS_FMT_SPARK).alias("total_value"),
            )
        ).alias("value"),
    )


@register(
    "streaming_dedup",
    tags=("T8", "T1", "U1"),
    oracle=f"""
WITH trades AS ({_stock.SQL_TRADES})
SELECT event_id, epoch_us(ts) AS ts_us, round(volume, 6) AS volume
FROM trades
""",
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: the source unioned with itself (every event
    duplicated) then dropDuplicatesWithinWatermark on the event key — the
    settled output must be exactly the distinct input (exactly-once
    ingestion semantics for at-least-once sources)."""
    ev1 = stream_events(spark, sf_dir)
    ev2 = stream_events(spark, sf_dir)
    doubled = ev1.unionByName(ev2)
    deduped = (
        doubled.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    trades = events_as_trades_cols(deduped)
    settled = settle(trades, "append")
    return settled.select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        round6(F.col("volume")).alias("volume"),
    )


def events_as_trades_cols(events: DataFrame) -> DataFrame:
    return events.select(
        "event_id",
        "ts",
        F.get_json_object("props", "$.k").cast("double").alias("volume"),
    )


@register(
    "streaming_lookback_state",
    tags=("T11", "W2"),
    oracle=f"""
WITH trades AS ({_stock.SQL_TRADES})
SELECT event_type, epoch_us(ts) AS ts_us,
       min(value) OVER w AS lookback_min,
       max(value) OVER w AS lookback_max,
       count(*) OVER w AS lookback_n,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) OVER w AS BIGINT)
         AS lookback_cents_sum
FROM trades
WINDOW w AS (PARTITION BY event_type ORDER BY ts
             ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
""",
)
def streaming_lookback_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The predictor's 100-row FIFO (BtcPrediction/kafka.py:42-57) as a
    stateful streaming operator — bounded per-key state in the state store,
    checked against the batch 100-row window frame."""
    trades = events_as_trades(stream_events(spark, sf_dir)).withColumnRenamed(
        "price", "close"
    )
    out = stream_state.trailing_lookback(
        trades, key="symbol", ts="ts", value="close", rows=100
    )
    settled = settle(out, "append")
    # lookback_mean is excluded from the oracle-facing output: a pairwise
    # (pandas) vs sequential (SQL) double summation can land exactly on a
    # round-6 boundary (observed). The mean is pinned against the batch
    # window form in tests/test_state.py with a numeric tolerance instead.
    return settled.select(
        F.col("symbol").alias("event_type"),
        F.unix_micros("ts").alias("ts_us"),
        F.col("lookback_min").alias("lookback_min"),
        F.col("lookback_max").alias("lookback_max"),
        F.col("lookback_n").alias("lookback_n"),
        F.col("lookback_cents_sum").alias("lookback_cents_sum"),
    )


# Recursive-CTE form of the EWMA oracle: one iteration per row rank, so
# DuckDB re-probes the ordered relation once per step — fine at driver
# scale, O(n * max-key-depth) at a 1M-event tier (hours). Kept for the
# pytest equivalence pin; the registered oracle is the bounded VALUES
# form below.
EWMA_CTE_SQL = """
WITH RECURSIVE ordered AS (
  SELECT event_type, event_id, epoch_us(ts) AS ts_us, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events WHERE value IS NOT NULL
), rec AS (
  SELECT event_type, event_id, ts_us, rn, value AS y
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.event_type, o.event_id, o.ts_us, o.rn, 0.5 * o.value + 0.5 * r.y
  FROM ordered o JOIN rec r ON o.event_type = r.event_type AND o.rn = r.rn + 1
)
SELECT event_type, event_id, ts_us,
       CAST(floor(y * 1000000 + 0.5) AS BIGINT) AS ewma_micro
FROM rec
"""


def sql_ewma_expected(sf_dir: str, *, alpha: float = 0.5) -> str:
    """Literal-VALUES oracle for streaming_ewma_state — the bounded
    replacement for the recursive-CTE replay whose per-rank iteration
    made DuckDB take hours at the 1M-event sf1 tier. The fold replays in
    Python with the exact IEEE op order both engines use (first row
    y = x, then y = a*x + (1-a)*y — two multiplies then one add,
    matching streaming/state.py:ewma_state and the CTE's
    0.5*value + 0.5*y), micro-snapped floor(y*1e6 + 0.5). Pinned equal
    to the CTE form at sf0.001/0.01 in pytest (the pagerank/IVF
    precedent). A 1M-row VALUES literal parses in ~30 s — measured."""
    import math

    from stock_streaming_data_pipeline_spark.tables import duck_connection, values_sql

    a = float(alpha)
    one_minus_a = 1.0 - a
    con = duck_connection(sf_dir)
    rows = con.execute(
        "SELECT event_type, event_id, epoch_us(ts) AS ts_us, value FROM events "
        "WHERE value IS NOT NULL ORDER BY event_type, ts_us, event_id"
    ).fetchall()
    con.close()

    out = []
    cur_key: str | None = None
    y = 0.0
    has = False
    for et, eid, ts_us, v in rows:
        if et != cur_key:
            cur_key, has = et, False
        if has:
            y = a * v + one_minus_a * y
        else:
            y, has = v, True
        out.append((et, eid, ts_us, math.floor(y * 1_000_000 + 0.5)))
    return values_sql(
        "event_type VARCHAR, event_id BIGINT, ts_us BIGINT, ewma_micro BIGINT", out
    )


@register(
    "streaming_ewma_state",
    tags=("T11", "W1", "UD1"),
    oracle_fn=sql_ewma_expected,
)
def streaming_ewma_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch EWMA recursion (plans/stock.py:ewma_price) running as a
    stateful streaming operator: one double of keyed state in the state
    store, folded in event-time order (event_id tiebreak) — the streaming
    answer must equal the batch recursive-CTE oracle row-for-row, bitwise
    before the micro-unit surface. The reference's pandas-sidecar feature
    loop (BtcPrediction/kafka.py:51-57), in-engine and restartable."""
    ev = stream_events(spark, sf_dir).filter(F.col("value").isNotNull())
    trades = ev.select(
        F.col("event_type").alias("symbol"),
        F.col("event_id"),
        F.col("ts"),
        F.col("value").alias("price"),
    )
    out = stream_state.ewma_state(
        trades, key="symbol", ts="ts", tiebreak="event_id", value="price"
    )
    settled = settle(out, "append")
    return settled.select(
        F.col("symbol").alias("event_type"),
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        half_up("ewma_raw", 6).alias("ewma_micro"),
    )


@register(
    "streaming_interval_join",
    tags=("J1", "T1", "S1"),
    oracle="""
SELECT p.event_id AS purchase_id,
       v.event_id AS view_id,
       p.user_id,
       epoch_us(p.ts) AS purchase_ts_us,
       epoch_us(v.ts) AS view_ts_us,
       round(p.value, 6) AS purchase_value,
       round(v.value, 6) AS view_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND v.ts BETWEEN p.ts - INTERVAL 6 HOUR AND p.ts
""",
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join with watermarks: every purchase joined
    to the user's views in the preceding 6 hours — the streaming form of
    the prediction/actual alignment (SURVEY J1: 'stream-stream join with
    watermark'). State on both sides is bounded by the watermark + the
    join's time range."""
    ev1 = stream_events(spark, sf_dir)
    ev2 = stream_events(spark, sf_dir)
    p = (
        ev1.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    v = (
        ev2.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("v_ts"),
            F.col("value").alias("view_value"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    joined = p.join(
        v,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 6 HOURS"))
        & (F.col("v_ts") <= F.col("p_ts")),
        "inner",
    )
    settled = settle(joined, "append")
    return settled.select(
        "purchase_id",
        "view_id",
        "user_id",
        F.unix_micros("p_ts").alias("purchase_ts_us"),
        F.unix_micros("v_ts").alias("view_ts_us"),
        round6(F.col("purchase_value")).alias("purchase_value"),
        round6(F.col("view_value")).alias("view_value"),
    )


@register(
    "streaming_interval_join_louter",
    tags=("J1", "T1", "T5", "S1"),
    oracle="""
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
     v AS (SELECT * FROM events WHERE event_type = 'view'),
     wm AS (SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM v))
                   - INTERVAL 1 HOUR AS cut)
SELECT p.event_id AS purchase_id,
       v.event_id AS view_id,
       p.user_id,
       epoch_us(p.ts) AS purchase_ts_us,
       coalesce(epoch_us(v.ts), -1) AS view_ts_us,
       round(p.value, 6) AS purchase_value,
       v.value AS view_value
FROM p LEFT JOIN v
  ON p.user_id = v.user_id
 AND v.ts BETWEEN p.ts - INTERVAL 6 HOUR AND p.ts
WHERE v.event_id IS NOT NULL OR p.ts <= (SELECT cut FROM wm)
""",
)
def streaming_interval_join_louter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: matched purchase/view rows
    emit as they join; unmatched purchases emit null-extended ONLY once
    the global watermark (min of both sides' max event time minus the
    1-hour delay) passes their event time — purchases newer than the
    final watermark are withheld, exactly Structured Streaming's bounded
    outer-join contract. The oracle reproduces the watermark cutoff in
    SQL, so the gate checks the real emission semantics, not just the
    join."""
    ev1 = stream_events(spark, sf_dir)
    ev2 = stream_events(spark, sf_dir)
    p = (
        ev1.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    v = (
        ev2.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("v_ts"),
            F.col("value").alias("view_value"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    joined = p.join(
        v,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 6 HOURS"))
        & (F.col("v_ts") <= F.col("p_ts")),
        "left_outer",
    )
    settled = settle(joined, "append")
    return settled.select(
        "purchase_id",
        "view_id",
        "user_id",
        F.unix_micros("p_ts").alias("purchase_ts_us"),
        F.coalesce(F.unix_micros("v_ts"), F.lit(-1).cast("long")).alias(
            "view_ts_us"
        ),
        round6(F.col("purchase_value")).alias("purchase_value"),
        F.col("view_value"),
    )


@register(
    "streaming_static_enrich",
    tags=("S1", "J2", "T6"),
    oracle=f"""
WITH trades AS ({_stock.SQL_TRADES})
SELECT t.event_id, t.event_type, epoch_us(t.ts) AS ts_us,
       c.c_mktsegment AS segment,
       round(t.value, 6) AS value
FROM trades t
JOIN customer c ON t.user_id = c.c_custkey
""",
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the static
    customer dimension per micro-batch (the dimension is re-resolvable
    every batch — the streaming lookup-table pattern). The static side
    carries no hard broadcast hint: it is SF-scaled, and Spark already
    auto-broadcasts a batch relation under the size threshold inside a
    streaming plan; beyond it, the per-batch join degrades to shuffle."""
    from stock_streaming_data_pipeline_spark.tables import load_table

    ev = stream_events(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = ev.join(dim, ev.user_id == dim.c_custkey, "inner")
    settled = settle(
        joined.select(
            "event_id", "event_type", "ts",
            F.col("c_mktsegment").alias("segment"), "value",
        ),
        "append",
    )
    return settled.select(
        "event_id", "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "segment",
        round6(F.col("value")).alias("value"),
    )


@register(
    "streaming_zscore",
    tags=("S1", "J2", "F1", "T6"),
    oracle=_REGISTRY["outlier_zscore"].oracle,
)
def streaming_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly flagging against trained statistics: per-key
    mean/stddev are fit ONCE on the batch table (exact integer-cents
    moments, the `outlier_zscore` recipe), broadcast as a static dimension,
    and every streamed event is z-scored against them per micro-batch —
    the online-scoring half of a train/serve split. The settled stream
    must reproduce the batch outlier query row-for-row."""
    from stock_streaming_data_pipeline_spark.tables import load_table

    cents = half_away("value", 2)
    batch = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    stats = (
        batch.select("event_type", cents.alias("value_cents"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value_cents").alias("s1"),
            F.sum(F.col("value_cents") * F.col("value_cents")).alias("s2"),
        )
    )
    ev = (
        stream_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .withColumn("value_cents", cents)
    )
    j = ev.join(F.broadcast(stats), "event_type")
    n_d = F.col("n").cast("double")
    s1_d = F.col("s1").cast("double")
    s2_d = F.col("s2").cast("double")
    z = (F.col("value_cents").cast("double") - s1_d / n_d) / F.sqrt(
        (s2_d - s1_d * s1_d / n_d) / (n_d - F.lit(1.0))
    )
    scored = (
        j.withColumn("z", round6(z))
        .filter(F.abs(F.col("z")) > 2.5)
        .select("event_id", "event_type", "value_cents", "z")
    )
    return settle(scored, "append")


@register(
    "streaming_session_windows",
    tags=("T3", "T1", "A1"),
    oracle=_REGISTRY["session_window_agg"].oracle,
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (1-hour gap) in the STREAMING engine — merging
    session state in the state store as events replay; the settled result
    must equal the batch session_window plan (and hence the lag-gap SQL
    semantics)."""
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "1 hour").alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    settled = settle(agg, "complete")
    return settled.select(
        "user_id",
        F.unix_micros("w.start").alias("session_start_us"),
        F.unix_micros("w.end").alias("session_end_us"),
        "n_events",
    )


@register(
    "streaming_windowed_distinct",
    tags=("T1", "T2", "T5", "A4", "S1"),
    oracle="""
WITH cutoff AS (
  SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events
),
g AS (
  SELECT event_type, date_trunc('day', ts) AS d,
         count(DISTINCT user_id) AS distinct_users
  FROM events GROUP BY 1, 2
)
SELECT event_type, epoch(d)::BIGINT AS window_start, distinct_users
FROM g CROSS JOIN cutoff
WHERE d + INTERVAL 1 DAY <= wm
""",
)
def streaming_windowed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed COUNT DISTINCT on a stream — the aggregation streaming
    engines cannot do directly (distinct aggs are unsupported in
    streaming): the standard rewrite chains TWO stateful operators,
    watermark-bounded dropDuplicates on (key, event-time window, user)
    followed by the windowed count, in append mode.

    The dedup subset keys on the WINDOW column derived from the
    watermarked ts — an event-time column — so the dedup operator's
    state is watermark-evicted as windows finalize (state = one row per
    distinct (key, day, user) inside the horizon; bounded on an
    unbounded stream). Keying on a plain derived date column instead
    would never evict — Spark only expires dedup state when the subset
    carries event-time. Eviction is pinned by
    test_windowed_distinct_dedup_state_evicts. The oracle replays the
    watermark cutoff (windows whose end exceeds max(ts) − 1h are
    withheld by append mode — the T5 contract)."""
    ev = stream_events(spark, sf_dir).select("event_type", "ts", "user_id")
    windowed = ev.withWatermark("ts", "1 hour").select(
        "event_type", "user_id", F.window("ts", "1 day").alias("w")
    )
    deduped = windowed.dropDuplicates(["event_type", "w", "user_id"])
    agg = deduped.groupBy(F.col("w"), F.col("event_type")).agg(
        F.count(F.lit(1)).alias("distinct_users")
    )
    settled = settle(agg, "append")
    return settled.select(
        "event_type",
        F.unix_seconds("w.start").alias("window_start"),
        "distinct_users",
    )


from stock_streaming_data_pipeline_spark.sources import trade_source as _trade_source  # noqa: E402


@register(
    "streaming_custom_source_vwap",
    tags=("S3", "S1", "T1", "T2", "A1"),
    oracle=f"""
WITH {_trade_source.sql_trade_gen(2000)},
scaled AS (
  SELECT symbol, date_trunc('hour', ts) AS bucket_ts,
         CAST(round(price * 100, 0) AS BIGINT) AS p,
         CAST(round(qty * 1000000, 0) AS BIGINT) AS q
  FROM trade_gen
),
agg AS (
  SELECT symbol AS key, bucket_ts,
         sum(CAST(p * q AS DECIMAL(38,0))) AS s_pq,
         sum(CAST(q AS DECIMAL(38,0))) AS s_q,
         count(*) AS n_trades
  FROM scaled GROUP BY 1, 2
)
SELECT key, epoch(bucket_ts)::BIGINT AS bucket_s,
       round(s_pq::DOUBLE / s_q::DOUBLE / 100.0, 6) AS vwap,
       n_trades
FROM agg WHERE s_q > 0
""",
)
def streaming_custom_source_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full custom-source streaming path: readStream from the Spark-4
    Python DataSource (trade_gen), watermarked hourly VWAP aggregation
    with DECIMAL(38,0) inner products, drained under a real checkpointed
    micro-batch run — and the oracle regenerates the FEED ITSELF in
    DuckDB (portable-md5 arithmetic), so source + streaming agg are one
    differential check. Must equal the batch custom_source_vwap."""
    _trade_source.register(spark)
    feed = (
        spark.readStream.format("trade_gen")
        .option("n_rows", 2000)
        .load()
    )
    p = half_away("price", 2)
    q = half_away("qty", 6)
    agg = (
        feed.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("symbol").alias("key"))
        .agg(
            F.sum(dec38(p * q)).alias("s_pq"),
            F.sum(dec38(q)).alias("s_q"),
            F.count(F.lit(1)).alias("n_trades"),
        )
    )
    settled = settle(agg, "complete")
    return settled.filter(F.col("s_q") > 0).select(
        "key",
        F.unix_seconds("w.start").alias("bucket_s"),
        round6(
            F.col("s_pq").cast("double") / F.col("s_q").cast("double") / F.lit(100.0)
        ).alias("vwap"),
        "n_trades",
    )


@register(
    "streaming_custom_sessions",
    tags=("T11", "T5", "W1", "W4"),
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us FROM events
),
g AS (
  SELECT user_id, us,
         CASE WHEN lag(us) OVER w IS NULL
                OR us - lag(us) OVER w > 3600000000 THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
),
s AS (
  SELECT user_id, us,
         sum(brk) OVER (PARTITION BY user_id ORDER BY us) AS sid
  FROM g
),
sess AS (
  SELECT user_id, sid,
         min(us) AS session_start_us, max(us) AS session_end_us,
         count(*) AS n_events
  FROM s GROUP BY 1, 2
),
m AS (SELECT user_id, max(sid) AS last_sid FROM sess GROUP BY user_id)
SELECT sess.user_id, session_start_us, session_end_us,
       CAST(n_events AS BIGINT) AS n_events
FROM sess JOIN m USING (user_id)
WHERE sid < last_sid
""",
)
def streaming_custom_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM gap sessionization in keyed state (applyInPandasWithState,
    three integers of state per key) running as a real streaming query:
    sessions close when the next event breaks the 1-hour gap; each key's
    final open session stays in state — the exact analogue of the
    append-mode watermark tail, which the gaps-and-islands oracle
    excludes per key. Complements the built-in session_window query
    (session_window_agg) with the hand-rolled state path the reference's
    producer-dict pattern would actually need."""
    ev = stream_events(spark, sf_dir).select("user_id", "ts")
    sessions = stream_state.session_fold(
        ev, key="user_id", ts="ts", gap_seconds=3600
    )
    return settle(sessions, "append")


from stock_streaming_data_pipeline_spark.operators import kmv as _kmv  # noqa: E402


@register(
    "streaming_kmv_distinct",
    tags=("T11", "A4", "LLM-profile"),
    oracle=f"""
WITH {_kmv.sql_kmv_sketch(table="events", group_expr="event_type",
                          key_expr="user_id", k=64)}
SELECT grp AS event_type,
       round({_kmv.sql_kmv_estimate('sketch', k=64)}, 6) AS kmv_estimate,
       CAST(len(sketch) AS BIGINT) AS sketch_size
FROM kmv_sk
""",
)
def streaming_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING approximate distinct with a full differential oracle:
    the per-key KMV sketch folds in keyed state (k smallest portable
    hashes — a commutative/associative combine, so batch boundaries and
    arrival order cannot change the result), and the settled stream's
    final sketch must equal the BATCH sketch bit-for-bit, which the
    DuckDB oracle replays. The sketch property no engine-specific HLL
    stream can offer."""
    ev = stream_events(spark, sf_dir).select("event_type", "user_id")
    sk = stream_state.kmv_state_fold(
        ev, key="event_type", member="user_id", k=64
    )
    settled = settle(sk, "update")
    from pyspark.sql import Window as W

    # update-mode memory sink keeps every batch's row; last batch wins
    w = W.partitionBy("event_type").orderBy(F.desc("n_seen_batches"))
    return (
        settled.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "event_type",
            "kmv_estimate",
            F.size("sketch").cast("long").alias("sketch_size"),
        )
    )


@register(
    "streaming_dsir",
    tags=("T6", "J2", "LLM-mixing"),
    oracle=_REGISTRY["dsir_importance_weights"].oracle,
)
def streaming_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING importance scoring — the ingest-time half of a DSIR
    train/serve split: the 64-bucket target-vs-raw log-ratio table is
    fit ONCE on the batch corpus (the dsir_importance_weights recipe),
    broadcast as a static dimension, and every streamed raw document is
    tokenized, bucket-joined and importance-summed per micro-batch
    (complete-mode aggregate keyed by doc — each doc's token rows all
    arrive in its file's batch). The settled stream must reproduce the
    batch DSIR query row-for-row, so it shares its exact oracle.

    Scale note (honest): complete-mode per-doc state grows with the
    total document count; at production scale the same λ broadcast
    feeds an UPDATE-mode aggregate draining into the keyed-upsert sink
    (the streaming_upsert_fanout path), keeping state bounded to
    in-flight docs — complete mode here is what makes the settled
    result comparable to the batch oracle in one shot."""
    from stock_streaming_data_pipeline_spark.operators.dedup import (
        portable_hash,
        tokens,
    )
    from stock_streaming_data_pipeline_spark.tables import load_table

    n_buckets, salt = 64, "dsir_"
    batch = load_table(spark, sf_dir, "documents")
    bt = batch.select(
        (F.col("source") == "src0").alias("is_target"),
        F.explode(tokens(F.col("text"))).alias("t"),
    ).select(
        "is_target",
        F.pmod(portable_hash(F.col("t"), salt=salt), F.lit(n_buckets))
        .cast("int")
        .alias("b"),
    )
    counts = bt.groupBy("b").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(1)).alias("cr"),
    )
    totals = counts.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
    ratio = F.round(
        F.log(
            ((F.col("ct") + 1) / (F.col("tt") + F.lit(n_buckets)))
            / ((F.col("cr") + 1) / (F.col("tr") + F.lit(n_buckets)))
        ),
        6,
    )
    lam = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "b",
            half_away(ratio, 6).alias("lam_micro"),
        )
    )
    sdocs = stream_documents(spark, sf_dir).filter(F.col("source") != "src0")
    stoks = sdocs.select(
        F.col("doc_id").alias("doc"), F.explode(tokens(F.col("text"))).alias("t")
    ).select(
        "doc",
        F.pmod(portable_hash(F.col("t"), salt=salt), F.lit(n_buckets))
        .cast("int")
        .alias("b"),
    )
    scored = (
        stoks.join(F.broadcast(lam), "b")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("lam_micro").alias("w_micro"),
        )
    )
    settled = settle(scored, "complete")
    return settled.select(
        "doc",
        "n_toks",
        F.round(F.col("w_micro").cast("double") / F.lit(1e6), 6).alias(
            "importance"
        ),
        (F.col("w_micro") > 0).alias("keep"),
    )


@register(
    "streaming_ams_f2",
    tags=("T6", "T11", "LLM-text"),
    oracle=_REGISTRY["sketch_ams_f2_tokens"].oracle,
)
def streaming_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING AMS F2 — the mergeable-sketch property demonstrated in
    the engine: the 16 signed counters fold per micro-batch under a
    complete-mode groupBy whose state is EXACTLY 16 integers regardless
    of vocabulary or stream length (addition is commutative/associative,
    so batch boundaries and arrival order cannot change the settled
    sketch), then the settled counters join the batch-side exact-F2
    audit (an offline quantity, the streaming_dsir hybrid pattern) and
    must reproduce the batch sketch query bit-for-bit — it shares its
    exact oracle. The 16x sign fan is a pure generator (explode over a
    literal array — no stream-static join needed)."""
    from stock_streaming_data_pipeline_spark.operators.dedup import (
        portable_hash,
        tokens,
    )
    from stock_streaming_data_pipeline_spark.plans.mlstats import (
        _AMS_K,
        _AMS_OUT,
    )
    from stock_streaming_data_pipeline_spark.tables import load_table

    tk = stream_documents(spark, sf_dir).select(
        F.explode(tokens(F.col("text"))).alias("term")
    )
    signs = tk.select(
        "term",
        F.explode(F.array(*[F.lit(i) for i in range(_AMS_K)])).alias("i"),
    ).select(
        "i",
        (
            1
            - 2
            * F.pmod(
                portable_hash(
                    F.concat_ws(":", F.col("i").cast("string"), F.col("term")),
                    salt="ams_",
                ),
                F.lit(2),
            )
        ).alias("sign"),
    )
    z = signs.groupBy("i").agg(F.sum("sign").cast("long").alias("z"))
    settled = settle(z, "complete")
    est = settled.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(dec38(F.col("z")) * dec38(F.col("z"))).cast("double").alias("sz2"),
    )
    ex = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("f"))
        .agg(
            F.sum(dec38(F.col("f")) * dec38(F.col("f")))
            .cast("long")
            .alias("f2_exact")
        )
    )
    return est.crossJoin(F.broadcast(ex)).selectExpr(*_AMS_OUT)


@register(
    "streaming_token_entropy",
    tags=("T6", "LLM-text"),
    oracle=_REGISTRY["corpus_token_entropy"].oracle,
)
def streaming_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING lexical-diversity monitor: per-source token counts fold
    under a complete-mode groupBy as documents arrive, and the settled
    vocabulary relation feeds the same order-free micro-ln entropy
    finalization as the batch query — bit-identical output, shared
    oracle. State is the (source, term) count relation: vocabulary-
    bounded (the streaming_dsir honesty note applies — vocabularies
    grow sublinearly in corpus size, and an UPDATE-mode drain into the
    keyed-upsert sink is the unbounded-stream form). The entropy math
    never runs inside the stream: micro-ln quantization happens on the
    settled counts, so arrival order and batch boundaries cannot
    perturb a single bit."""
    from stock_streaming_data_pipeline_spark.operators.dedup import tokens
    from stock_streaming_data_pipeline_spark.plans.mlstats import _ENTROPY_OUT

    tk = stream_documents(spark, sf_dir).select(
        "source", F.explode(tokens(F.col("text"))).alias("term")
    )
    cnts = tk.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    settled = settle(cnts, "complete")
    s = settled.groupBy("source").agg(
        F.sum("f").cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("vv"),
        F.sum(
            dec38(F.col("f"))
            * dec38(half_up(F.log(F.col("f").cast("double")), 6))
        ).alias("sfl"),
    )
    return s.selectExpr(*_ENTROPY_OUT)


@register(
    "streaming_heavy_hitters",
    tags=("T6", "LLM-text", "A4"),
    oracle=_REGISTRY["heavy_hitter_tokens"].oracle,
)
def streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING heavy hitters: the >=2%-of-stream token report
    maintained as documents arrive — per-term counts fold under a
    complete-mode groupBy (the exact space-bounded alternative to a
    Misra-Gries sketch when, as here and in most curation corpora, the
    vocabulary is itself bounded; the sketch_countmin query is the
    fixed-memory path for unbounded vocabularies), the settled counts
    join the settled total, and the 2% support filter reproduces the
    batch heavy_hitter_tokens result row-for-row — shared oracle.
    Arrival order and batch boundaries cannot perturb integer counts."""
    from stock_streaming_data_pipeline_spark.operators.dedup import tokens

    tk = stream_documents(spark, sf_dir).select(
        F.explode(tokens(F.col("text"))).alias("term")
    )
    cnt = tk.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("occurrences")
    )
    settled = settle(cnt, "complete")
    tot = settled.agg(F.sum("occurrences").alias("n"))
    return (
        settled.crossJoin(F.broadcast(tot))
        .filter(F.col("occurrences") * 50 >= F.col("n"))
        .select("term", "occurrences")
    )


@register(
    "streaming_reverse_search",
    tags=("T6", "LLM-retrieval"),
    oracle=_REGISTRY["reverse_search_alerts"].oracle,
)
def streaming_reverse_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING percolation — the reverse-search alerts maintained as
    documents arrive, which is how percolators actually deploy (stored
    queries are the static side; the stream is the data): each
    micro-batch's docs tokenize, distinct per doc, join the broadcast
    stored-term table, and per-(query, doc) hit counts fold under a
    complete-mode groupBy; the settled counts reduce to the alert
    report batch-exactly (shared oracle). State is one row per
    (stored query, matching-candidate doc) — bounded by match volume,
    not the corpus (only docs sharing at least one stored term enter
    state); the unbounded-stream form drains matches through the
    keyed-upsert sink per the streaming_dsir note."""
    from stock_streaming_data_pipeline_spark.operators.dedup import tokens
    from stock_streaming_data_pipeline_spark.plans.llmdata import (
        _PERC_QUERIES,
    )

    tk = (
        stream_documents(spark, sf_dir)
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .dropDuplicates(["doc_id", "term"])
    )
    q = spark.createDataFrame(
        [(qid, t) for qid, terms in _PERC_QUERIES for t in terms],
        schema="query_id INT, term STRING",
    )
    qs = spark.createDataFrame(
        [(qid, len(terms)) for qid, terms in _PERC_QUERIES],
        schema="query_id INT, n_terms INT",
    )
    hits = (
        tk.join(F.broadcast(q), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    )
    settled = settle(hits, "complete")
    matched = settled.join(F.broadcast(qs), "query_id").filter(
        F.col("n_hit") == F.col("n_terms")
    )
    return matched.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_matching_docs"),
        F.min("doc_id").alias("first_doc"),
    )


@register(
    "streaming_bitmap_overlap",
    tags=("T6", "A4", "U1"),
    oracle=_REGISTRY["bitmap_type_overlap"].oracle,
)
def streaming_bitmap_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING audience bitmaps: the word-aligned 64-bit user bitmaps
    fold in-stream under a complete-mode bit_or groupBy — bit_or is the
    textbook mergeable state (commutative, associative, idempotent:
    re-delivered events cannot corrupt it, the exactly-once property
    for free), and state is |users|/64 words per event type, a 64x
    compression of the distinct-user state an OR-less design would
    carry. The settled bitmaps answer the pairwise-overlap report
    batch-exactly (shared oracle with bitmap_type_overlap)."""
    ev = stream_events(spark, sf_dir).select("event_type", "user_id")
    ub = ev.selectExpr(
        "event_type",
        "CAST(user_id DIV 64 AS BIGINT) AS w",
        "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT)) AS bit",
    )
    bm = ub.groupBy("event_type", "w").agg(
        F.expr("bit_or(bit)").alias("bits")
    )
    settled = settle(bm, "complete")
    a = settled.selectExpr("event_type AS type_a", "w", "bits AS ba")
    b = settled.selectExpr("event_type AS type_b", "w", "bits AS bb")
    return (
        a.join(b, "w")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.expr("bit_count(ba & bb)")).cast("long").alias("n_both")
        )
    )


@register(
    "streaming_asof_join",
    tags=("J1", "T1", "T2", "T5", "S1"),
    oracle="""
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
     v AS (SELECT * FROM events WHERE event_type = 'view'),
     wm AS (SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM v))
                   - INTERVAL 1 HOUR - INTERVAL 6 HOUR AS cut),
j AS (
  SELECT p.event_id AS purchase_id, p.user_id,
         p.ts AS p_ts, v.ts AS v_ts, v.event_id AS view_id,
         v.value AS view_value,
         row_number() OVER (
           PARTITION BY p.event_id
           ORDER BY v.ts DESC, v.event_id DESC, v.value DESC
         ) AS rk,
         count(*) OVER (PARTITION BY p.event_id) AS n_views
  FROM p JOIN v
    ON p.user_id = v.user_id
   AND v.ts BETWEEN p.ts - INTERVAL 6 HOUR AND p.ts
)
SELECT purchase_id, user_id,
       epoch_us(p_ts) AS purchase_ts_us,
       epoch_us(v_ts) AS asof_view_ts_us,
       view_id AS asof_view_id,
       round(view_value, 6) AS asof_view_value,
       CAST(n_views AS BIGINT) AS n_views
FROM j
WHERE rk = 1
  AND date_trunc('day', p_ts) + INTERVAL 1 DAY <= (SELECT cut FROM wm)
""",
)
def streaming_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming AS-OF join via CHAINED stateful operators: a
    stream-stream interval join (each purchase against the user's views
    in the preceding 6 hours) feeding a second stateful operator — an
    append-mode windowed aggregation that reduces the matches to the
    single LATEST view per purchase (max over (v_ts, view_id, value)
    structs — deterministic tie-break) plus the in-range view count.
    This is J1's as-of semantics executed end-to-end in Structured
    Streaming, exercising multi-stateful-operator watermark propagation:
    the join delays the purchase-time output watermark by the 6-hour
    join range, so the day window [d, d+1) flushes only once
    min(max p_ts, max v_ts) - 1h - 6h passes d+1 — the oracle reproduces
    exactly that cutoff, checking the real emission semantics, not just
    the join algebra. State on both sides is watermark-bounded; the agg
    keys on (day window, purchase) so its state is bounded by in-flight
    days."""
    ev1 = stream_events(spark, sf_dir)
    ev2 = stream_events(spark, sf_dir)
    p = (
        ev1.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    v = (
        ev2.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("v_ts"),
            F.col("value").alias("view_value"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    joined = p.join(
        v,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 6 HOURS"))
        & (F.col("v_ts") <= F.col("p_ts")),
        "inner",
    )
    # p_ts must leave the grouping (two event-time columns — window +
    # raw — are rejected by the multi-stateful watermark propagation);
    # it is constant per purchase_id, so max() recovers it exactly.
    agg = joined.groupBy(
        F.window("p_ts", "1 day").alias("w"),
        "purchase_id",
        "user_id",
    ).agg(
        F.max("p_ts").alias("p_ts_out"),
        F.max(F.struct("v_ts", "view_id", "view_value")).alias("best"),
        F.count(F.lit(1)).cast("long").alias("n_views"),
    )
    settled = settle(agg, "append")
    return settled.select(
        "purchase_id",
        "user_id",
        F.unix_micros("p_ts_out").alias("purchase_ts_us"),
        F.unix_micros("best.v_ts").alias("asof_view_ts_us"),
        F.col("best.view_id").alias("asof_view_id"),
        round6(F.col("best.view_value")).alias("asof_view_value"),
        "n_views",
    )

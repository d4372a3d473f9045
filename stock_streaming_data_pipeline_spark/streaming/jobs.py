"""The four-query streaming fan-out (the reference's whole topology).

Mirrors ProcessStockStream.py:91-196 Spark-first: one logical trade stream
feeds three concurrent StreamingQuery instances, and a fourth is chained
on the third's output, each with its own output mode, trigger and
checkpoint:

  q1 volume_tracking  — 1-min tumbling agg, 30 s watermark, UPDATE mode,
                        keyed-upsert sink            (:112-129)
  q2 price_tracking   — raw tick projection, UPDATE mode, keyed-upsert
                        sink                         (:132-138)
  q3 features→kafka   — 30s/10s sliding agg, 10 s watermark, APPEND mode,
                        kafka-shaped (key, json value) sink (:143-179)
  q4 feature store    — stateless: streams q3's sink back, parses the
                        JSON value, APPEND mode, parquet partitioned by
                        year/month/day               (:181-191)

The reference computes the sliding features twice (q3 and q4 each run the
aggregation) and its LSTM sidecar consumes them once more from the
``btc_features`` topic. Here q4 is that kind of consumer: it reads q3's
file sink as a stream, so the aggregation and its state exist once, and
the sink's ``_spark_metadata`` log keeps q4 exactly-once (files q3 wrote
but never committed stay invisible), the downstream-query design of the
Structured Streaming paper (SIGMOD 2018). The store therefore holds
exactly the rows q3 published, with q3's batch boundaries and late-row
drops. The JSON value carries ``open`` and ``window_end`` after the
reference's eight fields, so the store keeps all ten feature columns.

Divergences (deliberate, SURVEY §2.5/§4): ``close`` is pinned by event time
(max_by) instead of arrival-order last(); per-batch sink errors propagate
instead of being swallowed.

Scale notes: q1 and q3 shuffle on (window×symbol), q2 and q4 not at all;
state is bounded by the watermarks. On a real cluster each query is an
independent job — checkpoint isolation (one dir per query) is what makes
the fan-out restartable per-query, exactly like the reference's four S3A
checkpoint paths (:128,137,178,190).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from stock_streaming_data_pipeline_spark.operators.ohlc import bar_aggs
from stock_streaming_data_pipeline_spark.streaming import sinks

# The JSON value q3 publishes: the reference's eight fields
# (ProcessStockStream.py:163-172), then ``open`` and ``window_end``. q4 and
# every reader of btc_features parse it with this schema.
FEATURE_SCHEMA = (
    "symbol string, timestamp timestamp, total_usd_volume double, "
    "total_btc_volume double, high double, low double, close double, "
    "num_trades long, open double, window_end timestamp"
)
# What the kafka-shaped sink writes.
KAFKA_SHAPED_SCHEMA = "key string, value string"


@dataclass
class FanOut:
    """Handles for the four running queries + their output locations."""

    out_dir: str
    queries: list[StreamingQuery] = field(default_factory=list)

    def path(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def await_all(self) -> None:
        for q in self.queries:
            q.processAllAvailable()

    def await_any(self, timeout_s: float | None = None) -> bool:
        """Block until any of the four queries terminates —
        ``spark.streams.awaitAnyTermination`` (the reference blocks on four
        sequential awaitTermination calls, ProcessStockStream.py:193-196;
        T10)."""
        if not self.queries:
            return True
        mgr = self.queries[0].sparkSession.streams
        if timeout_s is None:
            mgr.awaitAnyTermination()
            return True
        return mgr.awaitAnyTermination(int(timeout_s * 1000))

    def stop_all(self) -> None:
        for q in self.queries:
            q.stop()


def derive_features(trades: DataFrame, *, window: str, slide: str, watermark: str) -> DataFrame:
    """The 30s/10s sliding feature aggregation (ProcessStockStream.py:143-161)."""
    return (
        trades.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), F.col("symbol"))
        .agg(*bar_aggs("price", "volume", "ts"))
        .select(
            F.col("symbol"),
            F.col("w.start").alias("timestamp"),
            F.col("w.end").alias("window_end"),
            F.col("total_usd_volume"),
            F.col("total_volume").alias("total_btc_volume"),
            "high",
            "low",
            "open",
            "close",
            "num_trades",
        )
    )


def start_fanout(
    trades: DataFrame,
    out_dir: str,
    *,
    tumbling_window: str = "1 minute",
    tumbling_watermark: str = "30 seconds",
    feature_window: str = "30 seconds",
    feature_slide: str = "10 seconds",
    feature_watermark: str = "10 seconds",
    available_now: bool = True,
) -> FanOut:
    """Start all four queries over one streaming trade DataFrame.

    ``available_now=True`` drains the source and settles (test/batch-replay
    mode); set False for continuous micro-batches with the reference's
    processing-time triggers.

    With ``available_now`` q4's file source fixes its end offset when it
    starts, so q4 starts only after q3 has terminated; the call returns
    with all four handles in ``FanOut.queries`` either way. If q3 fails
    while the call waits on it, or q4 fails to start, the queries already
    started are stopped and the error propagates.

    Raises RuntimeError, starting nothing, when ``out_dir/_chk/store``
    exists: that is the checkpoint of the stateful feature_store query that
    aggregated the trade stream itself, before q4 read btc_features.
    """
    fan = FanOut(out_dir)
    legacy = fan.path("_chk/store")
    fs, legacy_path = sinks._hadoop_fs(trades.sparkSession, legacy)
    if fs.exists(legacy_path):
        raise RuntimeError(
            f"{legacy} is the checkpoint of a feature_store query that "
            "aggregated the trade stream itself; feature_store now reads "
            "btc_features, and restarting it next to the old output would "
            "silently skip rows. Migrate by moving "
            f"{fan.path('feature_store')} and {legacy} aside: feature_store "
            "then rebuilds the store from btc_features' history."
        )

    def trigger(writer, processing_time: str):
        if available_now:
            return writer.trigger(availableNow=True)
        return writer.trigger(processingTime=processing_time)

    # q1: tumbling volume → keyed upsert (update mode)
    volume = (
        trades.withWatermark("ts", tumbling_watermark)
        .groupBy(F.window("ts", tumbling_window).alias("w"), F.col("symbol"))
        .agg(
            F.sum("volume").alias("total_volume"),
            F.sum(F.col("price") * F.col("volume")).alias("total_usd_volume"),
        )
        .select(
            "symbol", F.col("w.start").alias("timestamp"),
            "total_volume", "total_usd_volume",
        )
    )
    fan.queries.append(
        trigger(
            volume.writeStream.outputMode("update").foreachBatch(
                sinks.upsert_writer(fan.path("volume_tracking"), ["symbol", "timestamp"])
            ),
            "30 seconds",
        )
        .option("checkpointLocation", fan.path("_chk/volume"))
        .queryName("volume_tracking")
        .start()
    )

    # q2: raw price ticks → keyed upsert (update mode)
    ticks = trades.select(
        "symbol",
        F.col("ts").alias("timestamp"),
        "price",
        (F.col("price") * F.col("volume")).alias("usd_volume"),
    )
    fan.queries.append(
        trigger(
            ticks.writeStream.outputMode("update").foreachBatch(
                sinks.upsert_writer(fan.path("price_tracking"), ["symbol", "timestamp"])
            ),
            "0 seconds",
        )
        .option("checkpointLocation", fan.path("_chk/price"))
        .queryName("price_tracking")
        .start()
    )

    features = derive_features(
        trades, window=feature_window, slide=feature_slide, watermark=feature_watermark
    )

    # q3: features → kafka-shaped (append mode, finalized windows only)
    kafka_out = sinks.kafka_shaped(
        features,
        key="symbol",
        value_struct=[f.split()[0] for f in FEATURE_SCHEMA.split(",")],
    )
    fan.queries.append(
        trigger(kafka_out.writeStream.outputMode("append"), "0 seconds")
        .format("parquet")
        .option("path", fan.path("btc_features"))
        .option("checkpointLocation", fan.path("_chk/features"))
        .queryName("btc_features")
        .start()
    )

    # q4: q3's committed output → partitioned feature store (append mode,
    # stateless; q3's sink log decides what q4 sees)
    try:
        if available_now:
            fan.queries[-1].awaitTermination()
        published = (
            trades.sparkSession.readStream.schema(KAFKA_SHAPED_SCHEMA)
            .parquet(fan.path("btc_features"))
            .select(F.from_json("value", FEATURE_SCHEMA).alias("v"))
            .select("v.*")
        )
        store = sinks.with_date_partitions(published.select(*features.columns), "timestamp")
        fan.queries.append(
            trigger(store.writeStream.outputMode("append"), "5 minutes")
            .format("parquet")
            .partitionBy("year", "month", "day")
            .option("path", fan.path("feature_store"))
            .option("checkpointLocation", fan.path("_chk/feature_store"))
            .queryName("feature_store")
            .start()
        )
    except BaseException:
        fan.stop_all()
        raise
    return fan

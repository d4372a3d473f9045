"""High-level pipeline facade — the reference's ``StreamingJob`` surface.

A user of the reference drives one class (scripts/StreamProcessing/
ProcessStockStream.py:StreamingJob: __init__ builds the session, run()
starts the four queries and blocks). This facade offers the same shape on
this engine, composed from the underlying modules:

    pipe = StockPipeline(source_dir=..., out_dir=...)
    pipe.run(blocking=False)     # start the 4-query fan-out
    pipe.price_tracking()        # resolved keyed table (Cassandra-read parity)
    pipe.volume_tracking()
    pipe.features()              # kafka-shaped payloads, parsed
    pipe.stop()

Differences from the reference, on purpose: deterministic event-time
close, no swallowed sink errors, parquet instead of CSV, any directory
instead of S3A (paths are plain URIs — s3a:// works unchanged when the
hadoop-aws jars are present).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from stock_streaming_data_pipeline_spark.session import configure_session, get_spark
from stock_streaming_data_pipeline_spark.sources.streams import stream_trades
from stock_streaming_data_pipeline_spark.streaming import sinks
from stock_streaming_data_pipeline_spark.streaming.jobs import (
    FEATURE_SCHEMA,
    KAFKA_SHAPED_SCHEMA,
    FanOut,
    start_fanout,
)

# What the feature store's files hold, so a read plans without a
# schema-inference job: derive_features' columns as parsed back from
# btc_features' JSON, the hour column, then the partition columns.
_FEATURE_STORE_SCHEMA = (
    "symbol string, timestamp timestamp, window_end timestamp, "
    "total_usd_volume double, total_btc_volume double, high double, "
    "low double, open double, close double, num_trades long, "
    "hour int, year int, month int, day int"
)


class StockPipeline:
    """The four-query stock pipeline over a trade stream."""

    def __init__(
        self,
        *,
        source_dir: str,
        out_dir: str,
        spark: SparkSession | None = None,
        tumbling_window: str = "1 minute",
        tumbling_watermark: str = "30 seconds",
        feature_window: str = "30 seconds",
        feature_slide: str = "10 seconds",
        feature_watermark: str = "10 seconds",
    ) -> None:
        self.spark = configure_session(spark or get_spark("stock_pipeline"))
        self.source_dir = source_dir
        self.out_dir = out_dir
        self._conf = dict(
            tumbling_window=tumbling_window,
            tumbling_watermark=tumbling_watermark,
            feature_window=feature_window,
            feature_slide=feature_slide,
            feature_watermark=feature_watermark,
        )
        self.fan: FanOut | None = None

    # -- lifecycle (ProcessStockStream.py run()/awaitTermination parity) --

    def run(self, *, blocking: bool = False, available_now: bool = True) -> "StockPipeline":
        trades = stream_trades(self.spark, self.source_dir)
        self.fan = start_fanout(
            trades, self.out_dir, available_now=available_now, **self._conf
        )
        if available_now:
            self.fan.await_all()
        elif blocking:
            self.fan.await_any()
        return self

    def stop(self) -> None:
        if self.fan:
            self.fan.stop_all()

    def _path(self, table: str) -> str:
        if self.fan is None:
            raise RuntimeError("StockPipeline.run() must be called first")
        return self.fan.path(table)

    # -- read-side (Grafana/consumer parity) --

    def _resolved(self, table: str) -> DataFrame:
        return sinks.read_upsert_table(
            self.spark, self._path(table), ["symbol", "timestamp"]
        )

    def price_tracking(self) -> DataFrame:
        return self._resolved("price_tracking")

    def volume_tracking(self) -> DataFrame:
        return self._resolved("volume_tracking")

    def features(self) -> DataFrame:
        """btc_features payloads parsed back from the kafka-shaped sink
        (the predictor-consumer view, BtcPrediction/kafka.py:13)."""
        from pyspark.sql import functions as F

        raw = sinks.read_file_sink(
            self.spark, self._path("btc_features"), KAFKA_SHAPED_SCHEMA
        )
        return raw.select(
            F.from_json("value", FEATURE_SCHEMA).alias("v")
        ).select("v.*")

    def feature_store(self) -> DataFrame:
        return sinks.read_file_sink(
            self.spark, self._path("feature_store"), _FEATURE_STORE_SCHEMA
        )

    def compact(self) -> None:
        """Maintenance: compact both keyed-upsert tables, dropping keys
        whose latest write is a delete."""
        for t in ("price_tracking", "volume_tracking"):
            sinks.compact_upsert_table(
                self.spark, self._path(t), ["symbol", "timestamp"]
            )

"""Streaming source builders.

The reference reads one Kafka topic (ProcessStockStream.py:93-98). The
engine's streaming jobs are source-agnostic: any streaming DataFrame with
the trade schema works. In this environment the Kafka connector jar is not
on the classpath, so tests and the catalog drive the jobs with the file
source (parquet directory replay) — the planner-facing semantics
(watermarks, windows, output modes, state) are identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stock_streaming_data_pipeline_spark.tables import (
    _timestamp_read_confs,
    read_parquet,
    table_path,
)


def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


# events.parquet physical schema with ts as raw nanos (round-1 testdata
# generation; see tables.load_table).
EVENTS_NANOS_SCHEMA = _events_schema(T.LongType())

TRADES_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("volume", T.DoubleType()),
    ]
)


def _stream_table(
    spark: SparkSession, sf_dir: str, name: str, schema: T.StructType
) -> DataFrame:
    """File stream over one testdata table. The file source requires a
    directory: the driver's testdata ships ``<name>.parquet`` as a single
    FILE inside the sf dir (scope the listing with a glob), generated
    tiers (.scaletier) ship it as a DIRECTORY of part files (stream that
    directory itself; a filename glob on the parent would match no files
    and replay nothing)."""
    p = table_path(sf_dir, name)
    r = spark.readStream.schema(schema)
    if os.path.isdir(p):
        return r.parquet(p)
    return r.option("pathGlobFilter", os.path.basename(p)).parquet(sf_dir)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming view of the events table (file source), normalized to the
    same schema as the batch loader (ts → TIMESTAMP in micros)."""
    _timestamp_read_confs(spark)
    # Streaming reads need an explicit schema; probe the (cached) batch
    # schema for the testdata generation's physical ts type (raw nano-long
    # vs micros).
    stored = read_parquet(spark, table_path(sf_dir, "events")).schema["ts"].dataType
    if isinstance(stored, T.LongType):
        raw = _stream_table(spark, sf_dir, "events", EVENTS_NANOS_SCHEMA)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return _stream_table(spark, sf_dir, "events", _events_schema(T.TimestampType()))


def stream_trades(
    spark: SparkSession,
    trades_dir: str,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming view of a synthetic trades directory (sources/trades.py).

    ``max_files_per_trigger`` paces the replay into real micro-batches
    (availableNow honors it as maxFilesPerTrigger) — without it the file
    source drains everything in one batch, which hides per-batch latency
    tails and makes mid-stream fault injection impossible."""
    r = spark.readStream.schema(TRADES_SCHEMA)
    if max_files_per_trigger is not None:
        r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return r.parquet(trades_dir)


def events_as_trades(events: DataFrame) -> DataFrame:
    """Map the events stream onto the trade contract (FIXTURES.md §5):
    event_type→symbol, value→price, props.k→volume."""
    return events.select(
        F.col("event_type").alias("symbol"),
        F.col("ts"),
        F.col("value").alias("price"),
        F.get_json_object("props", "$.k").cast("double").alias("volume"),
    )


DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming view of the documents table (file source) — the
    ingest-time shape of a curation pipeline: documents arrive as files
    land, and scoring/filter stages run per micro-batch."""
    return _stream_table(spark, sf_dir, "documents", DOCUMENTS_SCHEMA)

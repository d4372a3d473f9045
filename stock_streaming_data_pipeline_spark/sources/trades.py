"""Synthetic trade generation (test fixture, FIXTURES.md §1).

Replaces the reference's Finnhub websocket producer (FinnhubProducer.py) —
out of engine scope as a transport, but its *data contract* (trade ticks
with per-symbol cumulative volume) and envelope shape (Avro
``{data: array<trade>, type}``, trades.avsc:1-55) are reproduced so the
decode/explode surface (S2/P2) is exercised without Kafka.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def synthetic_trades(
    spark: SparkSession,
    *,
    n_rows: int = 10_000,
    symbols: tuple[str, ...] = ("BTCUSDT", "ETHUSDT", "SOLUSDT"),
    start: str = "2024-01-01 00:00:00",
    cadence_ms: int = 250,
    late_fraction: float = 0.03,
    late_by_s: int = 45,
) -> DataFrame:
    """Deterministic trade ticks: bounded-random-walk price per symbol,
    log-uniform-ish volume, a fraction of late rows (5-60 s behind max
    seen) to exercise watermarks. Pure Spark expressions over range() —
    no driver-side data generation, so it scales to any n_rows."""
    n_sym = len(symbols)
    sym_expr = F.array(*[F.lit(s) for s in symbols])[
        (F.col("id") % n_sym).cast("int")
    ]
    # Deterministic pseudo-noise in [0,1): fractional part of sin-based hash.
    noise = lambda salt: (  # noqa: E731
        F.abs(F.sin(F.col("id") * F.lit(12.9898 + salt) + F.lit(78.233))) * 43758.5453
    ) % 1.0
    base_ts = F.lit(start).cast("timestamp")
    late = (noise(3) < late_fraction).cast("int")
    offset_ms = F.col("id") * cadence_ms - late * F.lit(late_by_s * 1000)
    price_seed = 100.0 * (1 + (F.col("id") % n_sym).cast("double"))
    walk = F.sin(F.col("id").cast("double") / 50.0) * 5.0 + (noise(1) - 0.5) * 2.0
    df = (
        spark.range(n_rows)
        .select(
            sym_expr.alias("symbol"),
            F.timestamp_millis(
                (F.unix_millis(base_ts) + offset_ms).cast("long")
            ).alias("ts"),
            (price_seed + walk).alias("price"),
            F.round(F.pow(F.lit(10.0), noise(2) * 3 - 4), 6).alias("volume"),
        )
    )
    return df


def write_trades_dir(
    spark: SparkSession, path: str, *, files: int = 4, **kwargs
) -> DataFrame:
    """Materialize synthetic trades as a multi-file parquet dir so the file
    stream source replays them across micro-batches."""
    df = synthetic_trades(spark, **kwargs)
    df.repartition(files).write.mode("overwrite").parquet(path)
    return df


def to_envelopes(trades: DataFrame, *, batch_seconds: int = 5) -> DataFrame:
    """Pack ticks into the reference's Kafka message envelope
    ``{data: array<trade struct>, type: 'trade'}`` (trades.avsc:7-48)."""
    return (
        trades.groupBy(
            F.window("ts", f"{batch_seconds} seconds").alias("w"), F.col("symbol")
        )
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts", "symbol", "price", "volume"))
            ).alias("data")
        )
        .select(F.col("data"), F.lit("trade").alias("type"))
    )


def explode_envelopes(envelopes: DataFrame) -> DataFrame:
    """Decode side (ProcessStockStream.py:102-109): explode the array back
    to one row per trade and re-project the flat columns."""
    return (
        envelopes.filter(F.col("type") == "trade")
        .select(F.explode("data").alias("t"))
        .select("t.symbol", "t.ts", "t.price", "t.volume")
    )

"""Market-analytics operators over a trade-shaped stream.

The reference pipeline's analytical surface stops at OHLC bars and
cumulative volume (ProcessStockStream.py:143-161); these are the next
queries a user of a stock pipeline runs on the same tick schema —
VWAP bars, rolling inter-symbol correlation, max drawdown, robust
(median/MAD) outlier detection.

Numeric design shared by all four (same discipline as the z-score op in
plans/stock.py): measures are first snapped to EXACT integers (cents /
milli-units, SQL half-away rounding), every sum is computed over those
integers (bigint / DECIMAL(38,0) — order-insensitive by construction),
and only the final ratio expressions run in floating point, rounded to 6
decimals. That makes each operator's output bit-identical across engines
and across partitionings — a differential-oracle-able definition of
correctness that also removes any dependence on Spark's aggregation
order at scale.

Scale shape: every operator here is one partial-aggregated groupBy (or
one keyed window over per-key-sorted data) on the fact table; per-key
statistics are tiny and broadcast back when a second pass needs them.
No UDFs anywhere — all expressions stay inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.functions.scalars import (
    dec38,
    half_away,
    round6,
)


def vwap_bars(
    trades: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
    price_col: str = "value",
    qty_col: str = "volume",
    bucket: str = "hour",
) -> DataFrame:
    """Volume-weighted average price per key per time bucket.

    price → cents, qty → micro-units; the price×qty inner products and
    the qty totals accumulate as DECIMAL(38,0) (exact at any row count —
    a 100 TB day of ticks cannot overflow 38 digits), so the final
    vwap division is one double op on identical operands in any engine.
    One partial-aggregated shuffle on (key, bucket).
    """
    p = half_away(price_col, 2)
    q = half_away(qty_col, 6)
    return (
        trades.filter(F.col(price_col).isNotNull() & F.col(qty_col).isNotNull())
        .groupBy(
            F.col(key_col).alias("key"),
            F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts"),
        )
        .agg(
            F.sum(dec38(p * q)).alias("s_pq"),
            F.sum(dec38(q)).alias("s_q"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .filter(F.col("s_q") > 0)
        .select(
            "key",
            F.unix_timestamp("bucket_ts").alias("bucket_s"),
            round6(
                F.col("s_pq").cast("double")
                / F.col("s_q").cast("double")
                / F.lit(100.0)
            ).alias("vwap"),
            "n_trades",
        )
    )


def hourly_means_milli(
    trades: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
    price_col: str = "value",
) -> DataFrame:
    """Per (key, hour) mean price snapped to an exact milli-unit BIGINT:
    sum/count accumulate as integers, the one mean division runs in
    double, and the result is re-snapped half-away to milli. The exact
    integer grid is what makes downstream rolling moments portable."""
    cents = half_away(price_col, 2)
    return (
        trades.filter(F.col(price_col).isNotNull())
        .groupBy(
            F.col(key_col).alias("key"),
            F.date_trunc("hour", F.col(ts_col)).alias("bucket_ts"),
        )
        .agg(F.sum(cents).alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "key",
            "bucket_ts",
            half_away(
                F.col("s").cast("double") / F.col("n").cast("double"), 1
            ).alias("mean_milli"),
        )
    )


def rolling_corr(
    aligned: DataFrame,
    *,
    ts_col: str = "bucket_ts",
    x_col: str = "x_milli",
    y_col: str = "y_milli",
    frame: int = 24,
    pair_col: str | None = None,
) -> DataFrame:
    """Trailing-``frame``-bar Pearson correlation between two exact-integer
    series already aligned on a shared time grid (one row per bucket,
    or per (pair, bucket) when ``pair_col`` names a pair-id column).

    All five rolling moments (Σx, Σy, Σxy, Σx², Σy²) are BIGINT sums over
    milli-scaled integers — Spark's sliding frame and DuckDB's segment
    tree add them in different orders, but integer addition commutes
    exactly, so the correlation formula sees identical operands. Only
    full frames emit (n = frame).

    Scale shape: the scale dimension of rolling correlation is the NUMBER
    of pairs, not the grid length (an hourly grid is ~9k rows/year —
    bounded), so ``pair_col`` is the window partition key and the op
    distributes across however many pairs exist. The single-pair form
    (pair_col=None) is a deliberate one-partition window over a bounded
    grid.
    """
    base = Window.partitionBy(pair_col) if pair_col else Window.partitionBy()
    w = base.orderBy(F.col(ts_col)).rowsBetween(
        -(frame - 1), Window.currentRow
    )
    x = F.col(x_col)
    y = F.col(y_col)
    moments = (
        aligned.withColumn("n", F.count(F.lit(1)).over(w))
        .withColumn("sx", F.sum(x).over(w))
        .withColumn("sy", F.sum(y).over(w))
        .withColumn("sxy", F.sum(x * y).over(w))
        .withColumn("sxx", F.sum(x * x).over(w))
        .withColumn("syy", F.sum(y * y).over(w))
        .filter(F.col("n") == frame)
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    cov = F.col("sxy").cast("double") - sx * sy / n
    vx = F.col("sxx").cast("double") - sx * sx / n
    vy = F.col("syy").cast("double") - sy * sy / n
    out = [
        F.unix_timestamp(ts_col).alias("bucket_s"),
        round6(cov / F.sqrt(vx * vy)).alias("corr"),
    ]
    if pair_col:
        out.insert(0, F.col(pair_col))
    return moments.select(*out)


def max_drawdown(
    trades: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
    price_col: str = "value",
) -> DataFrame:
    """Maximum peak-to-trough drawdown per key over its full history.

    Prices snap to cents; the running peak is an integer MAX (exact);
    drawdown per tick = (peak − price)/peak as one double expression on
    integer operands, rounded to 6. The trough report picks the earliest
    tick achieving the max (deterministic tie-break).

    Plan: one window (partitioned by key, ordered by time — the running
    peak), then a per-key agg. The running-max window is the same W1
    shape covered by the salted variant in operators/running.py if a
    single key ever dominates.
    """
    cents = half_away(price_col, 2)
    base = trades.filter(F.col(price_col).isNotNull()).select(
        F.col(key_col).alias("key"),
        F.col(ts_col).alias("ts"),
        cents.alias("cents"),
    )
    w = (
        Window.partitionBy("key")
        .orderBy("ts", "cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = base.withColumn("peak", F.max("cents").over(w)).withColumn(
        "dd",
        round6(
            (F.col("peak") - F.col("cents")).cast("double")
            / F.col("peak").cast("double")
        ),
    )
    per_key = dd.groupBy("key").agg(F.max("dd").alias("max_drawdown"))
    trough = (
        dd.join(per_key, ["key"])
        .filter(F.col("dd") == F.col("max_drawdown"))
        .groupBy("key", "max_drawdown")
        .agg(
            F.min(F.unix_micros("ts")).alias("trough_us"),
        )
    )
    return trough.select("key", "max_drawdown", "trough_us")


def mad_outliers(
    trades: DataFrame,
    *,
    key_col: str = "event_type",
    id_col: str = "event_id",
    price_col: str = "value",
    cutoff: float = 3.5,
) -> DataFrame:
    """Robust outlier detection: modified z-score 0.6745·(x−med)/MAD.

    Median and MAD are exact interpolated percentiles (the same
    percentile↔quantile_cont parity the winsorize op relies on), each
    rounded to 6 decimals BEFORE reuse so both engines feed identical
    doubles forward. Two tiny per-key aggs broadcast back onto the fact
    scan — the facts never shuffle.
    """
    ev = trades.filter(F.col(price_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(key_col).alias("key"),
        F.col(price_col).alias("x"),
    )
    med = ev.groupBy("key").agg(
        F.round(F.expr("percentile(x, 0.5)"), 6).alias("med")
    )
    dev = ev.join(F.broadcast(med), "key").withColumn(
        "adev", F.abs(F.col("x") - F.col("med"))
    )
    mad = dev.groupBy("key").agg(
        F.round(F.expr("percentile(adev, 0.5)"), 6).alias("mad")
    )
    # MAD == 0 (an over-half-constant key) has no robust scale: such keys
    # emit no outliers rather than dividing by zero (ANSI-safe).
    mad = mad.filter(F.col("mad") > 0)
    scored = dev.join(F.broadcast(mad), "key").withColumn(
        "robust_z",
        round6(F.lit(0.6745) * (F.col("x") - F.col("med")) / F.col("mad")),
    )
    return scored.filter(F.abs(F.col("robust_z")) > cutoff).select(
        "id", "key", round6(F.col("x")).alias("x"), "robust_z"
    )

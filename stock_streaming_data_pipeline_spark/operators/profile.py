"""Data-profiling + feature-scaling operators (SURVEY.md A6/A8).

Reference semantics: ``df.isnull().sum()`` quality checks
(training_code/clean_data.ipynb cells 1,6,10) and MinMaxScaler
fit/transform (train_model.ipynb cell 3; applied online
BtcPrediction/predict_btc.py:40,43).

Both are pure built-ins: the null profile is one all-column aggregate
(single reduce, no shuffle of raw rows); min-max scaling is a grouped
min/max broadcast back over the rows — expressed as an unordered window
over the key partition so Catalyst plans it as one shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def null_profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """One row: per-column null counts + total row count (A6)."""
    cols = cols or df.columns
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}")
            for c in cols
        ],
    )


def minmax_scale(
    df: DataFrame,
    *,
    key: str,
    cols: list[str],
    suffix: str = "_scaled",
) -> DataFrame:
    """Min-max scale ``cols`` to [0,1] per ``key``: an unordered window
    over the key partition, one shuffle of the data.

    Constant columns scale to 0.0 (the reference's scaler divides by zero
    there; we pin a defined value instead).
    """
    w = Window.partitionBy(key)
    out = df
    for c in cols:
        lo, hi = F.min(c).over(w), F.max(c).over(w)
        span = hi - lo
        out = out.withColumn(
            f"{c}{suffix}",
            F.when(span == 0, F.lit(0.0)).otherwise((F.col(c) - lo) / span),
        )
    return out


def exact_median_two_scan(
    df: DataFrame, *, key: str, value: str, bins: int = 1024
) -> DataFrame:
    """EXACT per-key lower median without a global sort — the classic
    two-scan selection pattern for data that cannot be sorted in one
    task:

    1. scan 1 histograms each key's values into ``bins`` equi-width
       buckets (map-combined groupBy; bin windows run over <= ``bins``
       rows per key) and locates the bucket containing the k-th
       smallest element (k = (n+1) div 2, the lower median — an actual
       data element, so both engines return the SAME bits);
    2. scan 2 touches ONLY the target bucket's rows (expected n/bins of
       the data), counts distinct values, and elects the smallest value
       whose running count reaches k with one min(struct) per key.

    Determinism: bucket ids are a shared double expression of (value,
    min, max); elections are struct-min with value tie-breaks; no
    floating accumulation anywhere. Worst case (all values in one
    bucket) degrades to a per-key distinct-value window — the
    running_sum_salted escape hatch applies if a key's within-bucket
    value domain is itself hot.

    Returns (key, n, median) with median the selected element.
    """
    base = df.select(F.col(key).alias("k"), F.col(value).alias("v")).filter(
        F.col("v").isNotNull()
    )
    bounds = base.groupBy("k").agg(
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    binned = base.join(F.broadcast(bounds), "k").withColumn(
        "b",
        F.when(F.col("vmax") == F.col("vmin"), F.lit(0)).otherwise(
            F.least(
                F.floor(
                    (F.col("v") - F.col("vmin"))
                    / ((F.col("vmax") - F.col("vmin")) / bins)
                ).cast("long"),
                F.lit(bins - 1),
            )
        ),
    )
    hist = binned.groupBy("k", "b").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wb = Window.partitionBy("k").orderBy("b")
    cum = hist.select(
        "k", "b", "c", F.sum("c").over(wb).cast("long").alias("cle")
    )
    kth = bounds.select(
        "k", "n", ((F.col("n") + 1) / 2).cast("long").alias("kk")
    )
    target = (
        cum.join(F.broadcast(kth), "k")
        .filter(F.col("cle") >= F.col("kk"))
        .groupBy("k")
        .agg(F.min(F.struct(F.col("b"), (F.col("cle") - F.col("c")).alias("before"))).alias("t"))
        .select("k", F.col("t.b").alias("tb"), F.col("t.before").alias("before"))
    )
    inbin = (
        binned.join(F.broadcast(target), "k")
        .filter(F.col("b") == F.col("tb"))
        .groupBy("k", "before", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("cv"))
    )
    wv = Window.partitionBy("k").orderBy("v")
    ranked = inbin.select(
        "k",
        "v",
        (F.col("before") + F.sum("cv").over(wv)).cast("long").alias("reach"),
    )
    elected = (
        ranked.join(F.broadcast(kth), "k")
        .filter(F.col("reach") >= F.col("kk"))
        .groupBy("k", "n")
        .agg(F.min("v").alias("median"))
    )
    return elected.select(F.col("k").alias(key), "n", "median")


def exact_quantiles_two_scan(
    df: DataFrame,
    *,
    key: str,
    value: str,
    quantiles: tuple = (0.5, 0.95, 0.99),
    bins: int = 1024,
) -> DataFrame:
    """EXACT per-key quantiles (lower / type-1 definition: the element at
    position ceil(q*n)) for SEVERAL q at once, still in TWO scans — the
    :func:`exact_median_two_scan` pattern generalized: scan 1's
    histogram locates every quantile's target bucket simultaneously,
    scan 2 touches only the union of target buckets (a few n/bins
    slices). The p99 of a latency column at any scale without a sort is
    the canonical use. Returns (key, q_pct, n, value) — q_pct is the
    quantile in integer percent (50, 95, 99: exact-integer group keys,
    no float keys in a groupBy).
    """
    qs = [(int(round(q * 100)), q) for q in quantiles]
    base = df.select(F.col(key).alias("k"), F.col(value).alias("v")).filter(
        F.col("v").isNotNull()
    )
    bounds = base.groupBy("k").agg(
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    binned = base.join(F.broadcast(bounds), "k").withColumn(
        "b",
        F.when(F.col("vmax") == F.col("vmin"), F.lit(0)).otherwise(
            F.least(
                F.floor(
                    (F.col("v") - F.col("vmin"))
                    / ((F.col("vmax") - F.col("vmin")) / bins)
                ).cast("long"),
                F.lit(bins - 1),
            )
        ),
    )
    hist = binned.groupBy("k", "b").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wb = Window.partitionBy("k").orderBy("b")
    cum = hist.select(
        "k", "b", "c", F.sum("c").over(wb).cast("long").alias("cle")
    )
    # one (key, q) target row per quantile: kk = ceil(q*n) in exact
    # integer arithmetic ((n*pct + 99) div 100)
    qdf = F.explode(
        F.array(*[F.lit(p) for p, _ in qs])
    ).alias("q_pct")
    kth = bounds.select("k", "n", qdf).withColumn(
        "kk", ((F.col("n") * F.col("q_pct") + 99) / 100).cast("long")
    )
    target = (
        cum.join(F.broadcast(kth), "k")
        .filter(F.col("cle") >= F.col("kk"))
        .groupBy("k", "q_pct", "n", "kk")
        .agg(
            F.min(
                F.struct(F.col("b"), (F.col("cle") - F.col("c")).alias("before"))
            ).alias("t")
        )
        .select(
            "k",
            "q_pct",
            "n",
            "kk",
            F.col("t.b").alias("tb"),
            F.col("t.before").alias("before"),
        )
    )
    inbin = (
        binned.join(
            F.broadcast(target.select("k", "q_pct", "kk", "tb", "before")),
            "k",
        )
        .filter(F.col("b") == F.col("tb"))
        .groupBy("k", "q_pct", "kk", "before", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("cv"))
    )
    wv = Window.partitionBy("k", "q_pct").orderBy("v")
    ranked = inbin.select(
        "k",
        "q_pct",
        "kk",
        "v",
        (F.col("before") + F.sum("cv").over(wv)).cast("long").alias("reach"),
    )
    return (
        ranked.filter(F.col("reach") >= F.col("kk"))
        .groupBy("k", "q_pct")
        .agg(F.min("v").alias("qv"))
        .join(F.broadcast(bounds.select("k", "n")), "k")
        .select(F.col("k").alias(key), "q_pct", "n", F.col("qv").alias("value"))
    )

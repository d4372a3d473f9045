"""Per-key running-state operators (SURVEY.md §2.6 W1-W3, §2.5 A3).

The reference keeps this state *outside* Spark — a producer-side dict for
cumulative volume (FinnhubProducer.py:34-36) and a pandas FIFO for the
100-row lookback (BtcPrediction/kafka.py:51-57). In-engine, batch form =
window functions (one shuffle on the key, sorted within partitions);
streaming form = applyInPandasWithState (streaming/state.py).

Scale notes: Window.partitionBy(key) is a single hash shuffle; skewed keys
are handled by AQE only for joins/aggs, so a genuinely hot key in a window
function is a real hazard at 100 TB. :func:`running_sum_salted` implements
the two-phase mitigation (contiguous time segments + offset join) for the
W1 shape; for other window ops, bucketed pre-partitioning on the key or
upstream hot-key splitting remain the fallbacks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.operators.checkpoint import materialize


def _ordered_window(key: str, ts: str, *tiebreak: str):
    return Window.partitionBy(key).orderBy(ts, *tiebreak)


def running_sum(
    df: DataFrame,
    *,
    key: str,
    ts: str,
    value: str,
    out: str = "cumulative",
    tiebreak: tuple[str, ...] = (),
) -> DataFrame:
    """Per-key running cumulative sum, monotone in event time (W1/A3)."""
    w = _ordered_window(key, ts, *tiebreak).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(out, F.sum(value).over(w))


def running_sum_salted(
    df: DataFrame,
    *,
    key: str,
    ts: str,
    value: str,
    out: str = "cumulative",
    tiebreak: tuple[str, ...] = (),
    segment=None,
) -> DataFrame:
    """Hot-key-safe running cumulative sum: the two-phase distributed
    prefix sum. :func:`running_sum` funnels ALL of a key's rows through
    one task (Window.partitionBy(key) has no AQE skew splitting), so a
    90 %-skew key serializes the whole stage at 100 TB. This variant:

    1. splits each key's timeline into contiguous segments via
       ``segment`` — any monotone non-decreasing function of ``ts``
       (default: calendar day) — and cumsums locally per (key, segment):
       the hot key's rows now spread across as many tasks as it has
       segments;
    2. aggregates per-segment totals (one row per (key, segment) — a
       relation ~|keys|x|segments|, tiny next to the fact) and computes
       each segment's starting offset with an ordered window over that
       SMALL relation;
    3. joins the offsets back (broadcast/AQE-sized — no hard hint) and
       adds them to the local prefix.

    Result rows equal :func:`running_sum` exactly for exact-typed values
    (DECIMAL/ints); for floats the offset+local reassociation can differ
    from the straight fold in the last ulp — cast to DECIMAL first when
    bit-parity matters (the catalog query does).

    Equivalence with the plain form and the partition spread are pinned
    in tests/test_scale_ops.py.
    """
    seg_col = F.to_date(F.col(ts)) if segment is None else segment
    b = df.withColumn("_seg", seg_col)
    w_local = (
        Window.partitionBy(key, "_seg")
        .orderBy(ts, *tiebreak)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = b.withColumn("_local", F.sum(value).over(w_local))
    seg_totals = b.groupBy(key, "_seg").agg(F.sum(value).alias("_seg_total"))
    w_seg = (
        Window.partitionBy(key)
        .orderBy("_seg")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = seg_totals.select(
        key,
        "_seg",
        F.sum("_seg_total").over(w_seg).alias("_offset"),
    )
    return (
        local.join(offsets, [key, "_seg"])
        .withColumn(
            out,
            F.when(F.col("_offset").isNull(), F.col("_local")).otherwise(
                F.col("_local") + F.col("_offset")
            ),
        )
        .drop("_seg", "_local", "_offset")
    )


def trailing_agg(
    df: DataFrame,
    *,
    key: str,
    ts: str,
    value: str,
    rows: int,
    out_prefix: str = "trailing",
    tiebreak: tuple[str, ...] = (),
) -> DataFrame:
    """Fixed N-row trailing frame per key (W2): avg/min/max/count over the
    last ``rows`` rows including current."""
    w = _ordered_window(key, ts, *tiebreak).rowsBetween(-(rows - 1), 0)
    return (
        df.withColumn(f"{out_prefix}_avg", F.avg(value).over(w))
        .withColumn(f"{out_prefix}_min", F.min(value).over(w))
        .withColumn(f"{out_prefix}_max", F.max(value).over(w))
        .withColumn(f"{out_prefix}_n", F.count(F.lit(1)).over(w))
    )


def latest_per_key(df: DataFrame, *, key: str, ts: str, values: list[str]) -> DataFrame:
    """Last row per key by event time (W3/O2) as a grouped max_by — a single
    partial-aggregatable shuffle, cheaper than row_number over a sorted
    window at scale."""
    aggs = [F.max(ts).alias(ts)] + [
        F.expr(f"max_by({v}, {ts})").alias(v) for v in values
    ]
    return df.groupBy(key).agg(*aggs)


def ordered_split(
    df: DataFrame,
    *,
    key: str,
    ts: str,
    train_fraction: float = 0.8,
    out: str = "split",
) -> DataFrame:
    """Deterministic time-ordered train/test split per key (O3) — the
    reference splits its feature export by position, not randomly
    (train_model.ipynb cell 4)."""
    w = _ordered_window(key, ts)
    counts = Window.partitionBy(key)
    return df.withColumn(
        out,
        F.when(
            F.row_number().over(w) <= F.ceil(F.count(F.lit(1)).over(counts) * F.lit(train_fraction)),
            F.lit("train"),
        ).otherwise(F.lit("test")),
    )


def ewma(
    df: DataFrame,
    *,
    key: str,
    order: tuple[str, ...],
    value_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Exponentially weighted moving average per key:
    ``y_1 = x_1;  y_t = alpha*x_t + (1-alpha)*y_{t-1}``.

    Every row depends on the previous OUTPUT, not on a fixed frame of
    inputs, so no built-in window function expresses it — this is the
    canonical case for the (b)-tier custom operator: ``applyInPandas``
    over the key (one hash shuffle; per-key state is one double, so a
    1000-executor cluster scales by key cardinality). The fold is an
    explicit scalar float64 loop, NOT ``pandas.ewm`` — ewm's kernel
    normalizes through a running weight and is not bitwise the textbook
    recursion, and bitwise reproducibility is what lets the DuckDB
    recursive-CTE oracle replay the identical IEEE operation sequence.

    ``order`` must be a deterministic total order within each key (pass a
    unique tiebreaker); all ``order``/``value`` columns must be numeric
    (timestamps pre-converted to epoch ints).
    """
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    cols = [key, *order, value_col]
    src = df.select(*cols)
    schema = StructType(
        [src.schema[c] for c in cols] + [StructField("ewma_raw", DoubleType())]
    )
    a = float(alpha)
    one_minus_a = 1.0 - a
    order_cols = list(order)

    def fold(pdf):
        pdf = pdf.sort_values(order_cols, kind="mergesort").reset_index(drop=True)
        xs = pdf[value_col].to_numpy(dtype="float64")
        out = np.empty(len(xs), dtype="float64")
        y = 0.0
        for i, x in enumerate(xs):
            y = x if i == 0 else a * x + one_minus_a * y
            out[i] = y
        pdf["ewma_raw"] = out
        return pdf

    return src.groupBy(key).applyInPandas(fold, schema=schema)


def global_rank(
    df: DataFrame,
    *,
    order_col: str,
    id_col: str,
    out: str = "rank",
) -> DataFrame:
    """Distributed GLOBAL row rank (dense total order by
    ``(order_col, id_col)``) without the single-task global window:
    the two-phase pattern of :func:`running_sum_salted` applied to
    ranking.

    1. range-repartition on the total order — every partition holds a
       contiguous value range, ties split deterministically by the
       unique ``id_col``;
    2. rank locally per partition (parallel across the range splits);
    3. offset each partition's local ranks by the count of rows in the
       partitions below it — a window over ONE ROW PER PARTITION
       (bounded by the cluster's partition count, the same
       bounded-domain exemption as the salted prefix sum's segment
       table).

    Output ranks depend only on the total order, not on where the
    sampled range boundaries land, so results are deterministic even
    though repartitionByRange samples. Equivalence with the
    single-window form is pinned in tests/test_scale_ops.py.
    """
    spark = df.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    b = df.repartitionByRange(n_part, F.col(order_col), F.col(id_col)).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("_pid").orderBy(order_col, id_col)
    # MATERIALIZE the _pid-stamped ranks before branching: the counts
    # branch and the output join both consume `local`, and under AQE the
    # two branches may coalesce the range shuffle DIFFERENTLY, so
    # spark_partition_id() — nondeterministic by definition — can
    # disagree between them; offsets then join against the wrong
    # partitions and the global ranks silently skew (caught by the RFM
    # sf0.1 differential: plausible 1..n permutation, wrong order). The
    # checkpoint pins one physical partitioning for both consumers.
    local = materialize(
        b.withColumn("_lrn", F.row_number().over(w_local)), eager=False
    )
    counts = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    w_off = (
        Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out, (F.col("_lrn") + F.col("_off")).cast("long"))
        .drop("_pid", "_lrn", "_off")
    )

"""As-of (most-recent-match) join — SURVEY.md §2.4 J1.

Reference shape: predictions written at t+10s are later aligned with the
actual price at the same (symbol, timestamp) key (BtcPrediction/
predict_btc.py:64-91); the general form is "for each left row, the latest
right row with right.ts <= left.ts for the same key".

Spark has no native as-of join. The scalable formulation used here is the
union + ordered-window carry-forward:

    union(left tagged 1, right tagged 0)
      -> window partitionBy(key) orderBy(ts, tag)
      -> last(right_row_struct, ignorenulls=True) over rows unbounded..current
      -> filter tag == 1 -> unpack struct fields

One hash shuffle on the key, linear work, no join explosion — this survives
a 100x scale-up where a per-group ``pd.merge_asof`` (applyInPandas) would
bottleneck on the hottest key's single task and an inequality join would
explode. Right-before-left ordering at equal ts gives inclusive (<=)
semantics. The per-key window itself still serializes a HOT key through
one task (AQE cannot split windows); SCALE.md ("As-of join skew") has
the measured per-day segmented form for a query with a hot key.

The carried right columns travel as ONE struct per right row, not as
independent columns: ``last(col, ignorenulls=True)`` per column would
stitch values from *different* right rows whenever a carried column is
NULL on the nearest right row (and conflate NULL values with "no match").
The struct's nullness tracks the row, so a matched row's NULL values
surface as NULLs and every output column comes from the same right row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _right_row_struct(right: DataFrame, carried: list[str]) -> tuple[F.Column, T.StructType]:
    """The carried right row as one struct column + its type (for the
    typed NULL placeholder on the left arm of the union)."""
    struct_type = T.StructType(
        [T.StructField(c, right.schema[c].dataType, True) for c in carried]
    )
    return F.struct(*[F.col(c) for c in carried]), struct_type


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    by: str,
    on: str,
    right_values: list[str],
    right_prefix: str = "asof_",
    direction: str = "backward",
) -> DataFrame:
    """For every left row, attach the most recent right row (right.on <=
    left.on) within the same ``by`` key — or, with
    ``direction="forward"``, the EARLIEST right row at-or-after the left
    row (right.on >= left.on): the pandas ``merge_asof(direction=
    'forward')`` contract, e.g. "time to next error event". Both
    directions are inclusive at equal timestamps. Unmatched rows keep
    nulls.

    Output = all left columns + ``{right_prefix}{on}`` (the matched right
    event time) + ``{right_prefix}{col}`` for each right value column —
    all taken from the SAME matched right row.

    Same scale shape either way: one union, ONE hash shuffle on the key,
    one linear window pass (carry-forward for backward, carry-backward
    for forward) — never an inequality join.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    carried = [on, *right_values]
    l_cols = left.columns
    row_struct, struct_type = _right_row_struct(right, carried)
    l = left.withColumn("_tag", F.lit(1)).withColumn(
        "_r", F.lit(None).cast(struct_type)
    )
    r = right.select(
        F.col(by), F.col(on), F.lit(0).alias("_tag"), row_struct.alias("_r")
    )
    # Align schemas: right rows carry nulls for left-only columns.
    for c in l_cols:
        if c not in (by, on):
            r = r.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    unioned = l.unionByName(r.select(l.columns))

    if direction == "backward":
        # Right rows sort BEFORE left rows at equal ts (tag 0 < 1), so the
        # inclusive backward frame sees the equal-ts right row.
        w = (
            Window.partitionBy(by)
            .orderBy(F.col(on).asc(), F.col("_tag").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        matched = F.last(F.col("_r"), ignorenulls=True).over(w)
    else:
        # Right rows sort AFTER left rows at equal ts (tag desc: 1 then 0),
        # so the inclusive forward frame sees the equal-ts right row.
        w = (
            Window.partitionBy(by)
            .orderBy(F.col(on).asc(), F.col("_tag").desc())
            .rowsBetween(0, Window.unboundedFollowing)
        )
        matched = F.first(F.col("_r"), ignorenulls=True).over(w)
    return (
        unioned.withColumn("_m", matched)
        .filter(F.col("_tag") == 1)
        .select(
            *l_cols,
            *[F.col("_m")[c].alias(f"{right_prefix}{c}") for c in carried],
        )
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    *,
    by: str,
    on: str,
    right_values: list[str],
    tolerance_micros: int,
    right_prefix: str = "nearest_",
) -> DataFrame:
    """For every left row, attach the right row with the smallest |Δt| in
    either direction within ``tolerance_micros``, same ``by`` key — the
    pandas ``merge_asof(direction='nearest', tolerance=...)`` contract.
    Ties (equidistant before/after) resolve to the EARLIER right row.

    Same scalable shape as :func:`asof_join`: one union, one hash shuffle
    on the key, two linear window passes (backward carry-forward for the
    most recent right row, forward carry-backward for the next one), then
    a per-row arm pick OVER WHOLE ROW STRUCTS (never mixing columns from
    different right rows). No inequality-join explosion — a candidate
    join bounded by tolerance would be O(left x right-in-window) per key
    and die on hot keys at 100 TB; this stays O(n log n) in the sort.
    """
    carried = [on, *right_values]
    l_cols = left.columns
    row_struct, struct_type = _right_row_struct(right, carried)
    l = left.withColumn("_tag", F.lit(1)).withColumn(
        "_r", F.lit(None).cast(struct_type)
    )
    r = right.select(
        F.col(by), F.col(on), F.lit(0).alias("_tag"), row_struct.alias("_r")
    )
    for c in l_cols:
        if c not in (by, on):
            r = r.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    unioned = l.unionByName(r.select(l.columns))

    # Right rows at equal ts sort before the left row, so the backward
    # frame is inclusive (dist 0 matches land on the prev arm).
    order = [F.col(on).asc(), F.col("_tag").asc()]
    w_prev = (
        Window.partitionBy(by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy(by)
        .orderBy(*order)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    unioned = unioned.withColumn(
        "_prev", F.last(F.col("_r"), ignorenulls=True).over(w_prev)
    ).withColumn("_next", F.first(F.col("_r"), ignorenulls=True).over(w_next))

    dist_prev = F.unix_micros(F.col(on)) - F.unix_micros(F.col("_prev")[on])
    dist_next = F.unix_micros(F.col("_next")[on]) - F.unix_micros(F.col(on))
    ok_prev = F.col("_prev").isNotNull() & (dist_prev <= tolerance_micros)
    ok_next = F.col("_next").isNotNull() & (dist_next <= tolerance_micros)
    take_prev = ok_prev & (~ok_next | (dist_prev <= dist_next))
    picked = F.when(take_prev, F.col("_prev")).when(ok_next, F.col("_next"))
    return (
        unioned.filter(F.col("_tag") == 1)
        .withColumn("_m", picked)
        .select(
            *l_cols,
            *[F.col("_m")[c].alias(f"{right_prefix}{c}") for c in carried],
        )
    )

"""Deterministic stratified sampling — the data-mixing / language-balancing
stage of a training-data pipeline (sample each group to a cap before
tokenization).

Randomness comes from the engine-portable ``portable_hash`` of the row id
(md5-derived), never from an RNG: every engine, retry, and partitioning
produces the SAME sample — which is what makes a 100 TB sampling stage
reproducible and the DuckDB oracles able to recompute it independently.

Two physical forms:
- :func:`sample_per_group_exact` — EXACTLY ``cap`` rows per group: rank by
  hash within the group, keep the lowest ranks. One shuffle keyed by the
  group; a pathologically hot group funnels through one task's sort, so
  at web scale pre-filter with the rate form first (standard two-phase
  top-k-by-random-order).
- :func:`sample_per_group_rate` — keep each row iff
  ``hash(id) mod M < rate * M``: map-only after a broadcast of per-group
  counts, no shuffle of the fact table at all; group sizes are binomial
  around the target (the usual at-scale tradeoff). Pure integer
  arithmetic (no double rounding) so both engines agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.functions.scalars import dec38, half_away
from stock_streaming_data_pipeline_spark.operators.dedup import (
    portable_hash,
    sql_portable_hash,
    tokens,
)

_M = 1_000_000  # hash-to-uniform resolution


def sample_per_group_exact(
    df: DataFrame, *, id_col: str, group_col: str, cap: int
) -> DataFrame:
    """Exactly ``min(cap, |group|)`` rows per group, chosen by hash order
    (uniform-without-replacement under the hash's uniformity; ties broken
    by id, so fully deterministic)."""
    h = F.pmod(portable_hash(F.col(id_col).cast("string"), salt="smp_"), F.lit(_M))
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= cap)
    )


def sql_sample_per_group_exact(
    *, id_col: str, group_col: str, cap: int, select: str, table: str
) -> str:
    """DuckDB mirror: identical hash, identical ranking."""
    h = sql_portable_hash(f"{id_col}::VARCHAR", "smp_")
    return f"""
WITH ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY {group_col}
    ORDER BY ({h}) % {_M} ASC, {id_col} ASC
  ) AS sample_rank
  FROM {table}
)
SELECT {select}, sample_rank FROM ranked WHERE sample_rank <= {cap}
"""


def sample_per_group_rate(
    df: DataFrame, *, id_col: str, group_col: str, cap: int
) -> DataFrame:
    """Map-only stratified sampling: per-group keep-rate ``cap/|group|``
    applied as an integer hash threshold ``hash*|group| < cap*M``. The
    per-group counts are a tiny broadcast; the fact table never shuffles.
    Group sizes land binomially around ``cap`` (exact at-most-cap needs
    the exact form)."""
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_grp_n"))
    h = F.pmod(portable_hash(F.col(id_col).cast("string"), salt="smp_"), F.lit(_M))
    return (
        df.join(F.broadcast(counts), group_col)
        .filter(h * F.col("_grp_n") < F.lit(cap) * F.lit(_M))
        .drop("_grp_n")
    )


def sql_sample_per_group_rate(
    *, id_col: str, group_col: str, cap: int, select: str, table: str
) -> str:
    h = sql_portable_hash(f"t.{id_col}::VARCHAR", "smp_")
    return f"""
WITH counts AS (
  SELECT {group_col}, count(*)::BIGINT AS grp_n FROM {table} GROUP BY {group_col}
)
SELECT {select}
FROM {table} t JOIN counts c USING ({group_col})
WHERE (({h}) % {_M}) * c.grp_n < {cap}::BIGINT * {_M}
"""


def sample_temperature(
    df: DataFrame, *, id_col: str, group_col: str, total_target: int
) -> DataFrame:
    """Temperature-tempered mixture sampling (alpha = 0.5), the standard
    multilingual rebalancing rule: group s gets a target share
    proportional to ``|s|^alpha``, which upweights tail groups relative
    to proportional sampling without going fully uniform.

    alpha = 0.5 is realized with INTEGER square roots
    (``floor(sqrt(n))``) so the keep decision
    ``hash * |s| * S  <  target * isqrt(|s|) * M``  (S = sum of isqrts)
    is exact integer arithmetic — no double summation whose order could
    differ between engines. The comparison runs in DECIMAL(38,0) so it
    cannot overflow even with 1e12-row groups at the 100 TB tier.

    Physical shape: per-group counts are a tiny aggregate broadcast back
    onto the fact table; the fact table itself never shuffles (map-only
    filter), identical to :func:`sample_per_group_rate`.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_grp_n"))
    counts = counts.withColumn(
        "_grp_w", F.floor(F.sqrt(F.col("_grp_n").cast("double"))).cast("long")
    )
    tot = counts.agg(F.sum("_grp_w").alias("_w_sum"))
    h = F.pmod(portable_hash(F.col(id_col).cast("string"), salt="tmp_"), F.lit(_M))
    lhs = dec38(h) * dec38(F.col("_grp_n")) * dec38(F.col("_w_sum"))
    rhs = dec38(F.lit(total_target)) * dec38(F.col("_grp_w")) * dec38(F.lit(_M))
    return (
        df.join(F.broadcast(counts), group_col)
        .join(F.broadcast(tot))
        .filter(lhs < rhs)
        .drop("_grp_n", "_grp_w", "_w_sum")
    )


def sql_sample_temperature(
    *, id_col: str, group_col: str, total_target: int, select: str, table: str
) -> str:
    """DuckDB mirror: same isqrt weights, same HUGEINT-exact comparison."""
    h = sql_portable_hash(f"t.{id_col}::VARCHAR", "tmp_")
    return f"""
WITH counts AS (
  SELECT {group_col}, count(*)::BIGINT AS grp_n,
         CAST(floor(sqrt(count(*)::DOUBLE)) AS BIGINT) AS grp_w
  FROM {table} GROUP BY {group_col}
), tot AS (SELECT sum(grp_w)::BIGINT AS w_sum FROM counts)
SELECT {select}
FROM {table} t JOIN counts c USING ({group_col}) CROSS JOIN tot
WHERE (({h}) % {_M})::HUGEINT * c.grp_n::HUGEINT * tot.w_sum::HUGEINT
      < {total_target}::HUGEINT * c.grp_w::HUGEINT * {_M}::HUGEINT
"""


def upsample_to_parity(
    df: DataFrame, *, group_col: str, max_factor: int
) -> DataFrame:
    """Epoch-style upsampling for data mixing: each group is repeated
    ``min(max_factor, ceil(max_group/|group|))`` times so tail groups
    approach the head group's volume (the "multiple epochs over rare
    languages" trick). Pure integer ceil division; the repeat factor is a
    broadcast, and the explode is map-side — the fact table never
    shuffles. Emits one row per (row, copy_idx)."""
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_grp_n"))
    mx = counts.agg(F.max("_grp_n").alias("_max_n"))
    k = F.least(
        F.lit(max_factor).cast("long"),
        # integer ceil-division — `div` keeps the arithmetic in longs
        F.expr("(_max_n + _grp_n - 1) div _grp_n").cast("long"),
    )
    return (
        df.join(F.broadcast(counts), group_col)
        .join(F.broadcast(mx))
        .withColumn("copy_idx", F.explode(F.sequence(F.lit(1).cast("long"), k)))
        .drop("_grp_n", "_max_n")
    )


def sql_upsample_to_parity(
    *, group_col: str, max_factor: int, select: str, table: str
) -> str:
    return f"""
WITH counts AS (
  SELECT {group_col}, count(*)::BIGINT AS grp_n FROM {table} GROUP BY {group_col}
), mx AS (SELECT max(grp_n)::BIGINT AS max_n FROM counts)
SELECT {select},
       unnest(generate_series(
         1, least({max_factor}::BIGINT, (mx.max_n + c.grp_n - 1) // c.grp_n)
       )) AS copy_idx
FROM {table} t JOIN counts c USING ({group_col}) CROSS JOIN mx
"""


def take_top_share(
    df: DataFrame,
    *,
    id_col: str,
    group_col: str,
    score_col: str,
    share_pct: int,
) -> DataFrame:
    """Nucleus-style (top-p) curation: within each group, rank rows by an
    integer quality score (descending, id-tiebroken) and keep the minimal
    prefix whose score mass reaches ``share_pct`` percent of the group
    total — "keep the best documents covering 60% of the quality mass".

    Keep rule: a row stays iff the mass strictly BEFORE it is under the
    threshold (``(cum - score) * 100 < share_pct * total``), which keeps
    exactly the crossing row and nothing after. Integer arithmetic
    end-to-end. One shuffle on the group key (rank + running sum share the
    same window ordering, so Spark evaluates both in a single sort)."""
    w = Window.partitionBy(group_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    cum = F.sum(score_col).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = F.sum(score_col).over(
        Window.partitionBy(group_col).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    return (
        df.withColumn("pick_rank", F.row_number().over(w).cast("long"))
        .withColumn("_before", (cum - F.col(score_col)).cast("long"))
        .withColumn("_total", tot.cast("long"))
        .filter(F.col("_before") * 100 < F.lit(share_pct) * F.col("_total"))
        .drop("_before", "_total")
    )


def sql_take_top_share(
    *, id_col: str, group_col: str, score_col: str, share_pct: int,
    select: str, table: str,
) -> str:
    return f"""
WITH ranked AS (
  SELECT *,
    row_number() OVER w AS pick_rank,
    (sum({score_col}) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       - {score_col})::BIGINT AS mass_before,
    sum({score_col}) OVER (PARTITION BY {group_col})::BIGINT AS grp_total
  FROM {table}
  WINDOW w AS (PARTITION BY {group_col} ORDER BY {score_col} DESC, {id_col} ASC)
)
SELECT {select}, pick_rank
FROM ranked WHERE mass_before * 100 < {share_pct} * grp_total
"""


def split_train_eval(
    df: DataFrame,
    *,
    id_col: str,
    holdout_pct: int = 10,
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/eval split: assign each row by its portable
    id hash (mod 100 < holdout_pct → 'eval'). Map-only — no shuffle, no
    RNG state; the SAME rows land in the same split on any engine, any
    partitioning, any rerun, and new data arriving later cannot move an
    existing row across the boundary (the property random splits lose).
    Integer-only threshold arithmetic, same rule as sample_per_group_rate."""
    from stock_streaming_data_pipeline_spark.operators.dedup import portable_hash

    bucket = portable_hash(F.col(id_col).cast("string"), salt=salt) % 100
    return df.withColumn(
        "split",
        F.when(bucket < F.lit(holdout_pct), F.lit("eval")).otherwise(
            F.lit("train")
        ),
    )


def sql_split_train_eval(
    *, id_col: str, holdout_pct: int = 10, salt: str = "split"
) -> str:
    """DuckDB twin of the split predicate (bucket expression only)."""
    from stock_streaming_data_pipeline_spark.operators.dedup import (
        sql_portable_hash,
    )

    h = sql_portable_hash(f"CAST({id_col} AS VARCHAR)", salt=salt)
    return (
        f"CASE WHEN {h} % 100 < {holdout_pct} THEN 'eval' ELSE 'train' END"
    )


def sample_weighted_es(
    df: DataFrame,
    *,
    id_col: str,
    weight_col: str,
    k: int,
    salt: str = "es",
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis): each
    row draws u from its portable id hash (deterministic — the same
    'random' draw on any engine, partitioning or rerun) and scores
    key = u^(1/w); the k largest keys win, with inclusion probability
    proportional to weight. The standard weighted reservoir/priority
    sample, made rerun-stable the same way split_train_eval is.

    Rows with non-positive weight never win (key -> 0). The ranking key
    is rounded to 9 decimals with an id tie-break, so the cross-engine
    pow() ulp cannot reorder winners. TakeOrderedAndProject shape — no
    global sort."""
    from stock_streaming_data_pipeline_spark.operators.dedup import portable_hash

    u = (portable_hash(F.col(id_col).cast("string"), salt=salt).cast("double")
         + F.lit(1.0)) / F.lit(float((1 << 60) + 1))
    w = F.col(weight_col).cast("double")
    key = F.when(w > 0, F.pow(u, F.lit(1.0) / w)).otherwise(F.lit(0.0))
    return (
        df.withColumn("_es_key", F.round(key, 9))
        .orderBy(F.desc("_es_key"), F.asc(id_col))
        .limit(k)
    )


def sql_sample_weighted_es(
    *,
    id_col: str,
    weight_col: str,
    k: int,
    select: str,
    table: str,
    salt: str = "es",
) -> str:
    from stock_streaming_data_pipeline_spark.operators.dedup import (
        sql_portable_hash,
    )

    h = sql_portable_hash(f"CAST({id_col} AS VARCHAR)", salt=salt)
    u = f"(({h})::DOUBLE + 1.0) / {float((1 << 60) + 1)!r}"
    key = (
        f"CASE WHEN ({weight_col})::DOUBLE > 0 "
        f"THEN pow({u}, 1.0 / ({weight_col})::DOUBLE) ELSE 0.0 END"
    )
    return f"""
SELECT {select}, round({key}, 9) AS _es_key
FROM {table}
ORDER BY round({key}, 9) DESC, {id_col} ASC
LIMIT {k}
"""


def dsir_importance(
    docs: DataFrame,
    *,
    id_col: str,
    text_col: str,
    target_pred,
    n_buckets: int = 64,
    salt: str = "dsir_",
) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al. 2023), the
    hashed-n-gram form: score every RAW document by how much more likely
    its (hashed unigram) features are under the TARGET corpus than under
    the raw corpus, ``w(d) = Σ_tokens ln(p_target(bucket)/p_raw(bucket))``
    with add-one smoothing over ``n_buckets`` hashed feature buckets.
    ``target_pred`` is a Column predicate selecting the in-domain target
    slice (e.g. a trusted source). Output: (doc, n_toks, importance,
    keep) for every NON-target document, ``keep = importance > 0``
    (more target-like than raw-like).

    Portability discipline: bucket counts and totals are exact integers;
    each bucket's log-ratio — the only transcendental — is rounded to 6
    then micro-snapped, so the per-document sum is order-insensitive
    BIGINT arithmetic; ``importance`` is the micro sum scaled back.

    Scale shape: one tokenize-explode pass; the per-bucket count
    aggregate is ``n_buckets``-bounded (a broadcast relation, like a
    sketch); scoring is a map-side broadcast-hash-join of token rows
    against the 64-row ratio table + one groupBy(doc). The corpus never
    self-joins, and nothing driver-side scales with data.
    """
    toks = docs.select(
        F.col(id_col).alias("doc"),
        target_pred.alias("is_target"),
        F.explode(tokens(F.col(text_col))).alias("t"),
    )
    bucket = F.pmod(portable_hash(F.col("t"), salt=salt), F.lit(n_buckets)).cast(
        "int"
    )
    bt = toks.select("doc", "is_target", bucket.alias("b"))
    counts = bt.groupBy("b").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(1)).alias("cr"),
    )
    totals = counts.agg(
        F.sum("ct").alias("tt"), F.sum("cr").alias("tr")
    )
    lam = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "b",
            half_away(
                F.round(
                    F.log(
                        ((F.col("ct") + 1) / (F.col("tt") + F.lit(n_buckets)))
                        / ((F.col("cr") + 1) / (F.col("tr") + F.lit(n_buckets)))
                    ),
                    6,
                ),
                6,
            ).alias("lam_micro"),
        )
    )
    scored = (
        bt.filter(~F.col("is_target"))
        .join(F.broadcast(lam), "b")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("lam_micro").alias("w_micro"),
        )
    )
    return scored.select(
        "doc",
        "n_toks",
        F.round(F.col("w_micro").cast("double") / F.lit(1e6), 6).alias(
            "importance"
        ),
        (F.col("w_micro") > 0).alias("keep"),
    )


def sql_dsir_importance(
    *,
    id_col: str,
    text_col: str,
    target_pred_sql: str,
    table: str = "documents",
    n_buckets: int = 64,
    salt: str = "dsir_",
) -> str:
    """DuckDB replay of :func:`dsir_importance` — identical integer/
    micro-unit lattice."""
    from stock_streaming_data_pipeline_spark.operators.retrieval import (
        SQL_TOKENS,
    )

    toks = SQL_TOKENS.format(col=text_col)
    hb = sql_portable_hash("t", salt=salt)
    lam = (
        f"round(ln(((ct + 1)::DOUBLE / (tt + {n_buckets})) "
        f"/ ((cr + 1)::DOUBLE / (tr + {n_buckets}))), 6)"
    )
    return f"""
WITH tk AS (
  SELECT {id_col} AS doc, ({target_pred_sql}) AS is_target,
         unnest({toks}) AS t
  FROM {table}
),
bt AS (
  SELECT doc, is_target, CAST({hb} % {n_buckets} AS INT) AS b FROM tk
),
counts AS (
  SELECT b,
         sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct,
         sum(CASE WHEN is_target THEN 0 ELSE 1 END) AS cr
  FROM bt GROUP BY b
),
totals AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM counts),
lam AS (
  SELECT b,
         CAST(CASE WHEN {lam} >= 0
              THEN floor(abs({lam}) * 1000000.0 + 0.5)
              ELSE -floor(abs({lam}) * 1000000.0 + 0.5) END AS BIGINT)
           AS lam_micro
  FROM counts CROSS JOIN totals
)
SELECT bt.doc, count(*) AS n_toks,
       round(sum(lam.lam_micro)::DOUBLE / 1000000.0, 6) AS importance,
       sum(lam.lam_micro) > 0 AS keep
FROM bt JOIN lam USING (b)
WHERE NOT bt.is_target
GROUP BY bt.doc
"""


# ---------------------------------------------------------------------------
# Probability-proportional-to-size Poisson sampling + Horvitz-Thompson
# estimation — the survey-sampling estimator family (Horvitz & Thompson,
# JASA 1952): unequal inclusion probabilities pi_i = min(1, n*s_i/S),
# unbiased total estimate sum(y_i / pi_i) over the sample.
# ---------------------------------------------------------------------------


def sample_pps_ht(
    df: DataFrame,
    *,
    id_col: str,
    size_col: str,
    cents_col: str,
    group_col: str,
    n_target: int,
) -> DataFrame:
    """PPS Poisson sample + per-group Horvitz-Thompson total estimate.

    Inclusion is the exact integer test ``(hash % M) * S < n * s_i * M``
    (i.e. U_i < pi_i with U_i = hash/M), so the sample — like every
    sampler in this module — is a pure function of row content: identical
    across engines, retries, and partitionings, and the DuckDB oracle
    recomputes it independently. The HT contribution ``y_i / pi_i`` is
    kept exact as ``(y*S*100) DIV (n*s)`` in DECIMAL(38,0) (HUGEINT on
    the DuckDB side — probed to truncate identically), summed exactly,
    and scaled back to cents at the end; certainty units (n*s >= S)
    contribute ``y`` itself.

    Scale shape: one map-combined aggregate for the per-group totals
    (tiny result, broadcast back), then a map-only inclusion filter +
    one aggregate onto |groups| rows — two fact scans total, no fact
    shuffle beyond the final small agg. Overflow ceiling: the DECIMAL
    product y*S*100 stays under 1e38 through S ~ 1e20 total size units —
    ten decades past the sf1000 tier.
    """
    g = df.groupBy(group_col).agg(
        F.sum(F.col(size_col)).cast("long").alias("_grp_s"),
        F.sum(F.col(cents_col)).cast("long").alias("_grp_y"),
    )
    g = g.select(
        "*", F.sum("_grp_s").over(Window.partitionBy()).alias("_S")
    )  # window over the bounded |groups|-row agg output, never the fact
    h = F.pmod(portable_hash(F.col(id_col).cast("string"), salt="pps_"), F.lit(_M))
    kept = df.join(F.broadcast(g), group_col).filter(
        h * F.col("_S") < F.lit(n_target) * F.col(size_col).cast("long") * F.lit(_M)
    )
    certain = F.lit(n_target) * F.col(size_col).cast("long") >= F.col("_S")
    scaled = F.expr(
        f"CAST({cents_col} AS DECIMAL(38,0)) * CAST(_S AS DECIMAL(38,0)) * 100 "
        f"DIV (CAST({n_target} AS DECIMAL(38,0)) * CAST({size_col} AS DECIMAL(38,0)))"
    )
    contrib = F.when(certain, dec38(F.col(cents_col)) * 100).otherwise(dec38(scaled))
    return (
        kept.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sampled"),
            F.sum(contrib).alias("_ht_centi"),
            F.max("_grp_y").alias("exact_total_cents"),
        )
        .select(
            group_col,
            "n_sampled",
            F.expr("_ht_centi DIV 100").cast("long").alias("ht_total_cents"),
            F.col("exact_total_cents").cast("long"),
        )
    )


def sql_sample_pps_ht(
    *,
    id_expr: str,
    size_expr: str,
    cents_expr: str,
    group_col: str,
    n_target: int,
    table: str,
) -> str:
    """DuckDB mirror: identical hash, identical exact-integer inclusion
    test and HUGEINT-truncating HT arithmetic."""
    h = sql_portable_hash("b.id::VARCHAR", "pps_")
    return f"""
WITH base AS (
  SELECT {id_expr} AS id, t.{group_col} AS grp,
         CAST({size_expr} AS BIGINT) AS s,
         CAST({cents_expr} AS BIGINT) AS y
  FROM {table} t
),
g AS (
  SELECT grp, sum(s)::BIGINT AS grp_s, sum(y)::BIGINT AS grp_y FROM base GROUP BY grp
),
tot AS (SELECT sum(grp_s)::BIGINT AS tot_s FROM g),
kept AS (
  SELECT b.*, g.grp_y, tot.tot_s FROM base b JOIN g ON b.grp = g.grp CROSS JOIN tot
  WHERE (({h}) % {_M}) * tot.tot_s
        < {n_target}::BIGINT * b.s * {_M}
),
ht AS (
  SELECT grp,
         count(*)::BIGINT AS n_sampled,
         sum(CASE WHEN {n_target}::BIGINT * s >= tot_s
                  THEN y::HUGEINT * 100
                  ELSE (y::HUGEINT * tot_s::HUGEINT * 100)
                       // ({n_target}::HUGEINT * s::HUGEINT) END) AS ht_centi,
         max(grp_y) AS exact_total_cents
  FROM kept GROUP BY grp
)
SELECT grp AS {group_col}, n_sampled,
       CAST(ht_centi // 100 AS BIGINT) AS ht_total_cents,
       CAST(exact_total_cents AS BIGINT) AS exact_total_cents
FROM ht
"""

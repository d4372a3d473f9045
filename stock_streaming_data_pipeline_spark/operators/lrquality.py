"""Distributed logistic-regression quality classifier.

The fasttext-style linear quality classifier every large-scale curation
pipeline eventually trains (score documents by a learned combination of
lexical features, here distilled from the rule-based C4/Gopher filter's
keep decision): hashing-trick bag-of-words features, full-batch gradient
ascent on the log-likelihood, scoring — all as DataFrame ops.

Scale shape per iteration (optimization round 12): features live as ONE
dense row per doc — ``(doc, label, c0..c{DIM})``, the D+1 hashed bucket
counts as BIGINT columns — built once and materialized; weights are
a 1-row array DataFrame broadcast into a nest-loop join. Each iteration
is then a SINGLE codegen pass over the dense relation: the logit is a
65-term integer dot product, the sigmoid the frozen-table expression,
and the gradient ONE global aggregate (65 partial sums collapse to one
row per task, so the per-iteration shuffle carries ~tasks×65 BIGINTs —
independent of corpus size). The round-11 shape (sparse (doc, idx, cnt)
rows, weights broadcast-joined on idx, z one groupBy(doc), gradient a
second full pass joining a **broadcast of the per-doc probabilities**)
did 2 corpus scans + 2 corpus-keyed hash aggregates per iteration and —
the scale bug — shipped one probability row PER DOC through the driver
per iteration; the dense form does 1 scan, no join keyed on corpus
columns, and nothing corpus-bound ever reaches the driver.

Determinism / cross-engine contract (round 8, replacing the round-6
float lattice): EVERY model quantity is an exact integer in micro units
(1e-6) — weights, logits, probabilities, gradients. Logits are exact
BIGINT sums of cnt * w_micro (integer sums are order-free, so shuffle
order cannot perturb them); the sigmoid never calls either engine's
libm ``exp`` — it is a FROZEN integer-exp table product
(:data:`_EXP_1`/:data:`_EXP_2`/:data:`_EXP_4`/:data:`_EXP_6`, 316
double literals computed once in Python and embedded in both plans, the
ts_periodogram_fixed discipline from plans/finance.py), so the only
operations either engine performs are IEEE-exact +,*,/ on identical
doubles; probability/gradient rounding is sign-uniform half-up on
integers (no engine ``round`` call at all). This retires the round-7
sf1 finding — a 1-ulp libm ``exp`` divergence flipping a round-6
probability on 1/50,000 docs — by construction: there is no
transcendental left to disagree on, and the DuckDB oracle unrolls the
training iterations into chained CTEs built from the SAME expression
text (:func:`sigmoid_micro_sql`, :func:`half_up_div_sql`), matching
bit-for-bit.
"""

from __future__ import annotations

import math
from fractions import Fraction

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.operators.checkpoint import materialize
from stock_streaming_data_pipeline_spark.operators.dedup import (
    portable_hash,
    sql_portable_hash,
    tokens,
)
from stock_streaming_data_pipeline_spark.tables import sql_double

DIM = 64  # hashed feature buckets; idx DIM is the bias term
_SALT = "lrq_"

# |z_micro| >= 16e6 saturates the micro sigmoid: sigmoid(16) = 0.99999988...
# rounds half-up to exactly 1.0 in micros, sigmoid(-16) to exactly 0.0 — so
# the frozen tables only ever need the integer range [0, 16).
SIG_SAT_MICRO = 16_000_000

# Frozen exp tables over the micro lattice, computed ONCE here and embedded
# as double literals in BOTH engines. abs(z_micro) < 16e6 decomposes as
# a*1e6 + b*1e4 + c*1e2 + d with a in [0,16), b,c,d in [0,100), and
# exp(abs(z)) = _EXP_1[a] * _EXP_2[b] * _EXP_4[c] * _EXP_6[d] (left-assoc,
# identical multiply order in both plans). The product differs from true
# exp by a few ulps — irrelevant: the table product IS the defined sigmoid,
# and both engines evaluate the identical IEEE expression.
_EXP_1 = tuple(math.exp(a) for a in range(16))  # step 1.0
_EXP_2 = tuple(math.exp(b * 1e-2) for b in range(100))  # step 1e-2
_EXP_4 = tuple(math.exp(c * 1e-4) for c in range(100))  # step 1e-4
_EXP_6 = tuple(math.exp(d * 1e-6) for d in range(100))  # step 1e-6


def _table_lookup(vals: tuple[float, ...], idx: str, *, spark: bool) -> str:
    """1-based constant-array lookup, per engine dialect. Spark double
    literals need the ``D`` suffix (bare decimals parse as DECIMAL and
    would drag the arithmetic onto the truncating decimal path). DuckDB
    also types a bare decimal literal as DECIMAL, and its DECIMAL ->
    DOUBLE cast can land one ulp off the original double, so each element
    is an exact string-cast literal (:func:`tables.sql_double`)."""
    if spark:
        lits = ", ".join(f"{v!r}D" for v in vals)
        return f"element_at(array({lits}), CAST({idx} AS INT) + 1)"
    lits = ", ".join(sql_double(v) for v in vals)
    return f"list_extract([{lits}], CAST({idx} AS INT) + 1)"


def sigmoid_micro_sql(z: str, *, spark: bool) -> str:
    """Micro-sigmoid expression: BIGINT micro logit ``z`` -> BIGINT micro
    probability floor(1e6 * 1/(1+exp(-z*1e-6)) + 0.5), with exp from the
    frozen tables and saturation outside [-16, 16]. The same text (modulo
    integer-division token and list syntax) renders for both engines."""
    dv = "DIV" if spark else "//"
    am = f"abs({z})"
    ea = _table_lookup(_EXP_1, f"({am}) {dv} 1000000", spark=spark)
    eb = _table_lookup(_EXP_2, f"(({am}) {dv} 10000) % 100", spark=spark)
    ec = _table_lookup(_EXP_4, f"(({am}) {dv} 100) % 100", spark=spark)
    ed = _table_lookup(_EXP_6, f"({am}) % 100", spark=spark)
    eabs = f"((({ea}) * ({eb})) * ({ec})) * ({ed})"
    # exp(-z): z >= 0 -> 1/exp(|z|) (one IEEE division, exact-identical),
    # z < 0 -> exp(|z|) directly.
    enegz = (
        f"CASE WHEN ({z}) >= 0 THEN CAST(1 AS DOUBLE) / ({eabs}) "
        f"ELSE ({eabs}) END"
    )
    return (
        f"CASE WHEN ({z}) >= {SIG_SAT_MICRO} THEN CAST(1000000 AS BIGINT) "
        f"WHEN ({z}) <= -{SIG_SAT_MICRO} THEN CAST(0 AS BIGINT) "
        f"ELSE CAST(floor((CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + ({enegz})))"
        f" * 1000000.0 + 0.5) AS BIGINT) END"
    )


def half_up_div_sql(x: str, num, den, *, spark: bool) -> str:
    """Sign-uniform half-up rational scaling on integers:
    round(x * num / den) with ties away from zero, as exact BIGINT
    arithmetic — floor(|v| + 1/2) = (2*|x|*num + den) DIV (2*den) on the
    magnitude, sign re-applied. num/den must be positive integers; all
    division operands are non-negative, so Spark ``DIV`` and DuckDB
    ``//`` (both truncating) agree with floor."""
    dv = "DIV" if spark else "//"
    mag = f"((abs({x}) * 2 * ({num}) + ({den})) {dv} (2 * ({den})))"
    return f"(CASE WHEN ({x}) < 0 THEN -{mag} ELSE {mag} END)"


def _features(docs: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """(doc, idx, cnt): hashed token counts + a bias feature (idx=DIM,
    cnt=1) per doc. Kept as the sparse reference shape (tests pin the
    dense pivot against it); the training path uses :func:`_dense_features`.
    """
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    counts = (
        toks.select(
            "doc", (portable_hash(F.col("tok"), _SALT) % DIM).alias("idx")
        )
        .groupBy("doc", "idx")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    bias = docs.select(
        F.col(id_col).alias("doc"),
        F.lit(DIM).cast("long").alias("idx"),
        F.lit(1).cast("long").alias("cnt"),
    )
    return counts.unionByName(bias)


def _dense_features(
    docs: DataFrame, labels: DataFrame, *, id_col: str, text_col: str
) -> DataFrame:
    """One row per labeled doc: ``(doc, label, c0..c{DIM})`` where ``ci``
    is the BIGINT count of tokens hashing to bucket i and ``c{DIM}`` is
    the bias count (always 1). Equivalent to the sparse
    ``_features(docs) ⋈ labels`` relation with absent buckets densified
    to 0: every per-doc/per-bucket integer the training loop consumes is
    recoverable as an order-free sum, so downstream arithmetic is
    bit-identical. ``portable_hash`` is the top 60 bits of md5 — always
    non-negative — so ``idx`` lands in [0, DIM) and the dense columns
    cover every sparse row. One shuffle total (the groupBy(doc)); the
    round-11 sparse build paid a groupBy(doc, idx) exchange plus a
    repartition(doc) exchange.

    Assumes ``labels`` carries one row per doc (every caller derives it
    from a per-doc filter decision; the DuckDB oracle joins the same
    way)."""
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    tokcnt = (
        toks.select(
            "doc", (portable_hash(F.col("tok"), _SALT) % DIM).alias("idx")
        )
        .groupBy("doc")
        .agg(
            *[
                F.sum(F.when(F.col("idx") == i, F.lit(1)).otherwise(F.lit(0)))
                .cast("long")
                .alias(f"c{i}")
                for i in range(DIM)
            ]
        )
    )
    base = docs.select(F.col(id_col).alias("doc")).join(labels, "doc")
    return base.join(tokcnt, "doc", "left").select(
        "doc",
        "label",
        *[
            F.coalesce(F.col(f"c{i}"), F.lit(0).cast("long")).alias(f"c{i}")
            for i in range(DIM)
        ],
        F.lit(1).cast("long").alias(f"c{DIM}"),
    )


def half_up_py(x: int, num: int, den: int) -> int:
    """Exact Python replica of :func:`half_up_div_sql` on in-envelope
    BIGINTs (Python ints are unbounded, so the only divergence regime is
    one where the SQL path would raise on int64 overflow). Used by the
    driver-side weight update in :func:`train_score`; pinned against the
    SQL rendering in tests."""
    mag = (abs(x) * 2 * num + den) // (2 * den)
    return -mag if x < 0 else mag


def _lr_fraction(lr: float) -> Fraction:
    frac = Fraction(str(lr))
    if frac <= 0:
        raise ValueError(f"learning rate must be positive, got {lr!r}")
    return frac


def train_score(
    docs: DataFrame,
    labels: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    iters: int = 3,
    lr: float = 0.5,
) -> DataFrame:
    """Train ``iters`` full-batch gradient steps of logistic regression
    on hashed bag-of-words features against ``labels`` (columns
    ``doc, label`` with label in {0,1}), then score every doc. Returns
    ``(doc, label, prob, pred)`` with prob an exact micro-lattice double
    (p_micro / 1e6). All internal state is integer micros — see the
    module docstring for the cross-engine contract."""
    lr_frac = _lr_fraction(lr)
    # Dense layout, built once and checkpointed (optimization round 12;
    # guide §2.3/§2.4): each iteration below is ONE whole-stage-codegen
    # pass over this relation — a 65-term BIGINT dot product per row
    # (weights embedded as plan literals) feeding one GLOBAL aggregate
    # whose map-side partials collapse to a single 65-sum row per task —
    # instead of the round-11 two corpus scans, two corpus-keyed hash
    # aggregates, a weights broadcast-hash join and (the scale bug) a
    # per-iteration driver broadcast of one probability row per doc.
    # The labels relation is checkpointed too: it is consumed twice
    # (dense build + n_docs) and every caller derives it from a full
    # tokenizing filter pass over the corpus.
    labels = materialize(labels, eager=True)
    dense = materialize(
        _dense_features(docs, labels, id_col=id_col, text_col=text_col),
        eager=True,
    )
    n_docs = labels.count()

    sig = F.expr(sigmoid_micro_sql("z", spark=True))
    spark = docs.sparkSession

    # z = sum_i c_i * w_i: exact BIGINT, order-free — identical to the
    # sparse sum(cnt * w) over present buckets (absent buckets multiply a
    # zero count). The weights arrive as ONE broadcast array row rather
    # than plan literals: the generated code is then IDENTICAL for every
    # iteration and scale factor, so whole-stage codegen compiles ONCE
    # per session instead of once per iteration per run (a literal-
    # weights variant measured ~1 s of Janino/JIT per bench pass because
    # each iteration's evolving literals produced a fresh class).
    z_expr = " + ".join(
        f"(c{i} * element_at(warr, {i + 1}))" for i in range(DIM + 1)
    )
    grad_arr = F.expr(
        "array("
        + ", ".join(
            f"sum((label * CAST(1000000 AS BIGINT) - p) * c{i})"
            for i in range(DIM + 1)
        )
        + ")"
    )

    def wrow(w: list[int]) -> DataFrame:
        # range(1) + array-literal projection, not createDataFrame: no
        # Python->JVM data path, and the folded CreateArray becomes a
        # Literal(ArrayData) that codegen passes via `references`, so
        # the generated source stays byte-identical across iterations.
        arr = "array(" + ", ".join(
            f"CAST({wi} AS BIGINT)" for wi in w
        ) + ")"
        return spark.range(1).select(F.expr(arr).alias("warr"))

    # Gradient loop. Driver traffic per iteration is the 65-element
    # gradient row down and the 65-element weight row up — O(DIM)
    # BIGINTs, parameter-bounded like pagerank's scalar n, NOT
    # corpus-bound (the round-11 loop broadcast one probability row per
    # doc through the driver per iteration). The weight update runs in
    # exact Python integer arithmetic — the same half-up integer
    # expressions the oracle evaluates.
    w = [0] * (DIM + 1)
    if n_docs > 0:
        for _ in range(iters):
            zp = dense.crossJoin(F.broadcast(wrow(w))).select(
                "label",
                *[f"c{i}" for i in range(DIM + 1)],
                F.expr(z_expr).cast("long").alias("z"),
            ).select(
                *[f"c{i}" for i in range(DIM + 1)],
                sig.alias("p"),
                "label",
            )
            srow = zp.agg(grad_arr.alias("sarr")).first()
            sarr = srow["sarr"] if srow is not None else None
            for i in range(DIM + 1):
                # s_i = sum((label - p) * c_i) exactly (c_i = 0 where the
                # sparse relation had no row, contributing 0 — the same
                # sum); g = half_up(s / n); update by half_up(g * lr).
                # A bucket no doc touches has s_i = 0, matching the
                # round-11 left-join NULL -> step 0 path.
                s = sarr[i] if sarr is not None and sarr[i] is not None else 0
                g = half_up_py(s, 1, n_docs)
                w[i] += half_up_py(
                    g, lr_frac.numerator, lr_frac.denominator
                )

    scored = dense.crossJoin(F.broadcast(wrow(w))).select(
        "doc", "label", F.expr(z_expr).cast("long").alias("z")
    )
    return scored.select(
        "doc",
        "label",
        (sig.cast("double") / F.lit(1000000.0)).alias("prob"),
        (F.col("z") >= 0).alias("pred"),
    )


def sql_train_score(
    *,
    label_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    iters: int = 3,
    lr: float = 0.5,
) -> str:
    """DuckDB oracle: the same feature hash, the training loop unrolled
    into chained CTEs (one z/p/grad/w block per iteration), final scores.
    ``label_sql`` must yield columns (doc, label). Built from the SAME
    sigmoid/rounding expression text as the Spark plan
    (:func:`sigmoid_micro_sql` / :func:`half_up_div_sql`)."""
    lr_frac = _lr_fraction(lr)
    toks = (
        "list_filter(regexp_split_to_array(lower("
        + text_col
        + "), '\\s+'), t -> t <> '')"
    )
    h = sql_portable_hash("tok", salt=_SALT)
    sig = sigmoid_micro_sql("z", spark=False)
    parts = [
        f"lab AS ({label_sql})",
        f"""tk AS (
  SELECT {id_col} AS doc, unnest({toks}) AS tok FROM {table}
)""",
        f"""feats AS MATERIALIZED (
  SELECT f.doc, f.idx, f.cnt, lab.label
  FROM (
    SELECT doc, ({h}) % {DIM} AS idx, count(*)::BIGINT AS cnt
    FROM tk GROUP BY 1, 2
    UNION ALL
    SELECT {id_col} AS doc, {DIM}::BIGINT AS idx, 1::BIGINT AS cnt
    FROM {table}
  ) f JOIN lab ON lab.doc = f.doc
)""",
        "ndocs AS (SELECT count(*)::BIGINT AS n FROM lab)",
        f"w0 AS (SELECT unnest(range(0, {DIM + 1}))::BIGINT AS idx,"
        " 0::BIGINT AS w)",
    ]
    g_expr = half_up_div_sql("s", 1, "n", spark=False)
    step = half_up_div_sql(
        "coalesce(g.g, 0::BIGINT)",
        lr_frac.numerator,
        lr_frac.denominator,
        spark=False,
    )
    for r in range(iters):
        parts.append(
            f"""z{r} AS MATERIALIZED (
  SELECT f.doc, f.label, CAST(sum(f.cnt * w.w) AS BIGINT) AS z
  FROM feats f JOIN w{r} w USING (idx)
  GROUP BY 1, 2
)"""
        )
        parts.append(
            f"""p{r} AS (
  SELECT doc, label, {sig} AS p FROM z{r}
)"""
        )
        parts.append(
            f"""g{r} AS (
  SELECT idx, {g_expr} AS g FROM (
    SELECT f.idx,
           CAST(sum((p.label * 1000000 - p.p) * f.cnt) AS BIGINT) AS s
    FROM feats f JOIN p{r} p ON p.doc = f.doc
    GROUP BY 1
  ) CROSS JOIN ndocs
)"""
        )
        parts.append(
            f"""w{r + 1} AS MATERIALIZED (
  SELECT w.idx, CAST(w.w + {step} AS BIGINT) AS w
  FROM w{r} w LEFT JOIN g{r} g USING (idx)
)"""
        )
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT doc, label,
       CAST(({sig}) AS DOUBLE) / 1000000.0 AS prob,
       z >= 0 AS pred
FROM (
  SELECT f.doc, f.label, CAST(sum(f.cnt * w.w) AS BIGINT) AS z
  FROM feats f JOIN w{iters} w USING (idx)
  GROUP BY 1, 2
)
"""

"""Similarity search over embedding columns (``array<float>``).

Dot products are left-fold ``F.aggregate`` in DOUBLE, so the arithmetic
order is fixed and bit-reproducible (the DuckDB oracles mirror it with
``list_reduce``). Every ranking decision is made on round-6 values with
id tie-breaks, so last-ulp noise in double aggregates cannot flip it in
one engine only.

Exact tiers: :func:`cosine_topk` (broadcast queries against the corpus)
and :func:`neardup_pairs`. The approximate tiers are one candidate-then-
refine pipeline; each stage has one owner on the Spark side and one on
the SQL side, and the two sides share no code:

- train: :func:`ivf_train` (seeded cosine Lloyd) for the coarse lists,
  :func:`pq_train` for PQ codebooks and the IVF2 sub-cells, and
  :func:`opq_train` for the OPQ rotation; SQL ``_sql_lloyd_ctes``,
  ``_sql_pq_chain``;
- assign and probe: :func:`_nearest_lists` ranks centroids by round-6
  cosine (``n = 1`` assigns a vector its list, ``n = nprobe`` probes a
  query's lists); :func:`_ivf_lists` and :func:`_ivf2_leaves` train and
  assign; :func:`_nearest_subcells` is the level-2 probe; SQL
  ``_sql_nearest_lists``;
- shortlist: :func:`_shortlist`, after ADC scoring in
  :func:`_adc_shortlist`; SQL ``_sql_adc_rerank``, ``_sql_rerank``;
- re-rank: :func:`_rerank`, exact cosine on the raw vectors;
- rank: :func:`ranked_topk`, (cosine desc, neighbor_id asc) numbered
  1..k; SQL :func:`sql_ranked_topk`.

The tiers built from these stages are LSH (:func:`lsh_topk`, one
sign-bit bucket probe), IVF-Flat (:func:`ivf_topk`), IVF-PQ
(:func:`ivf_pq_topk`), two-level IVF (:func:`ivf2_topk`), OPQ
(:func:`opq_topk`), SQ8 (``sq_quant.sq_topk``) and the persisted
IVF / IVF2 indexes (``ann_index``).
"""

from __future__ import annotations

import pandas as pd  # noqa: F401  (resolves pandas_udf type hints)
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.operators.checkpoint import materialize
from stock_streaming_data_pipeline_spark.tables import (
    duck_connection,
    spark_round,
    sql_double,
    values_sql,
)


def _subspace_dim(dim: int, num_sub: int) -> int:
    """Width of each of the ``num_sub`` PQ subspaces of a ``dim`` vector."""
    if num_sub <= 0 or dim % num_sub:
        raise ValueError(f"num_sub={num_sub} must divide the embedding dim {dim}")
    return dim // num_sub


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Order-fixed left-fold dot product in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


SQL_DOT = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(range(1, len({a}) + 1), i -> ({a})[i]::DOUBLE * ({b})[i]::DOUBLE)), "
    "(acc, x) -> acc + x)"
)
SQL_NORM = "sqrt(" + SQL_DOT.format(a="{a}", b="{a}") + ")"


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def ranked_topk(
    scored: DataFrame,
    k: int,
    cols: tuple[str, ...] = ("query_id", "neighbor_id", "cosine", "rank"),
) -> DataFrame:
    """The top ``k`` rows per ``query_id`` by (``cosine`` desc,
    ``neighbor_id`` asc), numbered 1..k as BIGINT ``rank``: the one
    deterministic tie order every ANN tier and its oracle share."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(*cols)
    )


def _keyed(df: DataFrame, id_col: str, vec_col: str, key: str, vec: str) -> DataFrame:
    """``df`` as ``(key, vec)``: the id renamed, the vector cast to double."""
    return df.select(F.col(id_col).alias(key), as_double(F.col(vec_col)).alias(vec))


def _nearest_lists(
    vecs: DataFrame,
    cents: DataFrame,
    n: int,
    *,
    key: str,
    vec: str,
    cid: str = "_cid",
    out: str = "cluster_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """The ``n`` centroids nearest each row of ``vecs``: list assignment
    (``n = 1``) and query probing (``n = nprobe``). Centroids ``(cid,
    cvec)`` are broadcast; the cosine is rounded to 6 decimals BEFORE the
    ranking, so last-ulp noise in the double-aggregated centroid means
    (summation order differs across engines and partition layouts) cannot
    flip a decision; ties go to the lower centroid id. One window shuffle
    on ``key``. Returns ``vecs``' columns, the centroid id as ``out`` and
    the centroid columns named in ``keep``."""
    scored = vecs.crossJoin(F.broadcast(cents)).withColumn(
        "_sim", F.round(cosine(F.col(vec), F.col("cvec")), 6)
    )
    w = Window.partitionBy(key).orderBy(F.desc("_sim"), F.asc(cid))
    rn = F.col("_rn")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(rn == 1 if n == 1 else rn <= n)
        .select(*vecs.columns, F.col(cid).alias(out), *keep)
    )


def _shortlist(scored: DataFrame, n: int, score: Column) -> DataFrame:
    """The first ``n`` candidates per ``query_id`` by ``score`` (an
    ordering Column), ties on ``neighbor_id`` asc: the approximate stage
    the exact re-rank refines."""
    w = Window.partitionBy("query_id").orderBy(score, F.asc("neighbor_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .select("query_id", "neighbor_id")
    )


def _adc_shortlist(
    codes: DataFrame, lut: DataFrame, on: list[str], n: int
) -> DataFrame:
    """Asymmetric-distance scoring, then its :func:`_shortlist`: each
    candidate's ``(neighbor_id, *on)`` code rows join the broadcast
    per-query LUT of subspace distances ``pdist``; the round-6 sum is the
    candidate's ADC distance, nearest first."""
    adc = (
        codes.join(F.broadcast(lut), on)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("pdist"), 6).alias("adc_dist"))
    )
    return _shortlist(adc, n, F.asc("adc_dist"))


def _rerank(cands: DataFrame, c: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """Exact re-rank of candidate ``(query_id, neighbor_id)`` pairs on the
    raw vectors: ``c`` is the corpus as ``(neighbor_id, cv)``, ``q`` the
    (broadcast) queries as ``(query_id, qv)``."""
    rescored = (
        cands.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("cosine", F.round(cosine(F.col("qv"), F.col("cv")), 6))
    )
    return ranked_topk(rescored, k)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    queries is broadcast (it is the small side by construction); ranking is
    deterministic: (rounded score desc, neighbor id asc).
    """
    q = _keyed(queries, id_col, vec_col, "query_id", "qv")
    c = _keyed(corpus, id_col, vec_col, "neighbor_id", "cv")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.round(cosine(F.col("qv"), F.col("cv")), 6))
    )
    return ranked_topk(scored, k)


def neardup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """All pairs with cosine >= threshold (exact, quadratic — compose with
    LSH buckets below for scale)."""
    a = _keyed(df, id_col, vec_col, "id_a", "va")
    b = _keyed(df, id_col, vec_col, "id_b", "vb")
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _hyperplane(dim: int, bit: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane (fixed seed series,
    engine-independent: pure python constants baked into the plan)."""
    import math

    return [
        math.sin(0.7548776662 * (bit * dim + i) + 0.1123581321) for i in range(dim)
    ]


def lsh_bucket(vec: Column, *, dim: int, bits: int = 12) -> Column:
    """Random-hyperplane sign bucket (bits-wide int) for a vector."""
    acc = F.lit(0).cast("long")
    for b in range(bits):
        plane = F.array(*[F.lit(w) for w in _hyperplane(dim, b)])
        acc = acc + F.when(dot(vec, plane) > 0, F.lit(2**b).cast("long")).otherwise(0)
    return acc


def sql_lsh_topk(
    *,
    table: str = "embeddings",
    query_pred: str = "vec_id < 10",
    k: int = 5,
    dim: int = 64,
    bits: int = 4,
) -> str:
    """DuckDB mirror of single-probe :func:`lsh_topk`: the hyperplane
    weights are the SAME Python-generated double literals the Spark plan
    embeds via ``F.lit`` (no trig evaluated in either engine), and both
    sides use the identical left-fold dot product — bucket assignment and
    re-rank scores reproduce bit-for-bit, giving the 'approximate' ANN
    path a hash-exact differential oracle."""

    def plane_lit(b: int) -> str:
        return "[" + ", ".join(sql_double(w) for w in _hyperplane(dim, b)) + "]"

    def bucket_expr(col: str) -> str:
        terms = [
            f"(CASE WHEN ({SQL_DOT.format(a=col, b=plane_lit(b))}) > 0 "
            f"THEN {2 ** b} ELSE 0 END)"
            for b in range(bits)
        ]
        return "(" + " + ".join(terms) + ")"

    cos = (
        f"round(({SQL_DOT.format(a='c.embedding', b='q.qv')}) / "
        f"(({SQL_NORM.format(a='c.embedding')}) * ({SQL_NORM.format(a='q.qv')})), 6)"
    )
    parts = [
        f"""c AS (
  SELECT vec_id, embedding, {bucket_expr('embedding')} AS bucket
  FROM {table}
)""",
        f"""q AS (
  SELECT vec_id AS query_id, embedding AS qv, bucket
  FROM c WHERE {query_pred}
)""",
        f"""scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, {cos} AS cosine
  FROM c JOIN q USING (bucket)
  WHERE c.vec_id != q.query_id
)""",
    ]
    return sql_ranked_topk(parts, k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    bits: int = 12,
) -> DataFrame:
    """Approximate top-k: exact re-rank restricted to the query's LSH
    bucket. Build is one linear pass; probe touches ~corpus/2^bits rows."""
    c = _keyed(corpus, id_col, vec_col, "neighbor_id", "cv").withColumn(
        "bucket", lsh_bucket(F.col("cv"), dim=dim, bits=bits)
    )
    q = _keyed(queries, id_col, vec_col, "query_id", "qv").withColumn(
        "bucket", lsh_bucket(F.col("qv"), dim=dim, bits=bits)
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cosine", F.round(cosine(F.col("qv"), F.col("cv")), 6))
    )
    return ranked_topk(scored, k)


def ivf_train(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    iters: int = 2,
) -> DataFrame:
    """Coarse quantizer for IVF: ``nlist`` centroids from a few Lloyd
    iterations, fully distributed and deterministic (seed centroids = the
    nlist lowest-id vectors; order-fixed dot products; id tie-breaks).

    Each iteration = one broadcast assignment pass + one posexplode
    groupBy mean — no vectors ever reach the driver; lineage is cut per
    iteration with a materialization so the loop's plan stays bounded.
    Clusters that go empty during an update RETAIN their previous
    centroid (left-join + coalesce), so the trainer always returns
    exactly ``nlist`` centroids regardless of the data distribution.
    At 10^9 vectors, train on a sampled slice and keep iters small —
    the quantizer only needs to be roughly balanced, not converged.
    """
    vecs = _keyed(df, id_col, vec_col, "_vid", "v")
    # Seed selection via TakeOrderedAndProject (per-partition top-k +
    # driver merge of nlist rows) — NOT an unpartitioned window, which
    # would funnel the whole corpus through one task.
    seeds = vecs.orderBy("_vid").limit(nlist)
    w_seed = Window.orderBy("_vid")  # over nlist rows only — trivial
    cents = materialize(
        seeds.withColumn("_rn", F.row_number().over(w_seed))
        .select((F.col("_rn") - 1).alias("_cid"), F.col("v").alias("cvec")),
        eager=True,
    )
    for _ in range(iters):
        assigned = _nearest_lists(vecs, cents, 1, key="_vid", vec="v")
        new_means = (
            assigned.select("cluster_id", F.posexplode("v"))
            .groupBy("cluster_id", "pos")
            .agg(F.avg("col").alias("cv"))
            .groupBy("cluster_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                    lambda s: s.cv,
                ).alias("new_cvec")
            )
            .select(F.col("cluster_id").alias("_cid"), "new_cvec")
        )
        # A cluster that captured no vectors this round keeps its previous
        # centroid (left-join + coalesce) instead of silently vanishing —
        # the update step must always return exactly nlist centroids.
        cents = materialize(
            cents.select("_cid", F.col("cvec").alias("old_cvec"))
            .join(new_means, "_cid", "left")
            .select(
                "_cid", F.coalesce("new_cvec", "old_cvec").alias("cvec")
            ),
            eager=True,
        )
    return cents


def _ivf_lists(
    corpus: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    key: str,
    vec: str,
    nlist: int,
    iters: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train the coarse quantizer (:func:`ivf_train`) and assign every
    corpus vector its list: ``(centroids, corpus as (key, vec), corpus as
    (key, vec, cluster_id))``."""
    cents = ivf_train(corpus, id_col=id_col, vec_col=vec_col, nlist=nlist, iters=iters)
    c = _keyed(corpus, id_col, vec_col, key, vec)
    return cents, c, _nearest_lists(c, cents, 1, key=key, vec=vec)


def _ivf2_leaves(
    corpus: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    key: str,
    vec: str,
    nlist1: int,
    nlist2: int,
    iters: int,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """The two-level index of :func:`ivf2_topk`: level-1 lists
    (:func:`_ivf_lists`), then ``nlist2`` squared-L2 sub-cells per list,
    trained by :func:`pq_train` with the list id as the grouping column and
    the full vector as the "subvector". Returns ``(centroids, corpus as
    (key, vec), corpus with cluster_id, sub-centroids (m, code, cbvec),
    leaf codes (key, m, code))``."""
    cents1, c, a1 = _ivf_lists(
        corpus, id_col=id_col, vec_col=vec_col, key=key, vec=vec,
        nlist=nlist1, iters=iters,
    )
    rows = a1.select(key, F.col("cluster_id").alias("m"), F.col(vec).alias("sub"))
    cb2 = pq_train(rows, key_col=key, num_sub=nlist1, ksub=nlist2, iters=iters)
    return cents1, c, a1, cb2, _argmin_code(rows, cb2, key_col=key)


def _nearest_subcells(
    probes: DataFrame, subcents: DataFrame, n: int, *, cell: str, code: str
) -> DataFrame:
    """Level-2 probe: inside each probed list ``cell``, the ``n``
    sub-centroids ``(cell, code, cbvec)`` nearest the query ``qv`` by
    round-6 squared L2, ties on the lower ``code``."""
    scored = probes.join(F.broadcast(subcents), cell).withColumn(
        "_d", F.round(l2sq(F.col("qv"), F.col("cbvec")), 6)
    )
    w = Window.partitionBy("query_id", cell).orderBy(F.asc("_d"), F.asc(code))
    return scored.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= n
    )


SQL_L2SQ = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(range(1, len({a}) + 1), "
    "i -> (({a})[i]::DOUBLE - ({b})[i]::DOUBLE) * "
    "(({a})[i]::DOUBLE - ({b})[i]::DOUBLE))), (acc, x) -> acc + x)"
)


def _sql_cos(a: str, b: str, digits: int | None) -> str:
    raw = (
        f"({SQL_DOT.format(a=a, b=b)}) / "
        f"(({SQL_NORM.format(a=a)}) * ({SQL_NORM.format(a=b)}))"
    )
    return raw if digits is None else f"round({raw}, {digits})"


def sql_ranked_topk(parts: list[str], k: int) -> str:
    """``WITH <parts>`` and the :func:`ranked_topk` tail over their last
    CTE ``scored (query_id, neighbor_id, cosine)``: the top ``k`` rows per
    query by (cosine desc, neighbor_id asc), numbered as BIGINT ``rank``."""
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT query_id, neighbor_id, cosine,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
       ) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= {k}
"""


def _sql_nearest_lists(
    name: str,
    table: str,
    cents: str,
    n: int,
    *,
    out: str = "vec_id, cid",
    key: str = "vec_id",
    where: str | None = None,
    materialized: bool = False,
) -> str:
    """CTE ``name``: the ``n`` centroids of CTE ``cents (cid, cvec)``
    nearest each vector of ``table`` (only the rows matching ``where``,
    if given) by round-6 cosine desc, ties on the lower cid — the
    :func:`_nearest_lists` rule in SQL. The vector id is named ``key``;
    the CTE selects ``out`` over ``(key, cid, cvec)``."""
    mat = " MATERIALIZED" if materialized else ""
    cond = f"\n    WHERE {where}" if where else ""
    return f"""{name} AS{mat} (
  SELECT {out}
  FROM (
    SELECT e.vec_id AS {key}, c.cid, c.cvec,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_cos('e.embedding', 'c.cvec', 6)} DESC, c.cid
           ) AS rn
    FROM {table} e CROSS JOIN {cents} c{cond}
  ) WHERE rn <= {n}
)"""


def _sql_rerank(table: str, src: str, order: str, n: int) -> list[str]:
    """CTEs ``short`` (the first ``n`` rows of ``src`` per query by
    ``order``, ties on neighbor_id asc: the :func:`_shortlist` rule) and
    ``scored`` (their exact round-6 cosine on the raw vectors)."""
    cos = _sql_cos("n.embedding", "q.embedding", 6)
    return [
        f"""short AS (
  SELECT query_id, neighbor_id
  FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (
             PARTITION BY query_id ORDER BY {order}, neighbor_id ASC
           ) AS rn
    FROM {src}
  ) WHERE rn <= {n}
)""",
        f"""scored AS (
  SELECT s.query_id, s.neighbor_id, {cos} AS cosine
  FROM short s
  JOIN {table} n ON n.vec_id = s.neighbor_id
  JOIN {table} q ON q.vec_id = s.query_id
)""",
    ]


def _sql_adc_rerank(table: str, on: list[str], rerank: int) -> list[str]:
    """The :func:`_adc_shortlist` → :func:`_rerank` tail in SQL over CTEs
    ``codes (neighbor_id, *on)`` and ``lut (query_id, *on, pdist)``."""
    cond = " AND ".join(f"l.{c} = c.{c}" for c in on)
    adc = f"""adc AS MATERIALIZED (
  SELECT l.query_id, c.neighbor_id, round(sum(l.pdist), 6) AS adc_dist
  FROM codes c
  JOIN lut l ON {cond}
  WHERE c.neighbor_id != l.query_id
  GROUP BY 1, 2
)"""
    return [adc, *_sql_rerank(table, "adc", "adc_dist ASC", rerank)]


def _sql_lloyd_ctes(table: str, k: int, iters: int) -> list[str]:
    """Chained CTEs for the seeded Lloyd loop (the :func:`ivf_train`
    semantics in SQL): seeds = k lowest ids, round-6 cosine argmin with
    id tie-breaks, per-position double means, empty-cluster retention.
    Final centroids land in CTE ``c{iters}``."""
    parts = [
        f"""c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         list_transform(embedding, x -> x::DOUBLE) AS cvec
  FROM (SELECT vec_id, embedding FROM {table} ORDER BY vec_id LIMIT {k})
)"""
    ]
    for i in range(iters):
        parts.append(_sql_nearest_lists(f"a{i}", table, f"c{i}", 1))
        parts.append(
            f"""m{i} AS (
  SELECT g.cid, u.i AS pos, avg((e.embedding)[u.i]::DOUBLE) AS mv
  FROM a{i} g
  JOIN {table} e USING (vec_id),
       unnest(range(1, len(e.embedding) + 1)) AS u(i)
  GROUP BY g.cid, u.i
)""")
        parts.append(
            f"""c{i + 1} AS (
  SELECT c.cid, coalesce(n.new_cvec, c.cvec) AS cvec
  FROM c{i} c LEFT JOIN (
    SELECT cid, list(mv ORDER BY pos) AS new_cvec FROM m{i} GROUP BY cid
  ) n USING (cid)
)""")
    return parts


def sql_kmeans_profile(
    *, table: str = "embeddings", k: int = 8, iters: int = 4
) -> str:
    """DuckDB mirror of :func:`kmeans_profile`: the seeded Lloyd loop
    unrolled into chained CTEs, then the per-cluster profile. Both
    engines make identical assignment decisions (the round-6 argmin
    absorbs double-sum ordering noise in the means), turning the
    'iterative, not SQL-expressible' query into a full differential
    check."""
    parts = _sql_lloyd_ctes(table, k, iters)
    parts.append(
        _sql_nearest_lists("fin", table, f"c{iters}", 1, out="vec_id, cid, cvec")
    )
    body = ",\n".join(parts)
    l2 = SQL_L2SQ.format(a="e.embedding", b="f.cvec")
    cos_raw = _sql_cos("e.embedding", "f.cvec", None)
    return f"""
WITH {body}
SELECT f.cid AS cluster_id, count(*) AS size,
       round(sum({l2}), 4) AS inertia,
       round(avg({cos_raw}), 6) AS avg_cosine
FROM fin f
JOIN {table} e USING (vec_id)
GROUP BY f.cid
ORDER BY f.cid
"""


def sql_ivf_topk(
    *,
    table: str = "embeddings",
    query_pred: str = "vec_id < 10",
    k: int = 5,
    nlist: int = 8,
    nprobe: int = 3,
    iters: int = 2,
) -> str:
    """DuckDB mirror of :func:`ivf_topk`: replays the Lloyd-trained
    coarse quantizer (shared CTE builder), corpus list assignment, the
    nprobe nearest-list selection per query, and the exact re-rank inside
    the probed lists — the full IVF-Flat pipeline as one differential
    check (approximate vs brute force by design, deterministic in
    execution)."""
    cents = f"c{iters}"
    parts = _sql_lloyd_ctes(table, k=nlist, iters=iters)
    parts.append(_sql_nearest_lists("asg", table, cents, 1))
    parts.append(
        _sql_nearest_lists(
            "probes", table, cents, nprobe, out="query_id, cid", key="query_id",
            where=query_pred,
        )
    )
    cos = _sql_cos("n.embedding", "q.embedding", 6)
    parts.append(
        f"""scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, {cos} AS cosine
  FROM probes p
  JOIN {table} q ON q.vec_id = p.query_id
  JOIN asg a ON a.cid = p.cid
  JOIN {table} n ON n.vec_id = a.vec_id
  WHERE n.vec_id != q.vec_id
)"""
    )
    return sql_ranked_topk(parts, k)


def sql_ivf_topk_expected(
    sf_dir: str,
    *,
    table: str = "embeddings",
    query_pred: str = "vec_id < 10",
    k: int = 5,
    nlist: int = 8,
    nprobe: int = 3,
    iters: int = 2,
) -> str:
    """Literal-VALUES oracle for :func:`ivf_topk` — the bounded-memory
    replacement for :func:`sql_ivf_topk` at large scale factors (the
    unrolled Lloyd CTEs re-derive corpus×centroid cross products per
    iteration and made DuckDB disk-bound at sf1). Replays the exact
    operator arithmetic in numpy/Python: float32→float64 embedding cast
    (exact), ordered LEFT-FOLD dot products (np.cumsum accumulates
    sequentially along the dim axis — the same add order as Spark's
    F.aggregate fold and DuckDB's list_reduce), IEEE sqrt/divide, Spark
    round-6 (:func:`tables.spark_round`) before every argmin/rank decision
    with cid/neighbor-id tie-breaks, per-cluster means summed in vec_id
    order (order differences are absorbed by the round-6 decisions, the
    same robustness contract the SQL oracle relied on), empty-cluster
    retention. Memory is O(corpus × dim); the OPQ/xxh64 literal-oracle
    precedent."""
    import numpy as np

    con = duck_connection(sf_dir)
    rows = con.execute(
        f"SELECT vec_id, embedding FROM {table} ORDER BY vec_id"
    ).fetchall()
    qids = [
        r[0]
        for r in con.execute(
            f"SELECT vec_id FROM {table} WHERE {query_pred} ORDER BY vec_id"
        ).fetchall()
    ]
    con.close()

    ids = np.array([r[0] for r in rows], dtype=np.int64)
    vecs = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.sqrt(np.cumsum(vecs * vecs, axis=1)[:, -1])

    def cos6_vs_centroid(c: np.ndarray) -> np.ndarray:
        """round6(cosine(v, c)) for every corpus vector — ordered fold."""
        dots = np.cumsum(vecs * c[None, :], axis=1)[:, -1]
        cnorm = float(np.sqrt(np.cumsum(c * c)[-1]))
        sims = dots / (norms * cnorm)
        return np.array([spark_round(float(s), 6) for s in sims])

    def rank_centroids(cents: list[np.ndarray]) -> np.ndarray:
        """(N, nlist) round-6 sims, one column per cid."""
        return np.stack([cos6_vs_centroid(c) for c in cents], axis=1)

    # Seeds: the nlist lowest-id vectors, cid assigned in vec_id order.
    cents = [vecs[i].copy() for i in range(nlist)]
    for _ in range(iters):
        sims = rank_centroids(cents)
        # argmax by (sim desc, cid asc): np.argmax returns the FIRST
        # maximal index — exactly the lowest-cid tie-break.
        assign = np.argmax(sims, axis=1)
        for cid in range(nlist):
            mask = assign == cid
            if not mask.any():
                continue  # empty cluster retains its previous centroid
            sub = vecs[mask]  # already in ascending vec_id order
            cents[cid] = np.cumsum(sub, axis=0)[-1, :] / float(sub.shape[0])
    sims = rank_centroids(cents)
    assign = np.argmax(sims, axis=1)

    id_to_ix = {int(v): i for i, v in enumerate(ids)}
    out: list[tuple[int, int, float, int]] = []
    for qid in qids:
        qx = id_to_ix[int(qid)]
        qsims = sims[qx]
        probe_order = sorted(range(nlist), key=lambda c: (-qsims[c], c))
        probed = set(probe_order[:nprobe])
        cand_ix = [
            i
            for i in range(len(ids))
            if int(assign[i]) in probed and int(ids[i]) != int(qid)
        ]
        qv = vecs[qx]
        qn = float(norms[qx])
        scored = []
        for i in cand_ix:
            d = float(np.cumsum(qv * vecs[i])[-1])
            scored.append(
                (spark_round(d / (qn * float(norms[i])), 6), int(ids[i]))
            )
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rank, (c6, nid) in enumerate(scored[:k], start=1):
            out.append((int(qid), nid, c6, rank))

    return values_sql(
        "query_id BIGINT, neighbor_id BIGINT, cosine DOUBLE, rank BIGINT", out
    )


def kmeans_profile(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 4,
) -> DataFrame:
    """Distributed Lloyd k-means (the :func:`ivf_train` loop) surfaced as
    a clustering operator: train ``k`` centroids with ``iters`` iterations,
    assign every vector, and return per-cluster profiles
    ``(cluster_id, size, inertia, avg_cosine)``.

    Everything stays distributed: per iteration one broadcast assignment
    pass over the corpus plus one posexplode mean — vectors never reach
    the driver, so the same plan runs at 10^9 vectors (train on a sample
    there; the profile pass is a single scan either way)."""
    cents, _, assigned = _ivf_lists(
        df, id_col=id_col, vec_col=vec_col, key="_vid", vec="v", nlist=k, iters=iters
    )
    j = assigned.join(
        F.broadcast(cents), assigned["cluster_id"] == cents["_cid"]
    )
    return (
        j.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("size"),
            F.round(F.sum(l2sq(F.col("v"), F.col("cvec"))), 4).alias("inertia"),
            F.round(F.avg(cosine(F.col("v"), F.col("cvec"))), 6).alias("avg_cosine"),
        )
        .orderBy("cluster_id")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    iters: int = 2,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into ``nlist``
    inverted lists, probe the ``nprobe`` lists nearest to each query, and
    exact-re-rank only those lists' vectors (the standard IVF-Flat
    architecture; FAISS's CPU path, expressed as DataFrame ops).

    Probe cost ≈ corpus × nprobe / nlist per query versus full-scan
    brute force; recall is tunable with nprobe (= exact when
    nprobe = nlist). Approximate by design → rows-only driver check, with
    a planted-neighbor recall test in tests/test_llmdata.py."""
    cents, _, c_assigned = _ivf_lists(
        corpus, id_col=id_col, vec_col=vec_col, key="neighbor_id", vec="cv",
        nlist=nlist, iters=iters,
    )
    q = _keyed(queries, id_col, vec_col, "query_id", "qv")
    q_probes = _nearest_lists(q, cents, nprobe, key="query_id", vec="qv")
    scored = (
        c_assigned.join(F.broadcast(q_probes), "cluster_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.round(cosine(F.col("qv"), F.col("cv")), 6))
    )
    return ranked_topk(scored, k)


def sql_ivf_pq_topk(
    *,
    table: str = "embeddings",
    query_pred: str = "vec_id < 10",
    k: int = 5,
    nlist: int = 8,
    nprobe: int = 3,
    num_sub: int = 8,
    ksub: int = 16,
    rerank: int = 32,
    iters: int = 2,
    dim: int = 64,
) -> str:
    """DuckDB mirror of :func:`ivf_pq_topk` — the ENTIRE IVF-PQ pipeline
    replayed: coarse Lloyd training (shared CTE builder), residual
    computation, per-subspace codebook training with empty-code
    retention, code assignment (round-6 squared-L2 argmin, code
    tie-break via struct min — the same lexicographic struct comparison
    Spark's ``F.min(struct(d, code))`` performs), ADC LUT scoring,
    shortlist selection and the exact re-rank. Every ranking decision is
    made on round-6 values, so last-ulp noise in double-aggregated
    means/residuals cannot flip a decision in one engine only."""
    dsub = _subspace_dim(dim, num_sub)
    cents = f"c{iters}"
    parts = _sql_lloyd_ctes(table, k=nlist, iters=iters)
    parts.append(
        _sql_nearest_lists(
            "asg", table, cents, 1, out="vec_id, cid, cvec", materialized=True
        )
    )
    parts.append(
        f"""res AS MATERIALIZED (
  SELECT a.vec_id, a.cid,
         list_transform(range(1, {dim} + 1),
                        i -> (e.embedding)[i]::DOUBLE - (a.cvec)[i]) AS rv
  FROM asg a JOIN {table} e USING (vec_id)
)"""
    )
    parts += _sql_pq_chain(
        num_sub=num_sub, dsub=dsub, ksub=ksub, pq_iters=iters,
        sub_sql=_sql_subspaces("res", "rv", dsub, num_sub),
    )
    parts.append(
        f"""codes AS MATERIALIZED (
  SELECT a.vec_id AS neighbor_id, r.cid AS cluster_id, a.m, a.code
  FROM as{iters} a JOIN res r ON r.vec_id = a.vec_id
)"""
    )
    parts.append(
        _sql_nearest_lists(
            "probes", table, cents, nprobe, out="query_id, cid, cvec",
            key="query_id", where=query_pred, materialized=True,
        )
    )
    parts.append(
        f"""qsub AS MATERIALIZED (
  SELECT p.query_id, p.cid, CAST(u.m AS INT) AS m,
         list_transform(range(u.m * {dsub} + 1, u.m * {dsub} + {dsub} + 1),
                        i -> (e.embedding)[i]::DOUBLE - (p.cvec)[i]) AS qs
  FROM probes p JOIN {table} e ON e.vec_id = p.query_id,
       unnest(range(0, {num_sub})) AS u(m)
)"""
    )
    l2_q_cb = SQL_L2SQ.format(a="q.qs", b="cb.cbvec")
    parts.append(
        f"""lut AS MATERIALIZED (
  SELECT q.query_id, q.cid AS cluster_id, q.m, cb.code,
         round({l2_q_cb}, 6) AS pdist
  FROM qsub q JOIN cb{iters} cb USING (m)
)"""
    )
    parts += _sql_adc_rerank(table, ["cluster_id", "m", "code"], rerank)
    return sql_ranked_topk(parts, k)


def l2sq(a: Column, b: Column) -> Column:
    """Order-fixed left-fold squared L2 distance in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sub_rows(
    df: DataFrame, *, key_col: str, vec_alias: str, num_sub: int, dsub: int
) -> DataFrame:
    """Explode a vector column into ``num_sub`` subspace rows
    ``(key, m, sub)`` where ``sub`` is the m-th length-``dsub`` slice.
    Native slice expressions — one generate pass, no lambdas in the
    per-subvector hot path."""
    pieces = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice(F.col(vec_alias), m * dsub + 1, dsub).alias("sub"),
            )
            for m in range(num_sub)
        ]
    )
    return df.select(key_col, F.explode(pieces).alias("_p")).select(
        key_col, F.col("_p.m").alias("m"), F.col("_p.sub").alias("sub")
    )


def _argmin_code(
    rows: DataFrame, codebook: DataFrame, *, key_col: str, carry_sub: bool = False
) -> DataFrame:
    """Assign each ``(key, m, sub)`` row the code of its nearest codebook
    entry (squared L2; deterministic tie-break on code asc). The codebook
    is broadcast; argmin is a ``min_by``-style partial-aggregated groupBy —
    one shuffle keyed by (key, m), never a window over the joined rows.

    With ``carry_sub=True`` the output additionally carries the row's own
    subvector — every row of a (key, m) group holds the IDENTICAL ``sub``
    bytes (the group is one input row fanned out over the broadcast
    codebook), so riding it through the min-struct is deterministic: the
    (d, code) prefix is unique per group and decides the min before
    ``sub`` is ever compared. Callers that need ``sub`` next to the
    assignment (Lloyd mean updates) then skip a corpus-scale join back
    to ``rows`` (optimization round 11; guide §2.4)."""
    # round-6 before the argmin (the _nearest_lists ulp-robustness
    # rule: codebook means are double aggregates whose summation order
    # differs across engines/partitionings; ties resolve on code asc —
    # mirrored by the SQL oracle).
    fields = [
        F.round(l2sq(F.col("sub"), F.col("cbvec")), 6).alias("d"),
        F.col("code").alias("code"),
    ]
    if carry_sub:
        fields.append(F.col("sub").alias("sub"))
    scored = rows.join(F.broadcast(codebook), "m").select(
        key_col, "m", F.struct(*fields).alias("dc")
    )
    out_cols = [key_col, "m", F.col("best.code").alias("code")]
    if carry_sub:
        out_cols.append(F.col("best.sub").alias("sub"))
    return (
        scored.groupBy(key_col, "m")
        .agg(F.min("dc").alias("best"))
        .select(*out_cols)
    )


def pq_train(
    sub_rows: DataFrame,
    *,
    key_col: str,
    num_sub: int,
    ksub: int = 16,
    iters: int = 2,
    complete_keys: bool = False,
) -> DataFrame:
    """Per-subspace product-quantization codebooks: ``ksub`` centroids per
    subspace from a few Lloyd iterations over ``(key, m, sub)`` rows —
    all ``num_sub`` subspaces train concurrently in the same distributed
    passes (grouping carries ``m``), so training cost does not scale with
    the number of subspaces.

    Deterministic: seeds are the ``ksub`` lowest-key subvectors per
    subspace; assignment tie-breaks on code; lineage cut per iteration.
    At 10^9 vectors train on a sampled slice — the codebook only needs
    coverage, not convergence (same contract as :func:`ivf_train`).
    Returns ``(m, code, cbvec)``.
    """
    # Seed selection (optimization round 11): when every key contributes
    # a row to EVERY subspace (complete_keys=True — the _sub_rows
    # callers: pq/opq/ivf-pq), the ksub*num_sub lowest rows under the
    # total (key, m) order are exactly the ksub lowest-key subvectors of
    # every subspace, so the seeds come from a TakeOrderedAndProject
    # (the ivf_train pattern) and the rank window runs over ksub*num_sub
    # rows only. The previous formulation — kept for callers whose keys
    # appear under a SINGLE m (ivf2's per-cell reuse, where "m" is the
    # level-1 cell id) — sorted the entire subvector relation through
    # num_sub window tasks just to keep ksub rows each.
    w_seed = Window.partitionBy("m").orderBy(F.asc(key_col))
    seeds = (
        sub_rows.orderBy(F.asc(key_col), F.asc("m")).limit(ksub * num_sub)
        if complete_keys
        else sub_rows
    )
    codebook = (
        seeds.withColumn("_rn", F.row_number().over(w_seed))
        .filter(F.col("_rn") <= ksub)
        .select("m", (F.col("_rn") - 1).alias("code"), F.col("sub").alias("cbvec"))
    )
    if not complete_keys:
        # The full-window seed path sorts the entire subvector relation —
        # checkpoint so iteration 1 doesn't run it twice (argmin broadcast
        # + retention join). The complete-keys TakeOrdered seed is a
        # ksub*num_sub-row top-k over the caller's already-materialized
        # relation: re-executing it twice is cheaper than an eager
        # checkpoint job (A/B round 12: 1.53 → 1.34 s per pq_train,
        # bit-identical codebooks).
        codebook = materialize(codebook, eager=True)
    for _ in range(iters):
        # carry_sub rides each row's subvector through the argmin struct,
        # so the mean update needs no corpus-scale join back to sub_rows
        # (one shuffle per Lloyd iteration instead of three).
        coded = _argmin_code(sub_rows, codebook, key_col=key_col, carry_sub=True)
        new_means = (
            coded.select("m", "code", F.posexplode("sub"))
            .groupBy("m", "code", "pos")
            .agg(F.avg("col").alias("cv"))
            .groupBy("m", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                    lambda s: s.cv,
                ).alias("new_cbvec")
            )
        )
        # codes that captured no subvectors retain their previous entry —
        # the update always returns exactly num_sub x ksub codebook rows
        # (same retention rule as ivf_train).
        codebook = materialize(
            codebook.select("m", "code", F.col("cbvec").alias("old_cbvec"))
            .join(new_means, ["m", "code"], "left")
            .select(
                "m", "code", F.coalesce("new_cbvec", "old_cbvec").alias("cbvec")
            ),
            eager=True,
        )
    return codebook


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    num_sub: int = 8,
    ksub: int = 16,
    rerank: int = 32,
    iters: int = 2,
) -> DataFrame:
    """IVF-PQ approximate top-k — the compression tier for 10^9-vector
    corpora (FAISS ``IVFx,PQy`` architecture as DataFrame ops):

    1. coarse-quantize the corpus into ``nlist`` inverted lists
       (:func:`ivf_train`), and encode each vector's RESIDUAL against its
       coarse centroid as ``num_sub`` codes of ``log2(ksub)`` bits via
       per-subspace codebooks (:func:`pq_train`) — the stored
       representation shrinks from ``dim`` floats to ``num_sub`` bytes
       (64x here), which is what lets an exabyte-scale index fit on disk;
    2. per query, probe the ``nprobe`` nearest lists and score candidates
       with asymmetric distance (ADC): a per-(query, list) lookup table of
       subspace distances, summed over each candidate's codes — candidates
       never need their full vectors;
    3. exact-cosine re-rank of the ``rerank`` best ADC candidates only.

    The ADC join carries only ``(candidate, m, code)`` rows against a
    broadcast LUT of ``queries x nprobe x num_sub x ksub`` entries; the
    full-vector join happens for ``rerank`` rows per query only.
    Approximate by design -> rows-only driver check, with planted-neighbor
    and recall tests in tests/test_llmdata.py.
    """
    dim_row = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
    dim = int(dim_row["d"])
    dsub = _subspace_dim(dim, num_sub)

    cents, c, c_assigned = _ivf_lists(
        corpus, id_col=id_col, vec_col=vec_col, key="neighbor_id", vec="cv",
        nlist=nlist, iters=iters,
    )
    # Residual against the assigned coarse centroid, exploded to subspaces;
    # materialized because it feeds codebook training AND encoding.
    c_res = materialize(
        c_assigned.join(
            F.broadcast(cents.withColumnsRenamed({"_cid": "cluster_id"})), "cluster_id"
        )
        .select(
            "neighbor_id",
            "cluster_id",
            F.zip_with("cv", "cvec", lambda x, y: x - y).alias("rv"),
        ),
        eager=True,
    )
    c_sub = _sub_rows(
        c_res.select("neighbor_id", F.col("rv").alias("v")),
        key_col="neighbor_id",
        vec_alias="v",
        num_sub=num_sub,
        dsub=dsub,
    )
    codebook = pq_train(
        c_sub, key_col="neighbor_id", num_sub=num_sub, ksub=ksub, iters=iters,
        complete_keys=True,
    )
    codes = _argmin_code(c_sub, codebook, key_col="neighbor_id").join(
        c_res.select("neighbor_id", "cluster_id"), "neighbor_id"
    )

    # Query side: probe lists, then build the per-(query, list) ADC LUT.
    q = _keyed(queries, id_col, vec_col, "query_id", "qv")
    q_probes = _nearest_lists(
        q, cents, nprobe, key="query_id", vec="qv", keep=("cvec",)
    ).select(
        "query_id",
        "qv",
        "cluster_id",
        F.zip_with("qv", "cvec", lambda x, y: x - y).alias("qr"),
    )
    q_sub = _sub_rows(
        q_probes.select(
            F.concat_ws("#", "query_id", "cluster_id").alias("qc"), F.col("qr").alias("v")
        ),
        key_col="qc",
        vec_alias="v",
        num_sub=num_sub,
        dsub=dsub,
    )
    lut = (
        q_sub.join(F.broadcast(codebook), "m")
        .select(
            F.split_part(F.col("qc"), F.lit("#"), F.lit(1)).cast("long").alias("query_id"),
            F.split_part(F.col("qc"), F.lit("#"), F.lit(2)).cast("long").alias("cluster_id"),
            "m",
            "code",
            F.round(l2sq(F.col("sub"), F.col("cbvec")), 6).alias("pdist"),
        )
    )
    return _rerank(
        _adc_shortlist(codes, lut, ["cluster_id", "m", "code"], rerank), c, q, k
    )


def ivf2_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nlist1: int = 4,
    nlist2: int = 4,
    nprobe1: int = 2,
    nprobe2: int = 2,
    iters: int = 2,
) -> DataFrame:
    """Hierarchical (two-level) IVF top-k: a coarse quantizer over the
    corpus (nlist1 cells, cosine Lloyd), then a per-cell sub-quantizer
    (nlist2 sub-cells each, squared-L2 Lloyd) — probes descend the tree
    (nprobe1 cells -> nprobe2 sub-cells inside each) and only the
    reached leaves are exact-cosine re-ranked. This is the index shape
    that keeps probe cost flat as nlist must grow with the corpus
    (sqrt-scaling lists at 10^9+ vectors get individually too big to
    train/balance flat; two levels give nlist1*nlist2 leaves for
    nlist1+nlist2 training cost).

    Implementation reuse: the per-cell sub-quantizer IS :func:`pq_train`
    with the level-1 cell id as the grouping column and the full vector
    as the "subvector" — same seeded Lloyd, same round-6 argmin and
    tie-breaks, so the DuckDB oracle replays it with the shared CTE
    chain (:func:`_sql_pq_chain` with ``sub_sql``)."""
    cents1, c, _, cb2, codes = _ivf2_leaves(
        corpus, id_col=id_col, vec_col=vec_col, key="neighbor_id", vec="cv",
        nlist1=nlist1, nlist2=nlist2, iters=iters,
    )
    q = _keyed(queries, id_col, vec_col, "query_id", "qv")
    probes1 = _nearest_lists(q, cents1, nprobe1, key="query_id", vec="qv", out="m")
    probes2 = _nearest_subcells(probes1, cb2, nprobe2, cell="m", code="code").select(
        "query_id", "m", "code"
    )
    cands = (
        codes.join(F.broadcast(probes2), ["m", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    return _rerank(cands, c, q, k)


def sql_ivf2_topk(
    *,
    table: str = "embeddings",
    query_pred: str = "vec_id < 10",
    k: int = 5,
    nlist1: int = 4,
    nlist2: int = 4,
    nprobe1: int = 2,
    nprobe2: int = 2,
    iters: int = 2,
    dim: int = 64,
) -> str:
    """DuckDB mirror of :func:`ivf2_topk`: level-1 Lloyd replay (shared
    CTE builder), level-2 per-cell Lloyd via the shared pq_train chain
    (grouping = cell id, subvector = full vector), tree-descent probes,
    exact re-rank."""
    cents = f"c{iters}"
    parts = _sql_lloyd_ctes(table, k=nlist1, iters=iters)
    parts.append(_sql_nearest_lists("asg", table, cents, 1, materialized=True))
    parts.append(
        f"""cvx AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM {table}
)"""
    )
    sub_sql = """
  SELECT a.vec_id, CAST(a.cid AS INT) AS m, c.v AS sub
  FROM asg a JOIN cvx c USING (vec_id)"""
    parts += _sql_pq_chain(
        num_sub=nlist1, dsub=dim, ksub=nlist2, pq_iters=iters, sub_sql=sub_sql
    )
    parts.append(
        _sql_nearest_lists(
            "probes1", table, cents, nprobe1, out="query_id, cid AS m",
            key="query_id", where=query_pred, materialized=True,
        )
    )
    l2_q_cb = SQL_L2SQ.format(a="qv.v", b="cb.cbvec")
    parts.append(
        f"""probes2 AS MATERIALIZED (
  SELECT query_id, m, code
  FROM (
    SELECT p.query_id, p.m, cb.code,
           row_number() OVER (
             PARTITION BY p.query_id, p.m
             ORDER BY round({l2_q_cb}, 6) ASC, cb.code ASC
           ) AS rn
    FROM probes1 p
    JOIN cvx qv ON qv.vec_id = p.query_id
    JOIN cb{iters} cb ON cb.m = p.m
  ) WHERE rn <= {nprobe2}
)"""
    )
    cos_final = _sql_cos("n.embedding", "q.embedding", 6)
    parts.append(
        f"""scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, {cos_final} AS cosine
  FROM as{iters} a
  JOIN probes2 p ON p.m = a.m AND p.code = a.code
  JOIN {table} n ON n.vec_id = a.vec_id
  JOIN {table} q ON q.vec_id = p.query_id
  WHERE a.vec_id != p.query_id
)"""
    )
    return sql_ranked_topk(parts, k)


def _rotate_vecs(df: DataFrame, R, *, id_col: str, vec_col: str, out: str = "v") -> DataFrame:
    """Apply a d×d rotation to every vector via an Arrow-batched pandas
    UDF (one numpy matmul per batch). Built-ins would need d interpreted
    lambda folds per row — the codegen anti-pattern SCALE.md documents —
    so this is the legitimate vectorized-UDF case. R rides the closure
    (d² doubles, KBs)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    Rt = np.ascontiguousarray(R.T)

    @pandas_udf("array<double>")
    def rot(col: pd.Series) -> pd.Series:
        M = np.vstack(col.to_numpy())
        return pd.Series(list(M @ Rt))

    return df.select(F.col(id_col), rot(as_double(F.col(vec_col))).alias(out))


def _pq_reconstruct(sub_rows: DataFrame, codebook: DataFrame, *, key_col: str) -> DataFrame:
    """Decode each vector from its nearest-code assignment: codes joined
    back to the broadcast codebook, subvectors reassembled in subspace
    order. Returns ``(key, vhat)``."""
    coded = _argmin_code(sub_rows, codebook, key_col=key_col)
    return (
        coded.join(F.broadcast(codebook), ["m", "code"])
        .groupBy(key_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("m", "cbvec"))),
                    lambda s: s.cbvec,
                )
            ).alias("vhat")
        )
    )


def _cross_products(joined: DataFrame, d: int):
    """Σ ŷ·xᵀ over all rows — the d×d Procrustes matrix, accumulated as
    per-partition numpy partial sums (one d² row per Arrow partition) and
    folded on the driver. Never materializes more than d² doubles
    anywhere, so it is the same plan at 10^9 vectors."""
    import numpy as np
    import pandas as pd

    def part(batches):
        acc = np.zeros((d, d))
        n = 0
        for pdf in batches:
            X = np.vstack(pdf["x"].to_numpy())
            Y = np.vstack(pdf["vhat"].to_numpy())
            acc += Y.T @ X
            n += len(pdf)
        if n:
            yield pd.DataFrame({"mm": [acc.flatten().tolist()]})

    rows = joined.select("x", "vhat").mapInPandas(part, "mm array<double>").collect()
    M = np.zeros((d, d))
    for r in rows:
        M += np.asarray(r["mm"]).reshape(d, d)
    # Round before the SVD: partition-order float drift must not leak into
    # the rotation (determinism under AQE/replays).
    return np.round(M, 6)


def opq_train(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_sub: int = 8,
    ksub: int = 16,
    iters: int = 3,
    pq_iters: int = 2,
):
    """Optimized Product Quantization (OPQ, non-parametric alternation):
    learn an orthogonal rotation R that aligns the vector distribution
    with the PQ subspace grid before encoding, shrinking quantization
    error vs plain PQ at the same bit budget.

    Alternation per iteration: (1) rotate the corpus, (2) train PQ
    codebooks on the rotated vectors (:func:`pq_train`), (3) decode the
    reconstructions, (4) solve the orthogonal Procrustes problem
    ``min_R Σ||R·x − ŷ||²`` — SVD of the d×d matrix Σ ŷ·xᵀ on the driver
    (d=64: trivial), with the matrix itself reduced distributed
    (:func:`_cross_products`). Vectors never reach the driver.

    Deterministic end to end: pq_train's seeded Lloyd, rounded Procrustes
    input, and SVD sign ambiguity cancels inside U·Vᵀ. Returns
    ``(R, codebook)`` with the codebook trained against the final R.
    """
    import numpy as np

    d = int(df.select(F.size(F.col(vec_col)).alias("d")).first()["d"])
    dsub = _subspace_dim(d, num_sub)
    x = materialize(_keyed(df, id_col, vec_col, "_k", "x"), eager=True)

    R = np.eye(d)
    for _ in range(iters):
        y = _rotate_vecs(x, R, id_col="_k", vec_col="x", out="v")
        # Persist the rotated subvector relation for the alternation's
        # lifetime (optimization round 11): pq_train's seed window + its
        # Lloyd assignments + the reconstruction each re-ran the rotation
        # pandas UDF and the subspace explode (~4 full corpus passes per
        # alternation); one MEMORY_AND_DISK materialization replaces them
        # (guide §5: cache what is reused and expensive to recompute —
        # here a per-row matmul crossing the Python boundary).
        sub = _sub_rows(
            y, key_col="_k", vec_alias="v", num_sub=num_sub, dsub=dsub
        ).persist()
        cb = pq_train(
        sub, key_col="_k", num_sub=num_sub, ksub=ksub, iters=pq_iters,
        complete_keys=True,
    )
        vhat = _pq_reconstruct(sub, cb, key_col="_k")
        M = _cross_products(x.join(vhat, "_k"), d)
        sub.unpersist()  # M is collected; nothing lazy still needs sub
        U, _, Vt = np.linalg.svd(M)
        R = U @ Vt
    # Final codebook against the final rotation.
    y = _rotate_vecs(x, R, id_col="_k", vec_col="x", out="v")
    sub = _sub_rows(
        y, key_col="_k", vec_alias="v", num_sub=num_sub, dsub=dsub
    ).persist()
    cb = pq_train(
        sub, key_col="_k", num_sub=num_sub, ksub=ksub, iters=pq_iters,
        complete_keys=True,
    )
    sub.unpersist()  # cb is materialized inside pq_train
    return R, cb


def pq_reconstruction_error(
    df: DataFrame,
    R,
    codebook: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_sub: int = 8,
) -> float:
    """Mean squared quantization error ``avg ||R·x − decode(encode(R·x))||²``
    — the objective OPQ minimizes; used by tests to prove the rotation
    beats identity."""
    dsub = _subspace_dim(R.shape[0], num_sub)
    y = _rotate_vecs(df, R, id_col=id_col, vec_col=vec_col, out="v").select(
        F.col(id_col).alias("_k"), "v"
    )
    sub = _sub_rows(y, key_col="_k", vec_alias="v", num_sub=num_sub, dsub=dsub)
    vhat = _pq_reconstruct(sub, codebook, key_col="_k")
    row = (
        y.join(vhat, "_k")
        .select(l2sq(F.col("v"), F.col("vhat")).alias("e"))
        .agg(F.avg("e").alias("mse"))
        .first()
    )
    return float(row["mse"])


def opq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_sub: int = 8,
    ksub: int = 16,
    rerank: int = 32,
    iters: int = 3,
) -> DataFrame:
    """OPQ-rotated flat-PQ top-k: rotate corpus and queries with the
    learned R, score by asymmetric distance over the 8-byte codes
    (per-query LUT broadcast), exact-cosine re-rank of the shortlist on
    the RAW vectors. Same ADC shape as :func:`ivf_pq_topk`; the rotation
    costs one Arrow matmul pass on each side."""
    R, cb = opq_train(
        corpus, id_col=id_col, vec_col=vec_col, num_sub=num_sub, ksub=ksub,
        iters=iters,
    )
    dsub = _subspace_dim(R.shape[0], num_sub)

    c_rot = _rotate_vecs(corpus, R, id_col=id_col, vec_col=vec_col, out="v").select(
        F.col(id_col).alias("neighbor_id"), "v"
    )
    c_sub = _sub_rows(c_rot, key_col="neighbor_id", vec_alias="v",
                      num_sub=num_sub, dsub=dsub)
    codes = _argmin_code(c_sub, cb, key_col="neighbor_id")

    q_rot = _rotate_vecs(queries, R, id_col=id_col, vec_col=vec_col, out="v").select(
        F.col(id_col).alias("query_id"), "v"
    )
    q_sub = _sub_rows(q_rot, key_col="query_id", vec_alias="v",
                      num_sub=num_sub, dsub=dsub)
    lut = q_sub.join(F.broadcast(cb), "m").select(
        "query_id", "m", "code",
        F.round(l2sq(F.col("sub"), F.col("cbvec")), 9).alias("pdist"),
    )
    return _rerank(
        _adc_shortlist(codes, lut, ["m", "code"], rerank),
        _keyed(corpus, id_col, vec_col, "neighbor_id", "cv"),
        _keyed(queries, id_col, vec_col, "query_id", "qv"),
        k,
    )


def _sql_rot_cte(R, table: str, *, name: str = "rot") -> str:
    """CTE rotating every vector of ``table`` by the literal matrix ``R``
    (rows embedded as exact round-trip double literals):
    ``v[j] = dot(R[j,:], x)`` — the same orientation as
    :func:`_rotate_vecs`'s ``X @ R.T``."""
    rows = ",\n       ".join(
        "[" + ", ".join(sql_double(w) for w in row) + "]" for row in R
    )
    return f"""{name} AS MATERIALIZED (
  SELECT vec_id,
         list_transform([
       {rows}
     ], r -> list_dot_product(r, elist)) AS v
  FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS elist
        FROM {table})
)"""


def _sql_subspaces(src: str, col: str, dsub: int, num_sub: int) -> str:
    """Rows ``(vec_id, m, sub)``: the ``num_sub`` length-``dsub`` slices
    of list column ``col`` of ``src`` (the :func:`_sub_rows` explode)."""
    return f"""
  SELECT vec_id, CAST(u.m AS INT) AS m,
         list_transform(range(u.m * {dsub} + 1, u.m * {dsub} + {dsub} + 1),
                        i -> {col}[i]) AS sub
  FROM {src}, unnest(range(0, {num_sub})) AS u(m)"""


def _sql_pq_chain(
    *, num_sub: int, dsub: int, ksub: int, pq_iters: int, sub_sql: str
) -> list[str]:
    """CTE chain replaying :func:`pq_train` + the final encode over the
    training rows ``sub (vec_id, m, sub)`` that ``sub_sql`` selects:
    grouped lowest-id seeds, ``pq_iters`` Lloyd rounds (round-6
    squared-L2 argmin, code tie-break via struct min, empty-code
    retention), final assignment in ``as{pq_iters}``, final codebook in
    ``cb{pq_iters}``.

    The rows are subspace slices (:func:`_sql_subspaces`) for IVF-PQ and
    OPQ, and for the hierarchical IVF the full vectors grouped by their
    level-1 cluster id (per-cluster k-means IS pq_train with a different
    grouping)."""
    parts = [
        f"""sub AS MATERIALIZED ({sub_sql}
)""",
        f"""cb0 AS MATERIALIZED (
  SELECT m, CAST(rn - 1 AS INT) AS code, sub AS cbvec
  FROM (
    SELECT m, sub,
           row_number() OVER (PARTITION BY m ORDER BY vec_id) AS rn
    FROM sub
  ) WHERE rn <= {ksub}
)""",
    ]
    l2_sub_cb = SQL_L2SQ.format(a="s.sub", b="cb.cbvec")
    for r in range(pq_iters + 1):  # pq_iters training rounds + final encode
        parts.append(
            f"""as{r} AS MATERIALIZED (
  SELECT vec_id, m,
         (min(struct_pack(d := d6, code := code))).code AS code
  FROM (
    SELECT s.vec_id, s.m, cb.code,
           round({l2_sub_cb}, 6) AS d6
    FROM sub s JOIN cb{r} cb USING (m)
  ) GROUP BY vec_id, m
)"""
        )
        if r == pq_iters:
            break
        parts.append(
            f"""cb{r + 1} AS MATERIALIZED (
  SELECT cb.m, cb.code, coalesce(n.new_cbvec, cb.cbvec) AS cbvec
  FROM cb{r} cb LEFT JOIN (
    SELECT m, code, list(cv ORDER BY pos) AS new_cbvec
    FROM (
      SELECT a.m, a.code, u.i AS pos, avg((s.sub)[u.i]) AS cv
      FROM as{r} a
      JOIN sub s ON s.vec_id = a.vec_id AND s.m = a.m,
           unnest(range(1, {dsub} + 1)) AS u(i)
      GROUP BY a.m, a.code, u.i
    ) GROUP BY m, code
  ) n ON n.m = cb.m AND n.code = cb.code
)"""
        )
    return parts


# Generated-oracle cache: keyed by every parameter; the generator runs a
# DuckDB training replay (~1s), and the driver/tests may resolve oracles
# repeatedly in one process.
_SQL_OPQ_CACHE: dict = {}


def sql_opq_topk(
    sf_dir: str,
    *,
    table: str = "embeddings",
    query_pred: str = "vec_id < 10",
    k: int = 5,
    num_sub: int = 8,
    ksub: int = 16,
    rerank: int = 32,
    iters: int = 2,
    pq_iters: int = 2,
    dim: int = 64,
) -> str:
    """Exact DuckDB oracle for :func:`opq_topk`, generated per scale
    factor: the OPQ TRAINING itself is independently replayed — every
    distributed step (rotate, subspace explode, seeded Lloyd codebooks,
    reconstruction, the d×d Procrustes cross-product Σ ŷ·xᵀ rounded to 6
    decimals) runs in DuckDB SQL, and only the 64×64 SVD runs in numpy,
    exactly as the Spark implementation solves it driver-side
    (:func:`opq_train`). The converged rotation is then FROZEN as
    round-trip double literals inside ONE final SQL string that replays
    rotate → PQ train → encode → LUT (round-9) → ADC (round-6) →
    shortlist → exact-cosine re-rank.

    Why this matches bit-for-bit: both engines make every discrete
    decision (seed pick, code argmin, probe/shortlist ranks) on round-6/
    round-9 values whose cross-engine drift is ≤ ~1e-12 (double-sum
    ordering), and both hand the SAME rounded Procrustes matrix to the
    same numpy SVD — so the learned R, all codes, and the final ranks
    coincide, and the output cosines are computed from identical RAW
    vectors on both sides (round-6).
    """
    key = (sf_dir, table, query_pred, k, num_sub, ksub, rerank, iters, pq_iters, dim)
    cached = _SQL_OPQ_CACHE.get(key)
    if cached is not None:
        return cached

    import numpy as np

    dsub = _subspace_dim(dim, num_sub)
    con = duck_connection(sf_dir)

    def pq_ctes(R) -> list[str]:
        return [_sql_rot_cte(R, table)] + _sql_pq_chain(
            num_sub=num_sub, dsub=dsub, ksub=ksub, pq_iters=pq_iters,
            sub_sql=_sql_subspaces("rot", "v", dsub, num_sub),
        )

    def round_M(R) -> "np.ndarray":
        parts = pq_ctes(R)
        parts.append(
            f"""vhat AS MATERIALIZED (
  SELECT a.vec_id, flatten(list(cb.cbvec ORDER BY a.m)) AS vh
  FROM as{pq_iters} a
  JOIN cb{pq_iters} cb ON cb.m = a.m AND cb.code = a.code
  GROUP BY a.vec_id
)"""
        )
        body = ",\n".join(parts)
        sql = f"""
WITH {body}
SELECT ui.i AS i, uj.j AS j,
       round(sum(h.vh[ui.i] * (e.embedding)[uj.j]::DOUBLE), 6) AS mv
FROM vhat h JOIN {table} e ON e.vec_id = h.vec_id,
     unnest(range(1, {dim} + 1)) AS ui(i),
     unnest(range(1, {dim} + 1)) AS uj(j)
GROUP BY 1, 2
"""
        M = np.zeros((dim, dim))
        for i, j, v in con.execute(sql).fetchall():
            M[int(i) - 1][int(j) - 1] = v
        return M

    R = np.eye(dim)
    for _ in range(iters):
        U, _, Vt = np.linalg.svd(round_M(R))
        R = U @ Vt
    con.close()

    # Final SQL with the converged rotation frozen as literals.
    parts = pq_ctes(R)
    parts.append(
        f"""codes AS MATERIALIZED (
  SELECT vec_id AS neighbor_id, m, code FROM as{pq_iters}
)"""
    )
    parts.append(
        f"""qsub AS MATERIALIZED (
  SELECT vec_id AS query_id, CAST(u.m AS INT) AS m,
         list_transform(range(u.m * {dsub} + 1, u.m * {dsub} + {dsub} + 1),
                        i -> v[i]) AS qs
  FROM rot, unnest(range(0, {num_sub})) AS u(m)
  WHERE {query_pred}
)"""
    )
    l2_q_cb = SQL_L2SQ.format(a="q.qs", b="cb.cbvec")
    parts.append(
        f"""lut AS MATERIALIZED (
  SELECT q.query_id, q.m, cb.code, round({l2_q_cb}, 9) AS pdist
  FROM qsub q JOIN cb{pq_iters} cb USING (m)
)"""
    )
    parts += _sql_adc_rerank(table, ["m", "code"], rerank)
    sql = sql_ranked_topk(parts, k)
    _SQL_OPQ_CACHE[key] = sql
    return sql


def centroids(
    df: DataFrame, *, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label centroid, exploded to (label, pos, avg) — the distributed
    formulation (posexplode + groupBy) that never materializes a vector on
    the driver."""
    return (
        df.select(F.col(label_col), F.posexplode(as_double(F.col(vec_col))))
        .groupBy(label_col, "pos")
        .agg(F.round(F.avg("col"), 6).alias("centroid_val"))
    )

"""Scalar quantization (SQ8) ANN tier: 1 byte per dimension.

The third compression rung of the similarity family — between IVF-Flat
(full vectors, operators/similarity.ivf_topk) and IVF-PQ (8 bytes/vector,
similarity.ivf_pq_topk): quantize each dimension to an 8-bit code on the
corpus' per-dimension [min, max] grid (4x smaller than float32, much
higher fidelity than PQ), score queries against the RECONSTRUCTED
vectors, then exact-re-rank a shortlist. This is FAISS's SQ8 index
expressed as DataFrame ops.

Determinism/portability: per-dim min/max are exact (comparisons, no
summation); the quantize/reconstruct arithmetic is a fixed double
expression tree; dot products are order-fixed left-folds; every ranking
decision happens on round-6 values with id tie-breaks. The DuckDB oracle
replays the entire pipeline — train, encode, ADC scoring, shortlist,
re-rank — bit-for-bit.

Scale shape: the trained grid is 2 arrays (one row, broadcast); encoding
is map-only over the corpus; query scoring is a broadcast join (queries
are small); no corpus shuffle anywhere. At 10^9 vectors the shortlist
window partitions by query — never hot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.functions.scalars import half_up
from stock_streaming_data_pipeline_spark.operators.similarity import (
    _keyed,
    _rerank,
    _shortlist,
    _sql_cos,
    _sql_rerank,
    as_double,
    cosine,
    sql_ranked_topk,
)


def sq_train(
    corpus: DataFrame, *, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension [lo, hi] quantization grid: one posexplode +
    min/max agg (exact — comparisons only), folded back into two arrays.
    Returns a single-row DataFrame (lo: array<double>, hi: array<double>)
    meant to be broadcast."""
    ex = corpus.select(
        F.posexplode(as_double(F.col(vec_col))).alias("pos", "x")
    )
    per = ex.groupBy("pos").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    return per.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "lo"))), lambda s: s.lo
        ).alias("lo"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "hi"))), lambda s: s.hi
        ).alias("hi"),
    )


def _grid(lo: F.Column, hi: F.Column) -> F.Column:
    return F.zip_with(
        lo, hi, lambda l, h: F.struct(l.alias("l"), h.alias("h"))
    )


def sq_encode(
    corpus: DataFrame,
    grid: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """8-bit codes: code_d = floor((x−lo)/(hi−lo)·255 + 0.5), clamped to
    255; constant dimensions (hi == lo) encode 0. Map-only over the
    corpus with the broadcast grid."""
    v = as_double(F.col(vec_col))
    code = F.zip_with(
        v,
        _grid(F.col("lo"), F.col("hi")),
        lambda x, s: F.when(s.h == s.l, F.lit(0.0)).otherwise(
            F.least(
                F.lit(255.0),
                half_up((x - s.l) / (s.h - s.l) * F.lit(255.0), 0),
            )
        ),
    )
    return corpus.crossJoin(F.broadcast(grid)).select(
        F.col(id_col).alias("_sqid"), code.alias("code")
    )


def sq_reconstruct(codes: DataFrame, grid: DataFrame) -> DataFrame:
    """Dequantize codes back onto the grid: r_d = lo + code·(hi−lo)/255."""
    recon = F.zip_with(
        F.col("code"),
        _grid(F.col("lo"), F.col("hi")),
        lambda c, s: s.l + c * (s.h - s.l) / F.lit(255.0),
    )
    return codes.crossJoin(F.broadcast(grid)).select(
        "_sqid", recon.alias("recon")
    )


def sq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    shortlist: int = 20,
) -> DataFrame:
    """SQ8 approximate top-k with exact re-rank: queries score against
    reconstructed corpus vectors (the asymmetric-distance path — queries
    stay full-precision), keep a ``shortlist`` per query on the round-6
    approximate cosine, then re-rank the shortlist on true vectors.
    Output schema matches ivf_topk/pq_topk: (query_id, neighbor_id,
    cosine, rank)."""
    grid = sq_train(corpus, vec_col=vec_col)
    codes = sq_encode(corpus, grid, id_col=id_col, vec_col=vec_col)
    recon = sq_reconstruct(codes, grid)
    q = _keyed(queries, id_col, vec_col, "query_id", "qv")
    approx = (
        recon.join(F.broadcast(q), recon["_sqid"] != q["query_id"])
        .withColumn(
            "approx", F.round(cosine(F.col("qv"), F.col("recon")), 6)
        )
        .select("query_id", F.col("_sqid").alias("neighbor_id"), "approx")
    )
    return _rerank(
        _shortlist(approx, shortlist, F.desc("approx")),
        _keyed(corpus, id_col, vec_col, "neighbor_id", "cv"),
        q,
        k,
    )


def sql_sq_topk(
    *,
    table: str = "embeddings",
    query_pred: str = "vec_id < 10",
    k: int = 5,
    shortlist: int = 20,
) -> str:
    """DuckDB replay of :func:`sq_topk` — identical grid, codes,
    reconstruction, scoring and ranking decisions."""
    recon_cos = _sql_cos("q.embedding", "r.recon", 6)
    parts = [
        f"""per AS (
  SELECT u.i AS pos,
         min(e.embedding[u.i]::DOUBLE) AS lo,
         max(e.embedding[u.i]::DOUBLE) AS hi
  FROM {table} e, unnest(range(1, len(e.embedding) + 1)) AS u(i)
  GROUP BY u.i
)""",
        """grid AS (
  SELECT list(lo ORDER BY pos) AS lo, list(hi ORDER BY pos) AS hi FROM per
)""",
        f"""codes AS (
  SELECT e.vec_id, list_transform(range(1, len(e.embedding) + 1),
           i -> CASE WHEN g.hi[i] = g.lo[i] THEN 0.0
                ELSE least(255.0,
                     floor((e.embedding[i]::DOUBLE - g.lo[i])
                           / (g.hi[i] - g.lo[i]) * 255.0 + 0.5)) END) AS code
  FROM {table} e CROSS JOIN grid g
)""",
        """recon AS (
  SELECT c.vec_id, list_transform(range(1, len(c.code) + 1),
           i -> g.lo[i] + c.code[i] * (g.hi[i] - g.lo[i]) / 255.0) AS recon
  FROM codes c CROSS JOIN grid g
)""",
        f"""qs AS (
  SELECT vec_id, embedding FROM {table} WHERE {query_pred}
)""",
        f"""approx AS (
  SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
         {recon_cos} AS approx
  FROM qs q JOIN recon r ON r.vec_id != q.vec_id
)""",
        *_sql_rerank(table, "approx", "approx DESC", shortlist),
    ]
    return sql_ranked_topk(parts, k)

"""Semantic deduplication over an embedding column (SemDeDup-style).

The embedding-space member of the dedup family (exact hash / Jaccard /
MinHash / SimHash in operators/dedup.py): cluster the corpus with the
deterministic Lloyd trainer from operators/similarity.py, then find
near-identical pairs ONLY within a cluster — the cluster structure bounds
the quadratic pair search exactly the way LSH bands do for MinHash, which
is what makes the operator survive a 10^9-vector corpus (cluster count
scales with the corpus; within-cluster populations stay bounded).

A vector is dropped when a lower-id vector in the same cluster has
cosine ≥ threshold (round-6 cosine, id tie-breaks — the same decision
discipline as the rest of the ANN tier, so the DuckDB oracle replays the
whole pipeline bit-for-bit, clustering included).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.operators.similarity import (
    _ivf_lists,
    _sql_cos,
    _sql_lloyd_ctes,
    _sql_nearest_lists,
    cosine,
)


def semantic_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.95,
) -> DataFrame:
    """Within-cluster near-identical pairs (cos ≥ threshold, a < b).

    One broadcast-assignment pass, then a self-equi-join on cluster_id —
    the pair blow-up is confined to each inverted list. The join carries
    (id, vector) only; similarity is computed once per candidate pair.
    """
    _, _, assigned = _ivf_lists(
        df, id_col=id_col, vec_col=vec_col, key="_vid", vec="v", nlist=k, iters=iters
    )
    a = assigned.select(
        F.col("_vid").alias("vec_a"), F.col("v").alias("va"), "cluster_id"
    )
    b = assigned.select(
        F.col("_vid").alias("vec_b"), F.col("v").alias("vb"), "cluster_id"
    )
    return (
        a.join(b, "cluster_id")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("cluster_id", "vec_a", "vec_b", "cos")
    )


def semantic_drop_list(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.95,
) -> DataFrame:
    """The dedup decision: drop every vector that near-duplicates a
    lower-id vector in its cluster; report the keeper and the evidence.
    Composes :func:`semantic_pairs` with a per-victim min-keeper agg."""
    pairs = semantic_pairs(
        df,
        id_col=id_col,
        vec_col=vec_col,
        k=k,
        iters=iters,
        threshold=threshold,
    )
    return pairs.groupBy(F.col("vec_b").alias("vec_id")).agg(
        F.min("vec_a").alias("keeper_id"),
        F.max("cos").alias("max_cos"),
        F.count(F.lit(1)).alias("n_collisions"),
    )


def sql_semantic_drop_list(
    *,
    table: str = "embeddings",
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.95,
) -> str:
    """DuckDB replay: Lloyd CTEs (shared builder) → final assignment →
    within-cluster pair join → per-victim aggregation."""
    parts = _sql_lloyd_ctes(table, k, iters)
    parts.append(_sql_nearest_lists("fin", table, f"c{iters}", 1))
    parts.append(
        f"""asg AS (
  SELECT e.vec_id, f.cid, e.embedding
  FROM fin f
  JOIN {table} e USING (vec_id)
)"""
    )
    cos = _sql_cos("a.embedding", "b.embedding", 6)
    parts.append(
        f"""prs AS (
  SELECT a.cid AS cluster_id, a.vec_id AS vec_a, b.vec_id AS vec_b,
         {cos} AS cos
  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {cos} >= {threshold}
)"""
    )
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT vec_b AS vec_id, min(vec_a) AS keeper_id,
       max(cos) AS max_cos, count(*) AS n_collisions
FROM prs GROUP BY vec_b
"""

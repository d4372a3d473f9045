"""Coreset selection: k-center greedy over an embedding column.

The diversity-sampling tool of a curation pipeline (pick k maximally
spread representatives — for eval-set construction, active-learning
seeds, or cluster initialization): start from the lowest-id vector,
then repeatedly add the point FARTHEST from everything chosen so far
(classic 2-approximation to the k-center objective).

Deterministic by the tier's standard discipline — decisions on round-6
cosine with id tie-breaks — so the greedy loop unrolls into DuckDB CTEs
exactly like the Lloyd/PageRank/BPE oracles: an iterative curation
algorithm under a full differential check.

Scale shape per round: one broadcast of the chosen set (≤ k vectors —
the only driver-side data, k·dim doubles) against a map-side max-sim
pass + a TakeOrdered(1). k rounds total; the corpus never shuffles, and
it is materialized ONCE so each round scans the
checkpointed blocks rather than replaying the full input lineage.

Practical k ceiling: the algorithm is inherently sequential — each of
the k rounds is one full corpus pass plus one 1-row collect, so cost is
k scans of the (checkpointed) corpus and wall-clock is k round-trips.
Use it for k in the hundreds (eval seeds, cluster inits); for
thousands-of-representatives selection switch to cluster-then-sample
(embedding_semantic_dedup / kmeans + per-cluster top-1), which gets the
spread in O(iters) passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.operators.checkpoint import materialize
from stock_streaming_data_pipeline_spark.operators.similarity import (
    _sql_cos,
    as_double,
    cosine,
)


def kcenter_greedy(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """The k chosen ids with their selection rank and, from round 2 on,
    the max-similarity to the previously chosen set at selection time
    (the 'coverage radius' trace)."""
    spark = df.sparkSession
    # Materialize the projected corpus once: every greedy round rescans
    # it, and without the checkpoint each round would re-plan (and
    # re-execute) the full upstream lineage k times.
    vecs = materialize(
        df.select(F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")),
        eager=True,
    )
    first = vecs.orderBy("vid").limit(1).collect()[0]
    chosen = [(first["vid"], list(first["v"]), 1, None)]
    for t in range(2, k + 1):
        ch_df = spark.createDataFrame(
            [(c[0], c[1]) for c in chosen], "cid long, cv array<double>"
        )
        cand = vecs.join(
            ch_df.select(F.col("cid").alias("vid")), "vid", "left_anti"
        )
        scored = (
            cand.crossJoin(F.broadcast(ch_df))
            .withColumn("sim", F.round(cosine(F.col("v"), F.col("cv")), 6))
            .groupBy("vid")
            .agg(F.max("sim").alias("maxsim"), F.first("v").alias("v"))
        )
        pick = scored.orderBy(F.asc("maxsim"), F.asc("vid")).limit(1).collect()[0]
        chosen.append((pick["vid"], list(pick["v"]), t, float(pick["maxsim"])))
    return spark.createDataFrame(
        [(c[0], c[2], c[3]) for c in chosen],
        f"{id_col} long, rank int, max_sim_at_pick double",
    )


def sql_kcenter_greedy(
    *, table: str = "embeddings", k: int = 5
) -> str:
    """DuckDB replay: the greedy rounds unrolled into chained CTEs."""
    parts = [
        f"ch AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM {table})",
        "sel1 AS (SELECT vec_id, v FROM ch WHERE vec_id = (SELECT min(vec_id) FROM ch))",
        "selu1 AS (SELECT vec_id, v FROM sel1)",
    ]
    cos = _sql_cos("c.v", "s.v", 6)
    for t in range(2, k + 1):
        parts.append(
            f"""cand{t} AS (
  SELECT c.vec_id, max({cos}) AS maxsim
  FROM ch c CROSS JOIN selu{t - 1} s
  WHERE c.vec_id NOT IN (SELECT vec_id FROM selu{t - 1})
  GROUP BY c.vec_id
)"""
        )
        parts.append(
            f"""sel{t} AS (
  SELECT ch.vec_id, ch.v,
         (SELECT maxsim FROM cand{t} x WHERE x.vec_id = ch.vec_id) AS maxsim
  FROM ch
  WHERE ch.vec_id = (
    SELECT vec_id FROM cand{t} ORDER BY maxsim ASC, vec_id ASC LIMIT 1)
)"""
        )
        parts.append(
            f"""selu{t} AS (
  SELECT vec_id, v FROM selu{t - 1} UNION ALL SELECT vec_id, v FROM sel{t}
)"""
        )
    finals = ["SELECT vec_id, 1 AS rank, NULL::DOUBLE AS max_sim_at_pick FROM sel1"]
    for t in range(2, k + 1):
        finals.append(
            f"SELECT vec_id, {t} AS rank, maxsim AS max_sim_at_pick FROM sel{t}"
        )
    body = ",\n".join(parts)
    union = "\nUNION ALL\n".join(finals)
    return f"WITH {body}\n{union}"

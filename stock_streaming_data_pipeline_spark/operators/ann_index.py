"""Persisted IVF index: inverted lists as Hive partitions.

The in-memory ANN operators (similarity.py) retrain their coarse
quantizer per query — right for tests, wrong for a production corpus
that is indexed once and probed millions of times. This module persists
the index the way a 100 TB deployment would:

- ``build_ivf_index`` trains the coarse quantizer once, assigns every
  vector, and writes the corpus **partitioned by cluster_id** (one
  directory per inverted list) plus a tiny centroids table.
- ``ivf_index_topk`` reads the centroids (KBs), picks each query's
  ``nprobe`` lists, and scans ONLY those partitions — the
  ``cluster_id IN (...)`` predicate prunes at the directory level
  (PartitionFilters, no file of an unprobed list is even opened), which
  is exactly FAISS's on-disk inverted-list layout expressed as Hive
  partitioning. Probe I/O is corpus x nprobe / nlist instead of a full
  scan.

Equivalence with the retrain-per-query operator and the plan-level
pruning are pinned in tests/test_ann_index.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.operators.similarity import (
    _ivf2_leaves,
    _ivf_lists,
    _keyed,
    _nearest_lists,
    _nearest_subcells,
    cosine,
    ranked_topk,
)
from stock_streaming_data_pipeline_spark.tables import read_parquet


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 8,
    iters: int = 2,
) -> None:
    """Train + assign + persist: ``{path}/lists`` holds the vectors
    partitioned by cluster_id; ``{path}/centroids`` the nlist centroid
    vectors. Both parquet — readable by any engine."""
    cents, _, assigned = _ivf_lists(
        corpus, id_col=id_col, vec_col=vec_col, key="vec_id", vec="v",
        nlist=nlist, iters=iters,
    )
    (
        assigned.select("vec_id", "v", "cluster_id")
        .write.mode("overwrite")
        .partitionBy("cluster_id")
        .parquet(f"{path}/lists")
    )
    cents.select(F.col("_cid").alias("cluster_id"), "cvec").write.mode(
        "overwrite"
    ).parquet(f"{path}/centroids")


def ivf_index_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 3,
) -> DataFrame:
    """Probe a persisted IVF index: centroid scoring happens on the tiny
    centroids table; the big ``lists`` scan carries a partition-column
    semi-join on the probed cluster_ids, so unprobed list directories
    are pruned before any file I/O."""
    cents = read_parquet(spark, f"{path}/centroids")
    q = _keyed(queries, id_col, vec_col, "query_id", "qv")
    q_probes = _nearest_lists(
        q, cents, nprobe, key="query_id", vec="qv", cid="cluster_id"
    )
    lists = read_parquet(spark, f"{path}/lists")
    # Partition pruning: the probed cluster_ids are a tiny driver-side
    # set (<= queries x nprobe values, and the index's nlist bounds it);
    # an IN-list literal predicate prunes list directories at planning
    # time. This is metadata-sized by construction — never corpus data.
    probed = [
        r["cluster_id"]
        for r in q_probes.select("cluster_id").distinct().collect()
    ]
    pruned = lists.filter(F.col("cluster_id").isin(probed))
    scored = (
        pruned.join(F.broadcast(q_probes), "cluster_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", F.round(cosine(F.col("qv"), F.col("v")), 6))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cosine")
    )
    return ranked_topk(scored, k)


def build_ivf2_index(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist1: int = 4,
    nlist2: int = 4,
    iters: int = 2,
) -> None:
    """Persist a HIERARCHICAL (two-level) IVF index: vectors partitioned
    by ``cluster_id/subcell`` (one directory per LEAF), the level-1
    centroids and the per-cell sub-centroids as tiny side tables. The
    training is :func:`similarity.ivf2_topk`'s own (``_ivf2_leaves``:
    cosine Lloyd coarse cells, pq_train per-cell sub-quantizer), so a probe of
    the persisted index answers exactly like the retrain-per-query
    operator — and leaf directories give probes two levels of partition
    pruning (corpus × (nprobe1·nprobe2)/(nlist1·nlist2) I/O)."""
    cents1, _, a1, cb2, codes = _ivf2_leaves(
        corpus, id_col=id_col, vec_col=vec_col, key="vec_id", vec="v",
        nlist1=nlist1, nlist2=nlist2, iters=iters,
    )
    (
        a1.join(codes.select("vec_id", F.col("code").alias("subcell")), "vec_id")
        .select("vec_id", "v", "cluster_id", "subcell")
        .write.mode("overwrite")
        .partitionBy("cluster_id", "subcell")
        .parquet(f"{path}/lists")
    )
    cents1.select(F.col("_cid").alias("cluster_id"), "cvec").write.mode(
        "overwrite"
    ).parquet(f"{path}/centroids")
    cb2.select(
        F.col("m").alias("cluster_id"), F.col("code").alias("subcell"), "cbvec"
    ).write.mode("overwrite").parquet(f"{path}/subcentroids")


def ivf2_index_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe1: int = 2,
    nprobe2: int = 2,
) -> DataFrame:
    """Probe the persisted two-level index: descend centroids →
    sub-centroids on the tiny side tables, then scan ONLY the reached
    leaf directories (a boolean partition predicate over
    (cluster_id, subcell) prunes before any file I/O)."""
    cents = read_parquet(spark, f"{path}/centroids")
    subcents = read_parquet(spark, f"{path}/subcentroids")
    q = _keyed(queries, id_col, vec_col, "query_id", "qv")
    probes1 = _nearest_lists(
        q, cents, nprobe1, key="query_id", vec="qv", cid="cluster_id"
    )
    probes2 = _nearest_subcells(
        probes1, subcents, nprobe2, cell="cluster_id", code="subcell"
    ).select("query_id", "qv", "cluster_id", "subcell")
    # Driver-side leaf set (≤ queries × nprobe1 × nprobe2, bounded by the
    # index's nlist1 × nlist2): a partition-column predicate prunes leaf
    # directories at planning time — metadata-sized by construction.
    leaves = {
        (r["cluster_id"], r["subcell"])
        for r in probes2.select("cluster_id", "subcell").distinct().collect()
    }
    pred = None
    for cid, sub in sorted(leaves):
        clause = (F.col("cluster_id") == cid) & (F.col("subcell") == sub)
        pred = clause if pred is None else (pred | clause)
    lists = read_parquet(spark, f"{path}/lists").filter(pred)
    scored = (
        lists.join(F.broadcast(probes2), ["cluster_id", "subcell"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", F.round(cosine(F.col("qv"), F.col("v")), 6))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cosine")
    )
    return ranked_topk(scored, k)

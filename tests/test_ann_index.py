"""Persisted IVF index: result parity with the in-memory operator and
partition pruning at the plan level."""

from __future__ import annotations

from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.operators import ann_index, similarity
from stock_streaming_data_pipeline_spark.tables import load_table
from tests.conftest import SF_SMOKE


def test_index_topk_matches_inmemory_ivf(spark, tmp_path):
    """Same trainer, same probes, same re-rank — the persisted path must
    return exactly what the retrain-per-query operator returns."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "ivf")
    ann_index.build_ivf_index(emb, path, nlist=8, iters=2)
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in ann_index.ivf_index_topk(
            spark, path, queries, k=5, nprobe=3
        ).collect()
    )
    want = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in similarity.ivf_topk(
            emb, queries, k=5, nlist=8, nprobe=3, iters=2
        ).collect()
    )
    assert got == want and got


def test_index_scan_prunes_unprobed_lists(spark, tmp_path):
    """The lists scan must carry cluster_id as a PartitionFilter (pruned
    before file I/O), and the number of list directories actually read
    must equal the probed set, not nlist."""
    import glob

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") == 3)
    path = str(tmp_path / "ivf")
    ann_index.build_ivf_index(emb, path, nlist=8, iters=2)
    assert len(glob.glob(f"{path}/lists/cluster_id=*")) == 8

    out = ann_index.ivf_index_topk(spark, path, queries, k=5, nprobe=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    seg = plan.split("PartitionFilters", 1)
    assert len(seg) == 2, "lists scan lost its partition filter"
    # one query, nprobe=3 → a static 3-value IN-list prunes 5 of 8
    # list directories before any file I/O (inputFiles() reflects the
    # pre-pruning index, so assert on the pushed filter itself)
    import re

    m = re.search(r"cluster_id#\d+ IN \(([-0-9,]+)\)", seg[1])
    assert m, seg[1][:300]
    assert len(m.group(1).split(",")) == 3


def test_ivf2_index_matches_inmemory_and_prunes_leaves(spark, tmp_path):
    """The persisted two-level index must answer exactly like the
    retrain-per-query ivf2_topk, and its lists scan must carry BOTH
    partition columns (cluster_id, subcell) as PartitionFilters — leaf
    directories outside the probed set are pruned before file I/O."""
    import glob

    from stock_streaming_data_pipeline_spark.operators import similarity

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "ivf2")
    ann_index.build_ivf2_index(emb, path, nlist1=4, nlist2=4, iters=2)
    # 16 leaf directories (some may be empty-code-retained → absent)
    assert len(glob.glob(f"{path}/lists/cluster_id=*/subcell=*")) <= 16

    got = sorted(
        tuple(r)
        for r in ann_index.ivf2_index_topk(
            spark, path, queries, k=5, nprobe1=2, nprobe2=2
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in similarity.ivf2_topk(
            emb, queries, k=5, nlist1=4, nlist2=4, nprobe1=2, nprobe2=2
        ).collect()
    )
    assert got == want and got

    out = ann_index.ivf2_index_topk(spark, path, queries, k=5, nprobe1=1, nprobe2=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    seg = plan.split("PartitionFilters", 1)
    assert len(seg) == 2, "lists scan lost its partition filter"
    assert "cluster_id" in seg[1][:2000] and "subcell" in seg[1][:2000]

"""Tie order of every ANN tier and its oracle.

A tiny corpus makes both kinds of tie happen. With ``nlist=2`` and
``iters=0`` the seed centroids are vectors 0 ``[1, 0, 0, 0]`` and 1
``[0, 1, 0, 0]``; the query (vector 2) and its duplicate (vector 3) lie
at the same cosine from both, so the query must probe list 0 and vector
3 must be assigned to list 0. Vectors 4 and 5 are equal and vector 6 is
at the same cosine from the query, so three neighbors tie. The right
answer is ``[3, 4, 5]``; probing list 1 instead gives ``[3, 6, 1]`` and
assigning vector 3 to list 1 gives ``[4, 5, 0]``. Every tier and every
SQL oracle must return the same rows."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.operators import ann_index, similarity, sq_quant
from stock_streaming_data_pipeline_spark.tables import (
    TABLES,
    duck_connection,
    load_table,
    read_parquet,
    table_path,
)
from tests.conftest import SF_SMOKE

VECS = [
    [1.0, 0.0, 0.0, 0.0],
    [0.0, 1.0, 0.0, 0.0],
    [1.0, 1.0, 0.0, 0.0],
    [1.0, 1.0, 0.0, 0.0],
    [1.0, 0.5, 0.0, 0.0],
    [1.0, 0.5, 0.0, 0.0],
    [0.5, 1.0, 0.0, 0.0],
    [0.0, 1.0, 0.5, 0.0],
]
PRED = "vec_id = 2"
K = 3
TIE = 0.948683  # round-6 cosine of [1, 1, 0, 0] and [1, 0.5, 0, 0]
EXPECTED = [(2, 3, 1.0, 1), (2, 4, TIE, 2), (2, 5, TIE, 3)]


@pytest.fixture(scope="module")
def tie_dir(tmp_path_factory):
    """A table directory whose ``embeddings`` is the tie corpus; the other
    tables link to the smoke tier so every oracle reader opens."""
    d = tmp_path_factory.mktemp("ties")
    for t in TABLES:
        if t != "embeddings":
            os.symlink(table_path(SF_SMOKE, t), table_path(str(d), t))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(VECS)), pa.int64()),
                "embedding": pa.array(VECS, pa.list_(pa.float32())),
            }
        ),
        table_path(str(d), "embeddings"),
    )
    return str(d)


def _rows(df) -> list[tuple]:
    return sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"]) for r in df.collect()
    )


def _duck(sf_dir: str, sql: str) -> list[tuple]:
    con = duck_connection(sf_dir)
    try:
        return sorted(tuple(r) for r in con.execute(sql).fetchall())
    finally:
        con.close()


def test_tiers_rank_lower_ids_first(spark, tie_dir, tmp_path):
    emb = load_table(spark, tie_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") == 2)
    got = {
        "ivf": similarity.ivf_topk(emb, queries, k=K, nlist=2, nprobe=1, iters=0),
        "ivf_pq": similarity.ivf_pq_topk(
            emb, queries, k=K, nlist=2, nprobe=1, num_sub=2, ksub=2, rerank=8,
            iters=0,
        ),
        "ivf2": similarity.ivf2_topk(
            emb, queries, k=K, nlist1=2, nlist2=2, nprobe1=1, nprobe2=2, iters=0
        ),
        "opq": similarity.opq_topk(
            emb, queries, k=K, num_sub=2, ksub=2, rerank=8, iters=0
        ),
        "sq": sq_quant.sq_topk(emb, queries, k=K, shortlist=8),
    }
    ivf_path, ivf2_path = str(tmp_path / "ivf"), str(tmp_path / "ivf2")
    ann_index.build_ivf_index(emb, ivf_path, nlist=2, iters=0)
    got["ivf_index"] = ann_index.ivf_index_topk(spark, ivf_path, queries, k=K, nprobe=1)
    ann_index.build_ivf2_index(emb, ivf2_path, nlist1=2, nlist2=2, iters=0)
    got["ivf2_index"] = ann_index.ivf2_index_topk(
        spark, ivf2_path, queries, k=K, nprobe1=1, nprobe2=2
    )
    assert {name: _rows(df) for name, df in got.items()} == {
        name: EXPECTED for name in got
    }
    # vectors 2 and 3 tie between the lists and go to list 0; vectors 4 and
    # 5 tie between list 0's sub-cells [1, 0, 0, 0] and [1, 1, 0, 0] (both
    # at squared L2 0.25) and go to sub-cell 0
    lists = read_parquet(spark, f"{ivf_path}/lists")
    assert dict(lists.select("vec_id", "cluster_id").collect()) == {
        0: 0, 1: 1, 2: 0, 3: 0, 4: 0, 5: 0, 6: 1, 7: 1
    }
    leaves = read_parquet(spark, f"{ivf2_path}/lists").select(
        "vec_id", F.struct("cluster_id", "subcell")
    )
    assert {v: tuple(leaf) for v, leaf in leaves.collect()} == {
        0: (0, 0), 1: (1, 0), 2: (0, 1), 3: (0, 1),
        4: (0, 0), 5: (0, 0), 6: (1, 1), 7: (1, 0),
    }


def test_oracles_rank_lower_ids_first(tie_dir):
    got = {
        "ivf": similarity.sql_ivf_topk(
            query_pred=PRED, k=K, nlist=2, nprobe=1, iters=0
        ),
        "ivf_expected": similarity.sql_ivf_topk_expected(
            tie_dir, query_pred=PRED, k=K, nlist=2, nprobe=1, iters=0
        ),
        "ivf_pq": similarity.sql_ivf_pq_topk(
            query_pred=PRED, k=K, nlist=2, nprobe=1, num_sub=2, ksub=2,
            rerank=8, iters=0, dim=4,
        ),
        "ivf2": similarity.sql_ivf2_topk(
            query_pred=PRED, k=K, nlist1=2, nlist2=2, nprobe1=1, nprobe2=2,
            iters=0, dim=4,
        ),
        "opq": similarity.sql_opq_topk(
            tie_dir, query_pred=PRED, k=K, num_sub=2, ksub=2, rerank=8,
            iters=0, dim=4,
        ),
        "sq": sq_quant.sql_sq_topk(query_pred=PRED, k=K, shortlist=8),
    }
    assert {name: _duck(tie_dir, sql) for name, sql in got.items()} == {
        name: EXPECTED for name in got
    }

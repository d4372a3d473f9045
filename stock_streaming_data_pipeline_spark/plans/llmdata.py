"""LLM-training-data operators over ``documents`` / ``embeddings``.

Dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash), similarity search,
text analysis, multimodal plumbing — each a catalog query; the
SQL-expressible ones carry exact DuckDB oracles (the portable-hash design
in operators/dedup.py makes even the hash-based signatures oracle-checkable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.functions.scalars import dec38, half_up
from stock_streaming_data_pipeline_spark.operators import (
    bpe,
    coreset,
    dedup,
    graph,
    multimodal,
    retrieval,
    sampling,
    semdedup,
    similarity,
    sq_quant,
    substring,
    text,
    unigram,
)
from stock_streaming_data_pipeline_spark.operators.checkpoint import materialize
from stock_streaming_data_pipeline_spark.plans.catalog import register
from stock_streaming_data_pipeline_spark.tables import duck_connection, load_table, values_sql

# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    tags=("LLM-dedup",),
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
)
SELECT md5(text) AS content_hash,
       min(doc_id) AS keeper_id,
       count(*) AS n_copies
FROM corpus
GROUP BY md5(text)
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content-hash dedup over a corpus with genuine duplicates
    (every 10th document re-ingested under a new id — the at-least-once
    ingestion scenario): keeper = min id, duplicate count per content."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    return dedup.exact_duplicates(
        docs.unionByName(dups), id_col="doc_id", text_col="text"
    )


_SQL_SHINGLES = dedup.sql_shingles("text", 3)


@register(
    "dedup_ngram_jaccard",
    tags=("LLM-dedup",),
    bench=True,
    oracle=f"""
WITH sh AS (
  SELECT doc_id AS doc, unnest({_SQL_SHINGLES}) AS s FROM documents
),
sizes AS (SELECT doc, count(*) AS n FROM sh GROUP BY doc),
common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(c / (sa.n + sb.n - c)::DOUBLE, 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc = doc_a
JOIN sizes sb ON sb.doc = doc_b
WHERE c / (sa.n + sb.n - c)::DOUBLE >= 0.6
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-gram Jaccard near-dup pairs (threshold 0.6) via the
    shingle-inverted-index join — finds the testdata's injected
    near-duplicates."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.6
    )


@register(
    "dedup_containment",
    tags=("LLM-dedup",),
    oracle=f"""
WITH sh AS (
  SELECT doc_id AS doc, unnest({_SQL_SHINGLES}) AS s FROM documents
),
sizes AS (SELECT doc, count(*) AS n FROM sh GROUP BY doc),
common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(c / sa.n::DOUBLE, 6) AS cont_ab,
       round(c / sb.n::DOUBLE, 6) AS cont_ba
FROM common
JOIN sizes sa ON sa.doc = doc_a
JOIN sizes sb ON sb.doc = doc_b
WHERE greatest(c / sa.n::DOUBLE, c / sb.n::DOUBLE) >= 0.8
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional 3-gram containment near-dup pairs (max-side threshold
    0.8) — the short-doc-inside-long-doc dedup signal Jaccard misses;
    same single-shuffle posting-list plan as `dedup_ngram_jaccard`."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.containment_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.8
    )


_MH_BANDS, _MH_ROWS = dedup.lsh_band_params(0.6, num_perm=64)  # -> (16, 4)


@register(
    "dedup_minhash_lsh",
    tags=("LLM-dedup",),
    bench=True,
    oracle=dedup.sql_minhash_lsh_pairs(
        "doc_id", "text", n=3, num_perm=64, bands=_MH_BANDS, threshold=0.6
    ),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + LSH(16 bands × 4) candidates, exact-verified at 0.6 —
    the scale path for the same near-dup query. Though approximate by
    DESIGN (recall < 1 vs the exact join — pinned in tests), the pipeline
    itself is deterministic and engine-portable (md5 base hash, modular
    permutation family, chained-modular band buckets), so the DuckDB
    oracle replays banding + verification bit-for-bit: a full
    differential check of the LSH machinery."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, id_col="doc_id", text_col="text", n=3,
        num_perm=64, bands=_MH_BANDS, threshold=0.6, portable=True,
    )


@register(
    "dedup_minhash_cross",
    tags=("LLM-dedup",),
    oracle=dedup.sql_minhash_lsh_pairs_cross(
        left_select="""
  SELECT doc_id AS doc, text AS txt FROM documents WHERE doc_id % 41 <> 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc, text AS txt FROM documents
  WHERE doc_id % 41 = 0 AND doc_id % 82 = 0
""",
        right_select="SELECT doc_id AS doc, text AS txt FROM documents WHERE doc_id % 41 = 0",
        n=3,
        num_perm=64,
        bands=_MH_BANDS,
        threshold=0.6,
    ),
)
def dedup_minhash_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus MinHash-LSH (train-vs-eval / incremental-ingest
    form): the training side — with half the eval docs PLANTED back in
    verbatim under new ids — banded against the held-out eval slice;
    only bucket-colliding cross pairs are exact-verified at 0.6. The
    planted copies must surface as jaccard-1.0 hits. Same engine-portable
    arithmetic as dedup_minhash_lsh, so the DuckDB oracle replays the
    whole cross pipeline hash-exactly."""
    docs = load_table(spark, sf_dir, "documents")
    evals = docs.filter(F.col("doc_id") % 41 == 0).select("doc_id", "text")
    planted = docs.filter(
        (F.col("doc_id") % 41 == 0) & (F.col("doc_id") % 82 == 0)
    ).select((F.col("doc_id") + 2_000_000).alias("doc_id"), "text")
    train = (
        docs.filter(F.col("doc_id") % 41 != 0)
        .select("doc_id", "text")
        .unionByName(planted)
    )
    return dedup.minhash_lsh_pairs_cross(
        train, evals, id_col="doc_id", text_col="text", n=3,
        num_perm=64, bands=_MH_BANDS, threshold=0.6,
    )


@register(
    "dedup_simhash",
    tags=("LLM-dedup",),
    oracle=dedup.sql_simhash("doc_id", "text"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash signature per document — the whole portable-hash +
    bit-vote pipeline is recomputed independently by the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash(docs, id_col="doc_id", text_col="text")


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_SQL_DOT_AB = similarity.SQL_DOT.format(a="a.embedding", b="b.embedding")
_SQL_NORM_A = similarity.SQL_NORM.format(a="a.embedding")
_SQL_NORM_B = similarity.SQL_NORM.format(a="b.embedding")


@register(
    "embedding_topk",
    tags=("LLM-sim",),
    bench=True,
    oracle=f"""
WITH scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         round(({_SQL_DOT_AB}) / (({_SQL_NORM_A}) * ({_SQL_NORM_B})), 6) AS cosine
  FROM embeddings a, embeddings b
  WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
""",
)
def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 10 query vectors — the exact
    ANN baseline (broadcast queries, order-fixed double folds)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk(emb, queries, k=5)


@register(
    "embedding_hard_negatives",
    tags=("LLM-sim",),
    oracle=f"""
WITH scored AS (
  SELECT a.vec_id AS query_id, a.label AS query_label,
         b.vec_id AS neighbor_id, b.label AS neighbor_label,
         round(({_SQL_DOT_AB}) / (({_SQL_NORM_A}) * ({_SQL_NORM_B})), 6) AS cosine
  FROM embeddings a, embeddings b
  WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id AND b.label <> a.label
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, query_label, neighbor_id, neighbor_label, cosine, rank
FROM ranked WHERE rank <= 3
""",
)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the 3 most similar corpus vectors carrying a DIFFERENT label
    (the near-misses a trainer wants in the batch). Same broadcast/no
    corpus-shuffle shape as the exact top-k; the label predicate rides the
    scoring join, so at scale it composes with the IVF/LSH candidate
    tiers unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        similarity.as_double(F.col("embedding")).alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        similarity.as_double(F.col("embedding")).alias("cv"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("neighbor_label") != F.col("query_label"))
        )
        .withColumn(
            "cosine", F.round(similarity.cosine(F.col("qv"), F.col("cv")), 6)
        )
    )
    return similarity.ranked_topk(
        scored,
        3,
        ("query_id", "query_label", "neighbor_id", "neighbor_label", "cosine", "rank"),
    )


@register(
    "embedding_lsh_topk",
    tags=("LLM-sim",),
    oracle=similarity.sql_lsh_topk(query_pred="vec_id < 10", k=5, dim=64, bits=4),
)
def embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5 (random-hyperplane signs) — the
    sub-linear scale path; recall vs brute force pinned in tests.
    Approximate by DESIGN, deterministic in EXECUTION: the hyperplanes
    are fixed double literals and both engines run the same left-fold
    dot product, so the DuckDB oracle replays bucketing + re-rank
    bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    # bits sizes the bucket fan-out: ~corpus/2^bits candidates per probe.
    # 4 bits → ~1/16th of the corpus per probe at test scale; at 100 TB
    # raise bits to keep buckets ~10^3-10^4 rows.
    return similarity.lsh_topk(emb, queries, k=5, dim=64, bits=4)


@register(
    "embedding_ivf_topk",
    tags=("LLM-sim",),
    # Literal-VALUES oracle (bounded memory at any sf): the unrolled-CTE
    # sql_ivf_topk replay was DuckDB-disk-bound at sf1. Pinned equal to
    # the CTE oracle at sf0.001/0.01 in tests/test_llmdata.py; verified
    # at sf0.1 manually and hash-exact at sf1 (CORRECTNESS_SF1_r8).
    oracle_fn=lambda sf_dir: similarity.sql_ivf_topk_expected(
        sf_dir, query_pred="vec_id < 10", k=5, nlist=8, nprobe=3, iters=2
    ),
)
def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat approximate top-5: deterministic Lloyd-trained coarse
    quantizer (nlist=8), probe the 3 nearest inverted lists per query,
    exact re-rank inside them — the second ANN architecture next to the
    LSH bucketer (FAISS-style IVF as DataFrame ops; recall vs brute force
    pinned in tests). The DuckDB oracle replays training, list
    assignment, probe selection and re-rank — a full differential check
    of the IVF pipeline."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    # nlist sizes the inverted lists (~corpus/nlist rows each); probe cost
    # ≈ corpus * nprobe / nlist per query. At 10^9 vectors raise nlist to
    # ~sqrt(corpus) and train on a sample.
    return similarity.ivf_topk(emb, queries, k=5, nlist=8, nprobe=3)


@register(
    "embedding_ivf_index_topk",
    tags=("LLM-sim",),
    # Shares embedding_ivf_topk's literal-VALUES oracle: the index path
    # must be bit-identical to the retrain-per-query plan.
    oracle_fn=lambda sf_dir: similarity.sql_ivf_topk_expected(
        sf_dir, query_pred="vec_id < 10", k=5, nlist=8, nprobe=3, iters=2
    ),
)
def embedding_ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-index probe path: build the IVF index on disk
    (inverted lists as Hive partitions + a centroids table), then answer
    the same top-5 query by scanning ONLY the probed list partitions
    (PartitionFilters prune the rest before file I/O). Must be
    bit-identical to the retrain-per-query embedding_ivf_topk, so it
    shares that query's full-replay oracle — the differential check
    covers the index build/probe lifecycle too."""
    from stock_streaming_data_pipeline_spark.operators import ann_index
    from stock_streaming_data_pipeline_spark.plans.stock import _session_scratch

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    path = _session_scratch(spark, "ivf_index", sf_dir)
    ann_index.build_ivf_index(emb, path, nlist=8, iters=2)
    return ann_index.ivf_index_topk(spark, path, queries, k=5, nprobe=3)


@register(
    "embedding_ivf2_topk",
    tags=("LLM-sim",),
    oracle=similarity.sql_ivf2_topk(
        query_pred="vec_id < 10", k=5, nlist1=4, nlist2=4,
        nprobe1=2, nprobe2=2, iters=2,
    ),
)
def embedding_ivf2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical (two-level) IVF top-5: coarse cells (nlist1=4) with
    per-cell sub-quantizers (nlist2=4), probes descending the tree
    (2 cells x 2 sub-cells), exact re-rank of the reached leaves — the
    index shape that keeps probe cost flat when flat-IVF list counts
    would have to grow with the corpus (nlist1*nlist2 leaves for
    nlist1+nlist2 training cost). The per-cell sub-quantizer reuses
    pq_train's seeded Lloyd (grouping = cell id, 'subvector' = full
    vector), so the full two-level training + descent replays in the
    DuckDB oracle via the shared CTE chains."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf2_topk(
        emb, queries, k=5, nlist1=4, nlist2=4, nprobe1=2, nprobe2=2, iters=2
    )


@register(
    "embedding_ivf2_index_topk",
    tags=("LLM-sim",),
    oracle=similarity.sql_ivf2_topk(
        query_pred="vec_id < 10", k=5, nlist1=4, nlist2=4,
        nprobe1=2, nprobe2=2, iters=2,
    ),
)
def embedding_ivf2_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted two-level index probe path: build the hierarchical
    IVF index on disk (leaf directories ``cluster_id=X/subcell=Y`` +
    centroid/sub-centroid side tables), then answer the same top-5 query
    scanning ONLY the probed leaves (two levels of partition pruning).
    Training is byte-identical to the retrain-per-query
    embedding_ivf2_topk, so it shares that query's full training-replay
    oracle — the differential check covers the persisted build/probe
    lifecycle too."""
    from stock_streaming_data_pipeline_spark.operators import ann_index
    from stock_streaming_data_pipeline_spark.plans.stock import _session_scratch

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    path = _session_scratch(spark, "ivf2_index", sf_dir)
    ann_index.build_ivf2_index(emb, path, nlist1=4, nlist2=4, iters=2)
    return ann_index.ivf2_index_topk(
        spark, path, queries, k=5, nprobe1=2, nprobe2=2
    )


@register(
    "embedding_kmeans",
    tags=("LLM-sim",),
    oracle=similarity.sql_kmeans_profile(k=8, iters=4),
)
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means over the embedding corpus (k=8, 4
    iterations, deterministic seeds/tie-breaks) with per-cluster size,
    inertia and cohesion. The DuckDB oracle unrolls the same seeded
    Lloyd loop into chained CTEs (round-6 argmin absorbs double-sum
    ordering noise in the means), so even this iterative algorithm
    carries a full differential check; convergence and determinism are
    additionally pinned in tests/test_llmdata.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.kmeans_profile(emb, k=8, iters=4)


@register(
    "embedding_opq_topk",
    tags=("LLM-sim",),
    oracle_fn=lambda sf_dir: similarity.sql_opq_topk(
        sf_dir, query_pred="vec_id < 10", k=5, num_sub=8, ksub=16,
        rerank=32, iters=2, pq_iters=2, dim=64,
    ),
)
def embedding_opq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-rotated PQ approximate top-5: an orthogonal rotation learned by
    alternating PQ training with driver-side 64x64 Procrustes solves
    (corpus-side reductions stay distributed) aligns the distribution
    with the subspace grid before 8-byte encoding — measurably lower
    quantization error than plain PQ at the same bit budget (pinned in
    tests with the recall floor).

    Exact differential despite the learned rotation: the oracle is
    GENERATED per scale factor (similarity.sql_opq_topk) — OPQ training
    is independently replayed in DuckDB (numpy only for the 64×64 SVD,
    mirroring the Spark path's driver-side solve) and the converged
    rotation frozen as literals in one final SQL replay of
    rotate→PQ→ADC→re-rank."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.opq_topk(
        emb, queries, k=5, num_sub=8, ksub=16, rerank=32, iters=2
    )


@register(
    "text_decontamination",
    tags=("LLM-dedup", "LLM-text"),
    oracle=dedup.sql_contamination_report(
        train_select="""
  SELECT doc_id AS doc, text AS txt FROM documents WHERE doc_id % 41 <> 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc, text AS txt FROM documents
  WHERE doc_id % 41 = 0 AND doc_id < 410000 AND doc_id % 82 = 0
  UNION ALL
  SELECT doc_id + 3000000 AS doc,
         substr(text, 1, floor(n_chars / 2)::INT) AS txt
  FROM documents WHERE doc_id % 41 = 0 AND doc_id < 410000 AND doc_id % 82 <> 0
""",
        eval_select="SELECT doc_id AS eval_id, text AS txt FROM documents"
        " WHERE doc_id % 41 = 0 AND doc_id < 410000",
        n=5,
        min_overlap=0.2,
    ),
)
def text_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: 5-gram overlap of every training doc
    against a held-out eval slice (every 41st doc), over a corpus with
    PLANTED contamination — half the eval docs re-ingested verbatim into
    training under new ids, the other half as half-length prefixes (the
    leaked-benchmark scenario this check exists to catch; 5-grams have
    zero incidental cross-doc overlap on this corpus, so the planted
    pairs are exactly what must surface). Eval shingle index is
    broadcast; the training corpus never shuffles. The eval slice is
    CAPPED (doc_id < 410000 → ≤10k eval docs at any SF — benchmark
    suites are fixed-size, they do not scale with the corpus), so the
    broadcast side has bounded cardinality at 100 TB; the cap is a no-op
    at the test SFs (max doc_id 4999)."""
    docs = load_table(spark, sf_dir, "documents")
    evals = docs.filter((F.col("doc_id") % 41 == 0) & (F.col("doc_id") < 410_000))
    full_copies = evals.filter(F.col("doc_id") % 82 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    prefix_copies = evals.filter(F.col("doc_id") % 82 != 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.substring(
            F.col("text"), 1, F.floor(F.col("n_chars") / 2).cast("int")
        ).alias("text"),
    )
    train = (
        docs.filter(F.col("doc_id") % 41 != 0)
        .select("doc_id", "text")
        .unionByName(full_copies)
        .unionByName(prefix_copies)
    )
    return dedup.contamination_report(
        train,
        evals,
        id_col="doc_id",
        text_col="text",
        eval_id_col="doc_id",
        eval_text_col="text",
        n=5,
        min_overlap=0.2,
    )


@register(
    "embedding_pq_topk",
    tags=("LLM-sim",),
    oracle=similarity.sql_ivf_pq_topk(
        query_pred="vec_id < 10", k=5, nlist=8, nprobe=3,
        num_sub=8, ksub=16, rerank=32, iters=2, dim=64,
    ),
)
def embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate top-5: residual product quantization (8
    subspaces x 16 codes = 8 bytes/vector, 32x smaller than the raw
    embedding) over the IVF coarse lists, ADC candidate scoring against a
    broadcast lookup table, exact re-rank of the 32 best — the compression
    tier that makes a 10^9-vector index disk-resident (FAISS IVFx,PQy as
    DataFrame ops; recall vs brute force pinned in tests). The DuckDB
    oracle replays the ENTIRE pipeline — coarse training, residual
    codebooks with empty-code retention, code assignment, ADC, shortlist,
    re-rank — on round-6 decision values, a full differential check of
    the compression tier."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_pq_topk(
        emb, queries, k=5, nlist=8, nprobe=3, num_sub=8, ksub=16, rerank=32
    )


@register(
    "embedding_neardup",
    tags=("LLM-sim", "LLM-dedup"),
    oracle=f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(({_SQL_DOT_AB}) / (({_SQL_NORM_A}) * ({_SQL_NORM_B})), 6) AS cosine
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND a.vec_id % 5 = 0 AND b.vec_id % 5 = 0
  AND ({_SQL_DOT_AB}) / (({_SQL_NORM_A}) * ({_SQL_NORM_B})) >= 0.35
""",
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (>= 0.35) over a deterministic
    corpus slice — exact quadratic form (the LSH variant is the scale
    path)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    return similarity.neardup_pairs(emb, threshold=0.35)


@register(
    "embedding_centroids",
    tags=("LLM-sim",),
    oracle="""
SELECT label, (u.i - 1)::INT AS pos,
       round(avg(embedding[u.i]::DOUBLE), 6) AS centroid_val
FROM embeddings, unnest(range(1, 65)) AS u(i)
GROUP BY label, u.i
""",
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids in exploded (label, pos, value) form — the
    distributed aggregation that never ships vectors to the driver."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.centroids(emb)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_language_id",
    tags=("LLM-text",),
    oracle=text.sql_language_id("doc_id", "text"),
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language heuristic per document."""
    docs = load_table(spark, sf_dir, "documents")
    return text.language_id(docs, id_col="doc_id", text_col="text")


@register(
    "text_quality",
    tags=("LLM-text",),
    bench=True,
    oracle=text.sql_quality_scores("doc_id", "text"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features + composite score per document."""
    docs = load_table(spark, sf_dir, "documents")
    return text.quality_scores(docs, id_col="doc_id", text_col="text")


@register(
    "text_fingerprint",
    tags=("LLM-text",),
    oracle=text.sql_fingerprint("doc_id", "text"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash fingerprint per document."""
    docs = load_table(spark, sf_dir, "documents")
    return text.fingerprint(docs, id_col="doc_id", text_col="text")


@register(
    "text_token_stats",
    tags=("LLM-text",),
    oracle=f"""
WITH per_doc AS (
  SELECT lang AS grp, {dedup.SQL_TOKENS.format(text='text')} AS toks FROM documents
),
docs AS (
  SELECT grp, count(*) AS n_docs, round(avg(len(toks)), 6) AS avg_doc_tokens
  FROM per_doc GROUP BY grp
),
vocab AS (
  SELECT grp, count(DISTINCT t) AS vocab_size, count(*) AS total_tokens
  FROM per_doc, unnest(toks) AS u(t) GROUP BY grp
)
SELECT grp, n_docs, avg_doc_tokens, vocab_size, total_tokens
FROM docs JOIN vocab USING (grp)
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token statistics per language group."""
    docs = load_table(spark, sf_dir, "documents")
    return text.token_stats(docs, text_col="text", group_col="lang")


@register(
    "text_bpe_token_counts",
    tags=("LLM-text",),
    oracle=text.sql_bpe_token_counts("doc_id", "text"),
)
def text_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting per document: GPT-2-shaped pre-tokenizer
    (letter/digit/punctuation runs, RE2-safe so the oracle runs the
    identical regex) + ceil(len/4) subword estimate — the per-doc token
    budget a training pipeline tracks."""
    docs = load_table(spark, sf_dir, "documents")
    return text.bpe_token_counts(docs, id_col="doc_id", text_col="text")


_PACK_BUDGET = 2048


@register(
    "text_pack_sequences",
    tags=("LLM-text", "LLM-mix"),
    oracle=f"""
WITH t AS (
  SELECT doc_id, source,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
),
tok AS (
  SELECT doc_id, source,
         list_reduce(
           list_prepend(0::BIGINT,
             list_transform(regexp_extract_all(norm, '{text.BPE_PRETOKEN}'),
                            t -> ceil(length(trim(t)) / 4.0)::BIGINT)),
           (a, x) -> a + x) AS n_tokens
  FROM t
),
packed AS (
  SELECT doc_id, source, n_tokens,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
  FROM tok
)
SELECT doc_id, source, n_tokens,
       CAST(prefix // {_PACK_BUDGET} AS BIGINT) AS seq_id,
       CAST(prefix % {_PACK_BUDGET} AS BIGINT) AS seq_offset
FROM packed
""",
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed-token-budget training
    sequences (2048 tokens) per source corpus, in deterministic
    doc_id order — the step that turns a curated corpus into dense
    pretraining rows. Contiguous-fill semantics: a document that crosses
    a boundary starts inside the current sequence at ``seq_offset`` and
    spills into the next (the standard streaming-packer contract; exact
    first-fit would be a sequential state machine, not a window). One
    per-source sort; at 100 TB packing runs per shard with exactly this
    plan, sorted within range partitions."""
    from pyspark.sql import Window

    from stock_streaming_data_pipeline_spark.operators.dedup import _norm_text

    docs = load_table(spark, sf_dir, "documents")
    norm = _norm_text(F.col("text"))
    pre = F.regexp_extract_all(norm, F.lit(text.BPE_PRETOKEN), 0)
    est = F.aggregate(
        pre,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.ceil(F.length(F.trim(t)) / 4.0).cast("long"),
    )
    tok = docs.select("doc_id", "source", est.alias("n_tokens"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    return tok.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(prefix / F.lit(_PACK_BUDGET)).cast("long").alias("seq_id"),
        (prefix % F.lit(_PACK_BUDGET)).cast("long").alias("seq_offset"),
    )


@register(
    "text_lm_perplexity",
    tags=("LLM-text",),
    oracle=text.sql_lm_perplexity("doc_id", "text"),
)
def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained bigram-LM perplexity per document (add-one smoothing)
    — the CCNet-style perplexity quality filter, fully distributed and
    oracle-checked (log-prob averaging rounded identically in both
    engines)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.lm_perplexity(docs, id_col="doc_id", text_col="text")


@register(
    "text_pack_payloads",
    tags=("LLM-text", "LLM-mix"),
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, text,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
),
tok AS (
  SELECT doc_id, source, text,
         list_reduce(
           list_prepend(0::BIGINT,
             list_transform(regexp_extract_all(norm, '{text.BPE_PRETOKEN}'),
                            t -> ceil(length(trim(t)) / 4.0)::BIGINT)),
           (a, x) -> a + x) AS n_tokens
  FROM t
),
packed AS (
  SELECT doc_id, source, text, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           // {_PACK_BUDGET} AS BIGINT) AS seq_id
  FROM tok
)
SELECT source, seq_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
       string_agg(text, ' <|eod|> ' ORDER BY doc_id) AS payload
FROM packed GROUP BY source, seq_id
""",
)
def text_pack_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second half of sequence packing: concatenate each packed
    sequence's documents (doc_id order, ``<|eod|>`` separators) into the
    training payload row, with per-sequence doc and token totals. One
    extra shuffle on (source, seq_id) after the packing window — payload
    bytes ride exactly one exchange."""
    assign = text_pack_sequences(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    j = assign.join(docs, "doc_id")
    return j.groupBy("source", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("seq_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                lambda s: s.text,
            ),
            " <|eod|> ",
        ).alias("payload"),
    )


@register(
    "text_repetition",
    tags=("LLM-text",),
    oracle=text.sql_repetition_scores("doc_id", "text"),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition metrics (top-2-gram
    occupancy, duplicate-3-gram fraction) — the boilerplate/spam signal
    for quality filtering."""
    docs = load_table(spark, sf_dir, "documents")
    return text.repetition_scores(docs, id_col="doc_id", text_col="text")


@register(
    "text_pii_redaction",
    tags=("LLM-text",),
    oracle=text.sql_redact_pii(
        "doc_id",
        "txt",
        """(
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0
         THEN text || ' contact user' || doc_id || '@example.com or +49 1555 '
              || (1000000 + doc_id)
         ELSE text END AS txt
  FROM documents
)""",
    ),
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over a corpus with PLANTED contact strings (every 7th
    doc gets an email + phone appended — the synthetic corpus itself is
    PII-free, so the planted rows are exactly what must be redacted):
    sentinel replacement + removal counts per doc."""
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or +49 1555 "),
                (F.col("doc_id") + 1_000_000).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("txt"),
    )
    return text.redact_pii(planted, id_col="doc_id", text_col="txt")


@register(
    "sample_balanced_exact",
    tags=("LLM-text", "LLM-mix"),
    oracle=sampling.sql_sample_per_group_exact(
        id_col="doc_id",
        group_col="lang",
        cap=30,
        select="doc_id, lang",
        table="documents",
    ),
)
def sample_balanced_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced sampling, exact form: exactly 30 docs per
    language by deterministic hash order — the data-mixing stage of a
    training pipeline, reproducible across engines/retries because the
    randomness is a portable content hash, not an RNG."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.sample_per_group_exact(
        docs, id_col="doc_id", group_col="lang", cap=30
    ).select("doc_id", "lang", "sample_rank")


@register(
    "sample_balanced_rate",
    tags=("LLM-text", "LLM-mix"),
    oracle=sampling.sql_sample_per_group_rate(
        id_col="doc_id",
        group_col="lang",
        cap=30,
        select="t.doc_id, t.lang",
        table="documents",
    ),
)
def sample_balanced_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced sampling, map-only scale form: per-group
    keep-rate cap/|group| as an integer hash threshold — the fact table
    never shuffles (per-group counts broadcast); group sizes binomial
    around the cap."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.sample_per_group_rate(
        docs, id_col="doc_id", group_col="lang", cap=30
    ).select("doc_id", "lang")


@register(
    "sample_temperature_mix",
    tags=("LLM-text", "LLM-mix"),
    oracle=sampling.sql_sample_temperature(
        id_col="doc_id",
        group_col="lang",
        total_target=120,
        select="t.doc_id, t.lang",
        table="documents",
    ),
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-tempered (alpha = 0.5) mixture sampling over languages:
    target shares proportional to sqrt(|lang|), the standard multilingual
    rebalancing between proportional and uniform. Integer-sqrt weights keep
    the keep-decision exact in both engines; map-only over the corpus
    (counts broadcast, no fact shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.sample_temperature(
        docs, id_col="doc_id", group_col="lang", total_target=120
    ).select("doc_id", "lang")


@register(
    "upsample_repeat",
    tags=("LLM-text", "LLM-mix"),
    oracle=sampling.sql_upsample_to_parity(
        group_col="lang",
        max_factor=4,
        select="t.doc_id, t.lang",
        table="documents",
    ),
)
def upsample_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-style upsampling: each language repeated
    ceil(max_lang/|lang|) times (capped at 4) so tail languages approach
    head volume — "more epochs over rare languages". Map-side
    sequence+explode; the repeat factors are a broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.upsample_to_parity(
        docs, group_col="lang", max_factor=4
    ).select("doc_id", "lang", "copy_idx")


@register(
    "quality_topp_by_source",
    tags=("LLM-text", "LLM-mix", "W1", "A2"),
    oracle=sampling.sql_take_top_share(
        id_col="doc_id",
        group_col="source",
        score_col="n_chars",
        share_pct=60,
        select="doc_id, source, n_chars",
        table="documents",
    ),
)
def quality_topp_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus-style (top-p) curation per source: keep the best-scored
    prefix covering 60% of each source's quality mass (score = n_chars,
    integer-exact). Rank and running sum share one window sort, so the
    whole operator is a single shuffle on the source key."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.take_top_share(
        docs, id_col="doc_id", group_col="source",
        score_col="n_chars", share_pct=60,
    ).select("doc_id", "source", "n_chars", "pick_rank")


_CURATION_CORPUS_SQL = """
  SELECT doc_id, text, lang FROM documents WHERE doc_id % 41 <> 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang FROM documents
  WHERE doc_id % 10 = 0 AND doc_id % 41 <> 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text, lang FROM documents
  WHERE doc_id % 41 = 0 AND doc_id < 410000
"""


@register(
    "curation_pipeline",
    tags=("LLM-dedup", "LLM-text", "LLM-mix"),
    oracle=f"""
WITH corpus AS ({_CURATION_CORPUS_SQL}),
keepers AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
kept AS (SELECT c.* FROM corpus c JOIN keepers k USING (doc_id)),
contaminated AS (
  SELECT DISTINCT doc FROM (
    {dedup.sql_contamination_report(
        train_select="SELECT doc_id AS doc, text AS txt FROM kept",
        eval_select="SELECT doc_id AS eval_id, text AS txt FROM documents"
        " WHERE doc_id % 41 = 0 AND doc_id < 410000",
        n=5,
        min_overlap=0.2,
    )}
  )
),
clean AS (
  SELECT * FROM kept WHERE doc_id NOT IN (SELECT doc FROM contaminated)
),
quality AS ({text.sql_quality_scores("doc_id", "text", table="clean")}),
rep AS ({text.sql_repetition_scores("doc_id", "text", table="clean")}),
good AS (
  SELECT c.* FROM clean c
  JOIN quality q ON c.doc_id = q.doc
  JOIN rep r ON c.doc_id = r.doc
  WHERE q.quality >= 0.40 AND r.dup_3gram_frac <= 0.01
),
sampled AS (
  {sampling.sql_sample_per_group_exact(
      id_col="doc_id", group_col="lang", cap=25,
      select="doc_id, text, lang", table="good",
  )}
),
bpe AS ({text.sql_bpe_token_counts("doc_id", "text", table="sampled")})
SELECT s.lang, count(*)::BIGINT AS n_docs,
       sum(b.est_bpe_tokens)::BIGINT AS total_est_bpe_tokens
FROM sampled s JOIN bpe b ON s.doc_id = b.doc
GROUP BY s.lang
""",
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation chain as ONE composed lazy
    plan — exact dedup (re-ingested duplicates planted), benchmark
    decontamination (leaked eval copies planted), quality + repetition
    filtering, language-balanced deterministic sampling, and the final
    per-language token budget. Every stage is the already-oracle-checked
    operator; this query pins their COMPOSITION (the thing a real
    pipeline actually runs) behind one differential oracle.

    Scale shape: dedup is one hash-groupBy; decontamination broadcasts
    the eval index; quality/repetition are per-row / per-(doc,gram)
    partial aggs; sampling is one window on (lang); the budget agg is a
    5-row result. No stage collects to the driver. The eval slice is
    capped (doc_id < 410000 → ≤10k docs at any SF) so the broadcast
    eval index stays bounded at 100 TB; a no-op at test SFs."""
    docs = load_table(spark, sf_dir, "documents")
    evals = docs.filter((F.col("doc_id") % 41 == 0) & (F.col("doc_id") < 410_000))
    base = docs.filter(F.col("doc_id") % 41 != 0).select("doc_id", "text", "lang")
    dups = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang"
    )
    leaks = evals.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text", "lang"
    )
    corpus = base.unionByName(dups).unionByName(leaks)

    keepers = dedup.exact_duplicates(
        corpus, id_col="doc_id", text_col="text"
    ).select(F.col("keeper_id").alias("doc_id"))
    # Materialize the two reused stage outputs (optimization round 11):
    # `kept` feeds both the contamination report and the anti-join left
    # side; `clean` feeds the repetition scorer, the quality filter and
    # the sampler — composed lazily, the exact-dedup + contamination
    # subtree re-executed up to 4x per action (guide §5: cache only what
    # is reused and expensive to recompute).
    kept = materialize(corpus.join(keepers, "doc_id", "left_semi"), eager=True)

    contaminated = dedup.contamination_report(
        kept,
        evals,
        id_col="doc_id",
        text_col="text",
        eval_id_col="doc_id",
        eval_text_col="text",
        n=5,
        min_overlap=0.2,
    ).select("doc").distinct()
    clean = materialize(
        kept.join(contaminated, kept["doc_id"] == contaminated["doc"], "left_anti"),
        eager=True,
    )

    # quality is per-row deterministic, so the former
    # `clean ⋉ quality_scores(clean).filter(q >= 0.40)` semi-join (two
    # extra exchanges + a full recompute of `clean`) collapses to a
    # direct filter on the shared expression (operators/text.quality_expr).
    rep = text.repetition_scores(clean, id_col="doc_id", text_col="text")
    good = clean.filter(text.quality_expr(F.col("text")) >= 0.40).join(
        rep.filter(F.col("dup_3gram_frac") <= 0.01).select("doc"),
        F.col("doc_id") == F.col("doc"),
        "left_semi",
    )

    sampled = sampling.sample_per_group_exact(
        good, id_col="doc_id", group_col="lang", cap=25
    ).select("doc_id", "text", "lang")
    bpe = text.bpe_token_counts(sampled, id_col="doc_id", text_col="text")
    return (
        sampled.join(bpe, sampled["doc_id"] == bpe["doc"])
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("est_bpe_tokens").alias("total_est_bpe_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


_SHA_BYTE_SUM = "".join(
    # explicit left fold — same IEEE add order as F.aggregate's fold
    f"\n    + ('0x' || substr(sha, {2 * i + 1}, 2))::BIGINT / 255.0"
    for i in range(8)
)


@register(
    "multimodal_features",
    tags=("LLM-multimodal",),
    oracle=f"""
WITH m AS (
  SELECT doc_id AS media_id, 'image' AS media_type,
         octet_length(encode(text)) AS n_bytes,
         sha256(text) AS sha
  FROM documents
)
SELECT media_id, media_type, n_bytes, sha AS sha256,
       round((0.0{_SHA_BYTE_SUM}), 6) AS feat_sum
FROM m
""",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction through the real mapInPandas
    plumbing (deterministic fake decoder; codec libs stubbed). The fake
    decoder is digest-derived, so even this non-SQL operator carries a
    full oracle: DuckDB recomputes sha256 over the same UTF-8 bytes and
    replays the feature fold with the identical IEEE add order."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    feats = multimodal.extract_features(media, dim=8)
    return feats.select(
        "media_id", "media_type", "n_bytes", "sha256",
        F.round(F.aggregate("feat", F.lit(0.0), lambda a, x: a + x), 6).alias(
            "feat_sum"
        ),
    )


@register(
    "text_bpe_train",
    tags=("LLM-text",),
    oracle=bpe.sql_bpe_train(text_col="text", table="documents", k=8),
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training: 8 merge rules learned from the
    corpus (word-frequency weighting, lexicographic tie-breaks, greedy
    left-to-right merge as a gaps-and-islands computation). The only
    corpus-scale pass is the word-count aggregate; every round runs on
    the vocabulary-bounded symbol relation. The DuckDB oracle unrolls
    all 8 rounds into materialized CTEs — an iterative training
    algorithm with a full differential check."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe.bpe_train(docs, text_col="text", k=8)


@register(
    "text_bpe_segment",
    tags=("LLM-text",),
    oracle=bpe.sql_bpe_segment(id_col="doc_id", text_col="text", k=8),
)
def text_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer apply: train 8 BPE merges on the corpus, then segment
    the corpus with them — per-document word and BPE-token counts (the
    budget-planning query of a tokenization pipeline). The merge table
    collected to the driver is the 8-row tokenizer artifact, applied as
    relational rounds over the distinct-word relation; the oracle reuses
    the unrolled training CTEs, whose final symbol state IS the learned
    segmentation."""
    docs = load_table(spark, sf_dir, "documents")
    merges = bpe.bpe_train(docs, text_col="text", k=8)
    return bpe.bpe_segment(docs, merges, id_col="doc_id", text_col="text")


@register(
    "text_unigram_train",
    tags=("LLM-text",),
    oracle=unigram.sql_unigram_train(text_col="text", table="documents", rounds=2),
)
def text_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SECOND tokenizer family: unigram-LM training (SentencePiece
    style, hard-EM/Viterbi variant with Laplace smoothing) — seed every
    ≤4-char substring as a candidate piece, then two EM rounds of
    Viterbi-best segmentation (an 8-step relational DP over the
    distinct-word relation, micro-snapped log-prob sums, longest-piece
    tie-breaks) and usage-count re-scoring. The only corpus-scale pass
    is the word-frequency aggregate; the DuckDB oracle unrolls the seed
    vocab + every DP frame of both rounds into materialized CTEs — a
    second iterative trainer under a full differential check."""
    docs = load_table(spark, sf_dir, "documents")
    return unigram.unigram_train(docs, text_col="text", rounds=2)


@register(
    "text_unigram_pruned",
    tags=("LLM-text",),
    oracle=unigram.sql_unigram_train_pruned(
        text_col="text", table="documents", rounds=1, prune_to=40
    ),
)
def text_unigram_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full SentencePiece lifecycle in hard-EM form: seed → one EM
    round → SHRINK to the 40 highest-usage pieces (plus single chars,
    the coverage floor) → one more EM round under the pruned vocabulary.
    The shrink rank window is vocab-bounded (BPE-argmax exemption); the
    oracle appends the prune CTE and the post-shrink EM round to the
    unrolled chain."""
    docs = load_table(spark, sf_dir, "documents")
    return unigram.unigram_train_pruned(
        docs, text_col="text", rounds=1, prune_to=40
    )


@register(
    "text_unigram_segment",
    tags=("LLM-text",),
    oracle=unigram.sql_unigram_segment(
        id_col="doc_id", text_col="text", table="documents", rounds=2
    ),
)
def text_unigram_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram tokenizer apply: train the 2-round unigram LM, then
    Viterbi-segment every document's words under the final vocabulary —
    per-document word and piece counts, the unigram twin of
    text_bpe_segment (words beyond the trained 8-char horizon are
    excluded identically in both engines)."""
    docs = load_table(spark, sf_dir, "documents")
    return unigram.unigram_segment(
        docs, id_col="doc_id", text_col="text", rounds=2
    )


from stock_streaming_data_pipeline_spark.operators import wordpiece as _wp  # noqa: E402


@register(
    "text_wordpiece_segment",
    tags=("LLM-text",),
    oracle="WITH "
    + ",\n".join(_wp.sql_wordpiece_ctes(text_col="text", table="documents"))
    + f"\nSELECT w, wc, wordpieces, n_pieces FROM seg{_wp.MAX_WORD_LEN}",
)
def text_wordpiece_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece greedy longest-match segmentation (BERT's tokenizer) of
    every distinct corpus word under a corpus-derived initial/
    continuation vocabulary — the third tokenizer family beside BPE and
    unigram-LM. One corpus-scale word-count pass; the vocabulary, match
    table and all 8 greedy steps run on the vocabulary-bounded
    distinct-word relation (operators/wordpiece.py), replayed
    bit-for-bit by chained CTEs in the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return _wp.wordpiece_segment(docs, text_col="text")


# Media payloads slice UTF-8 BYTES on the Spark side while DuckDB's
# substr/ascii are code-point based ('é' → 233 vs byte 195). Restrict
# the media derivation to an explicitly ASCII-sanitized projection on
# BOTH sides so the byte and character views coincide on ANY corpus —
# a no-op on the pure-ASCII testdata (r3 advice).
_MEDIA_TEXT_SQL = "regexp_replace(text, '[^\\x00-\\x7F]', '?', 'g')"


def _ascii_text_docs(docs: DataFrame) -> DataFrame:
    return docs.withColumn(
        "text", F.regexp_replace("text", "[^\\x00-\\x7F]", "?")
    )


@register(
    "multimodal_png_decode",
    tags=("LLM-multimodal",),
    oracle=f"""
WITH t AS (
  SELECT doc_id AS media_id,
         substr({_MEDIA_TEXT_SQL} || repeat(' ', 64), 1, 64) AS s
  FROM documents
),
px AS (
  SELECT media_id, ascii(substr(s, CAST(u.i AS INT), 1)) AS v
  FROM t, unnest(range(1, 65)) AS u(i)
)
SELECT media_id, 8 AS width, 8 AS height,
       CAST(sum(v) AS BIGINT) AS sum_px,
       min(v) AS min_px, max(v) AS max_px,
       round(CAST(sum(v) AS DOUBLE) / 64, 6) AS mean_px
FROM px GROUP BY media_id
""",
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG round-trip through the pure-stdlib codec: each document's
    first 64 bytes become an 8x8 grayscale PNG (real zlib/CRC encode),
    which the real decoder (inflate + unfilter + CRC check) turns back
    into pixels reduced to sum/min/max/mean. The DuckDB oracle recomputes
    the identical statistics straight from the text bytes — a hash-exact
    differential proof of the codec, not a digest fake.
    (Codec: operators/png_codec.py; the reference has no image path at
    all — this is LLM-data-tier scope.)"""
    docs = _ascii_text_docs(load_table(spark, sf_dir, "documents"))
    media = multimodal.documents_as_png_media(docs, width=8, height=8)
    return multimodal.pixel_stats(media)


@register(
    "multimodal_png_resize",
    tags=("LLM-multimodal",),
    oracle=f"""
WITH t AS (
  SELECT doc_id AS media_id,
         substr({_MEDIA_TEXT_SQL} || repeat(' ', 64), 1, 64) AS s
  FROM documents
),
px AS (
  SELECT media_id,
         ascii(substr(s,
           CAST((u.i // 4) * 2 * 8 + (u.i % 4) * 2 + 1 AS INT), 1)) AS v
  FROM t, unnest(range(0, 16)) AS u(i)
)
SELECT media_id, 4 AS width, 4 AS height,
       CAST(sum(v) AS BIGINT) AS sum_px,
       min(v) AS min_px, max(v) AS max_px,
       round(CAST(sum(v) AS DOUBLE) / 16, 6) AS mean_px
FROM px GROUP BY media_id
""",
)
def multimodal_png_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL nearest-neighbor resize through the stdlib codec: 8x8
    grayscale PNGs resized to 4x4 (decode -> floor index-map -> re-encode)
    and re-decoded for pixel stats. The oracle replays the same
    ``src_idx = (ty*2)*8 + tx*2`` mapping over the source bytes, so the
    differential check proves decode, resample arithmetic, and re-encode
    together."""
    docs = _ascii_text_docs(load_table(spark, sf_dir, "documents"))
    media = multimodal.documents_as_png_media(docs, width=8, height=8)
    resized = multimodal.resize_images(media, width=4, height=4)
    return multimodal.pixel_stats(resized)


_MIX_TAU = 0.5       # temperature: flattens the language distribution
_MIX_BUDGET = 1_000_000  # total training-token budget
_MIX_MAX_EPOCHS = 4.0    # upsampling cap for low-resource slices


@register(
    "mixture_token_budget",
    tags=("LLM-mixing",),
    oracle=f"""
WITH per_lang AS (
  SELECT lang, count(*)::BIGINT AS n_docs,
         sum(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                             t -> t <> '')))::BIGINT AS est_tokens
  FROM documents GROUP BY lang
),
tot AS (SELECT sum(est_tokens)::DOUBLE AS total FROM per_lang),
w AS (
  SELECT lang, n_docs, est_tokens,
         round(est_tokens / total, 6) AS share,
         pow(est_tokens / total, {_MIX_TAU}) AS raw_w
  FROM per_lang CROSS JOIN tot
),
norm AS (SELECT sum(raw_w) AS z FROM w)
SELECT lang, n_docs, est_tokens, share,
       round(raw_w / z, 6) AS weight,
       CAST(floor(round(raw_w / z * {_MIX_BUDGET}, 6)) AS BIGINT) AS alloc_tokens,
       round(least(floor(round(raw_w / z * {_MIX_BUDGET}, 6)) / est_tokens,
                   {_MIX_MAX_EPOCHS}), 6) AS epochs
FROM w CROSS JOIN norm
""",
)
def mixture_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture allocation: temperature-weighted token budgets
    per language (w_l ∝ share_l^τ, τ=0.5 — the standard low-resource
    upweighting), the absolute token allocation out of a fixed budget,
    and the resulting per-slice epoch count capped at 4 (the repetition
    ceiling). Two tiny aggregations over a one-pass token count; the
    weights table a sampler (sample_temperature_mix) then consumes.
    Map-only + a 5-row rollup at any scale."""
    from stock_streaming_data_pipeline_spark.operators.dedup import tokens

    docs = load_table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens(F.col("text")))).cast("long").alias("est_tokens"),
    )
    tot = per_lang.agg(F.sum("est_tokens").cast("double").alias("total"))
    w = per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "est_tokens",
        F.round(F.col("est_tokens") / F.col("total"), 6).alias("share"),
        F.pow(F.col("est_tokens") / F.col("total"), F.lit(_MIX_TAU)).alias("raw_w"),
    )
    norm = w.agg(F.sum("raw_w").alias("z"))
    alloc = F.floor(F.round(F.col("raw_w") / F.col("z") * _MIX_BUDGET, 6))
    return w.crossJoin(F.broadcast(norm)).select(
        "lang",
        "n_docs",
        "est_tokens",
        "share",
        F.round(F.col("raw_w") / F.col("z"), 6).alias("weight"),
        alloc.cast("long").alias("alloc_tokens"),
        F.round(
            F.least(alloc / F.col("est_tokens"), F.lit(_MIX_MAX_EPOCHS)), 6
        ).alias("epochs"),
    )


# Planted-repetition corpus for the span-mining pair of queries: every
# 10th doc re-ingested verbatim under a new id.
_SPAN_CORPUS_SQL = """(
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
)"""


def _span_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    return docs.unionByName(planted)


@register(
    "dedup_top_spans",
    tags=("LLM-dedup", "LLM-text"),
    oracle=dedup.sql_duplicated_spans(
        id_col="doc_id",
        text_col="text",
        table=_SPAN_CORPUS_SQL,
        n=8,
        min_docs=2,
        k=50,
    ),
)
def dedup_top_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-passage mining — the span-level (not whole-document)
    dedup signal: the most-duplicated word 8-gram spans across a corpus
    with planted verbatim re-ingests (every 10th doc under a new id),
    with document frequency, total occurrences and the first carrying
    doc. One shingle explode (single-regex codegen pass) -> two partial
    aggregations -> TakeOrderedAndProject(50); the fixed-window span
    approximates the suffix-array repeated-substring pass relationally
    and scales as a plain groupBy."""
    return dedup.duplicated_spans(
        _span_corpus(spark, sf_dir),
        id_col="doc_id", text_col="text", n=8, min_docs=2, k=50,
    )


@register(
    "dedup_span_scrub_report",
    tags=("LLM-dedup", "LLM-text"),
    oracle=f"""
WITH top_spans AS (
  {dedup.sql_duplicated_spans(id_col="doc_id", text_col="text",
                              table=_SPAN_CORPUS_SQL, n=8, min_docs=2, k=50)}
),
sp AS (
  SELECT doc_id AS doc,
         unnest(list_transform(range(1, len(tk) - 7 + 1),
                i -> array_to_string(tk[i : i + 7], ' '))) AS span
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\\s+'),
                           t -> t <> '') AS tk
        FROM {_SPAN_CORPUS_SQL})
)
SELECT sp.doc, count(*)::BIGINT AS n_span_occurrences,
       count(DISTINCT sp.span)::BIGINT AS n_distinct_spans,
       CAST(sum(length(sp.span)) AS BIGINT) AS est_scrub_chars
FROM sp JOIN top_spans t ON t.span = sp.span
GROUP BY sp.doc
""",
)
def dedup_span_scrub_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal side of span-level dedup: for every doc carrying one
    of the corpus's top-50 duplicated 8-gram spans, how many span
    occurrences it holds, how many distinct flagged spans, and the
    character mass a span-scrub pass would excise — the work-list the
    rewrite job consumes (rewriting itself is a map-only
    regexp_replace over this join). The flagged-span side is
    LIMIT-bounded (k=50), so its broadcast is legitimately
    cardinality-bounded under the plan lint's rule."""
    corpus = _span_corpus(spark, sf_dir)
    top = dedup.duplicated_spans(
        corpus, id_col="doc_id", text_col="text", n=8, min_docs=2, k=50
    ).select("span")
    spans = corpus.select(
        F.col("doc_id").alias("doc"),
        F.explode(dedup.all_shingles(F.col("text"), 8)).alias("span"),
    )
    return (
        spans.join(F.broadcast(top), "span")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_span_occurrences"),
            F.count_distinct("span").alias("n_distinct_spans"),
            F.sum(F.length("span")).cast("long").alias("est_scrub_chars"),
        )
    )


@register(
    "text_c4_gopher_filters",
    tags=("LLM-text", "LLM-mix"),
    oracle=text.sql_c4_gopher_filters("doc_id", "text"),
)
def text_c4_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based curation filters in the style of the public C4/Gopher
    recipes: word-count bounds, mean/max word length, alpha-token
    fraction, stopword presence, symbol ratios and boilerplate markers —
    per-doc metrics, keep flag, and the FIRST failing rule (the
    rejection-reason breakdown a data pipeline reports). One native
    codegen pass, map-only at 100 TB; rule order is part of the contract
    and replayed identically by the oracle's CASE chain."""
    docs = load_table(spark, sf_dir, "documents")
    return text.c4_gopher_filters(docs, id_col="doc_id", text_col="text")


from stock_streaming_data_pipeline_spark.operators import lrquality as _lrq  # noqa: E402

_LRQ_LABELS_SQL = (
    "SELECT doc, CASE WHEN keep THEN 1 ELSE 0 END AS label FROM ("
    + text.sql_c4_gopher_filters("doc_id", "text")
    + ")"
)


@register(
    "quality_lr_classifier",
    tags=("LLM-text", "LLM-mix"),
    # bench=True (round 9, r8 verdict #4): the ML tier's heaviest
    # iterative query gets round-over-round wall-clock visibility in the
    # bench's non-frozen slot (like_for_like stays the r2 core).
    bench=True,
    oracle=_lrq.sql_train_score(label_sql=_LRQ_LABELS_SQL, iters=8, lr=0.1),
)
def quality_lr_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fasttext-style learned quality classifier: logistic regression
    on hashing-trick bag-of-words features, trained by 8 full-batch
    gradient steps to imitate the rule-based C4/Gopher keep decision
    (rule distillation — the standard way a curation pipeline turns slow
    rules into a fast learned scorer; 0.80 training accuracy vs the
    0.62 majority base rate, pinned in tests), then scoring every doc.
    Training is fully distributed (features never leave executors;
    weights are a 65-row broadcast); the DuckDB oracle unrolls the EIGHT
    gradient steps into chained CTEs and matches bit-for-bit thanks to
    the integer-micro model state (exact BIGINT logit sums — order-free
    — and a frozen-table sigmoid that never calls either engine's libm
    exp; operators/lrquality.py module docstring) — an iterative ML
    trainer under a full differential check, like the Lloyd/PageRank/
    BPE loops before it."""
    docs = load_table(spark, sf_dir, "documents")
    labels = text.c4_gopher_filters(docs, id_col="doc_id", text_col="text").select(
        "doc", F.col("keep").cast("long").alias("label")
    )
    return _lrq.train_score(
        docs, labels, id_col="doc_id", text_col="text", iters=8, lr=0.1
    )


@register(
    "quantile_normalized_values",
    tags=("A8", "W1", "LLM-profile"),
    oracle="""
WITH g AS (
  SELECT event_id, event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn_g,
         count(*) OVER (PARTITION BY event_type) AS n_g
  FROM events
),
gsorted AS (
  SELECT value AS gval,
         row_number() OVER (ORDER BY value, event_id) AS pos
  FROM events
),
tot AS (SELECT count(*)::BIGINT AS n FROM events),
mapped AS (
  SELECT event_id, event_type, value,
         CAST(floor(round(CASE WHEN n_g = 1 THEN 0.0
                     ELSE (rn_g - 1)::DOUBLE / (n_g - 1) END
                    * (n - 1), 6)) AS BIGINT) + 1 AS pos
  FROM g CROSS JOIN tot
)
SELECT m.event_id, m.event_type, m.value,
       round(gl.gval, 6) AS value_qnorm
FROM mapped m JOIN gsorted gl ON gl.pos = m.pos
""",
)
def quantile_normalized_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization: map each key's value distribution onto
    the GLOBAL distribution (each row's within-key relative rank looked
    up positionally in the global sorted values) — the rank-based
    feature transform that makes heterogeneous groups comparable. The
    global sorted positions come from operators/running.global_rank —
    the two-phase distributed rank (range partitions + local rank +
    per-partition offsets), so NO single-task global window touches the
    fact table; the within-key ranks are ordinary partitioned windows
    and the position lookup is an equi-join."""
    from stock_streaming_data_pipeline_spark.operators.running import global_rank

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    w_g = Window.partitionBy("event_type").orderBy("value", "event_id")
    g = ev.select(
        "event_id",
        "event_type",
        "value",
        F.row_number().over(w_g).alias("rn_g"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("n_g"),
    )
    glob = global_rank(
        ev.select(F.col("value").alias("gval"), "event_id"),
        order_col="gval",
        id_col="event_id",
        out="pos",
    ).select("gval", "pos")
    n = ev.count()
    rel = F.when(F.col("n_g") == 1, F.lit(0.0)).otherwise(
        (F.col("rn_g") - 1).cast("double") / (F.col("n_g") - 1)
    )
    mapped = g.select(
        "event_id",
        "event_type",
        "value",
        (F.floor(F.round(rel * F.lit(n - 1), 6)) + 1).cast("long").alias("pos"),
    )
    return mapped.join(glob, "pos").select(
        "event_id",
        "event_type",
        "value",
        F.round("gval", 6).alias("value_qnorm"),
    )


@register(
    "quality_lr_calibration",
    tags=("LLM-text", "LLM-mix"),
    oracle=f"""
WITH scored AS ({_lrq.sql_train_score(label_sql=_LRQ_LABELS_SQL, iters=8, lr=0.1)}),
binned AS (
  SELECT CAST(least(floor(prob * 10), 9) AS BIGINT) AS bin, label, prob
  FROM scored
)
SELECT bin, count(*)::BIGINT AS n_docs,
       round(avg(prob), 6) AS mean_prob,
       round(avg(label::DOUBLE), 6) AS label_rate,
       round(abs(avg(prob) - avg(label::DOUBLE)), 6) AS calibration_gap
FROM binned GROUP BY bin
""",
)
def quality_lr_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the distilled quality classifier: decile
    probability bins with document counts, mean predicted probability,
    empirical label rate, and the per-bin calibration gap (the
    expected-calibration-error terms) — the evaluation a pipeline runs
    before trusting a learned scorer's threshold. Reuses the classifier
    query's scores; one 10-row rollup on top. The oracle embeds the full
    8-step training replay as a subquery, so the calibration numbers
    are differentially checked end to end."""
    docs = load_table(spark, sf_dir, "documents")
    labels = text.c4_gopher_filters(docs, id_col="doc_id", text_col="text").select(
        "doc", F.col("keep").cast("long").alias("label")
    )
    scored = _lrq.train_score(
        docs, labels, id_col="doc_id", text_col="text", iters=8, lr=0.1
    )
    binned = scored.select(
        F.least(F.floor(F.col("prob") * 10), F.lit(9)).cast("long").alias("bin"),
        "label",
        "prob",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("prob"), 6).alias("mean_prob"),
        F.round(F.avg(F.col("label").cast("double")), 6).alias("label_rate"),
        F.round(
            F.abs(F.avg("prob") - F.avg(F.col("label").cast("double"))), 6
        ).alias("calibration_gap"),
    )


from stock_streaming_data_pipeline_spark.operators import jpeg_codec as _jpeg  # noqa: E402


@register(
    "multimodal_jpeg_decode",
    tags=("LLM-multimodal",),
    oracle=_jpeg.sql_reference_stats(_MEDIA_TEXT_SQL),
)
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG round-trip through the pure-stdlib codec
    (operators/jpeg_codec.py): each document's first 64 bytes become an
    8x8 grayscale JPEG (real DCT + quantize + Huffman entropy encode
    with byte stuffing), which the real decoder (marker walk + Huffman +
    dequant + IDCT) turns back into pixels reduced to sum/min/max/mean.
    JPEG is lossy, but DETERMINISTICALLY so: decode(encode(px)) equals
    the quantize-roundtrip transform, which the DuckDB oracle replays
    relationally from the literal DCT basis and Annex-K quant table —
    completing real differential-checked decode for all three image-tier
    codecs (PNG lossless, JPEG lossy, WAV PCM16)."""
    docs = _ascii_text_docs(load_table(spark, sf_dir, "documents"))
    media = multimodal.documents_as_jpeg_media(docs, width=8, height=8)
    return multimodal.pixel_stats(media)


@register(
    "multimodal_jpeg_color_decode",
    tags=("LLM-multimodal",),
    oracle=_jpeg.sql_reference_stats_color(_MEDIA_TEXT_SQL),
)
def multimodal_jpeg_color_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLOR baseline-JPEG round-trip — the 4:2:0 YCbCr shape virtually
    every real-world JPEG uses: each document's first 768 bytes become a
    16×16 interleaved-RGB image, encoded by jpeg_codec.encode_jpeg
    (lattice JFIF conversion, 2×2 chroma subsample, per-block DCT +
    Annex-K.1/K.2 quantization, interleaved-MCU Huffman entropy layer)
    and decoded back with the real multi-component decoder, reduced to
    channel-summed pixel stats. Deterministically lossy like the
    grayscale query: decode(encode(rgb)) ==
    jpeg_codec.reference_transform_color, which the DuckDB oracle
    replays relationally (per-block matrix products against the literal
    DCT basis, both quant tables as literal relations, replicated
    chroma upsample, lattice YCbCr↔RGB). Samplings other than 4:2:0,
    4:2:2 and 4:4:4 still raise honestly."""
    docs = _ascii_text_docs(load_table(spark, sf_dir, "documents"))
    media = multimodal.documents_as_jpeg_media(
        docs, width=16, height=16, subsampling="420"
    )
    return multimodal.pixel_stats(media)


@register(
    "multimodal_jpeg_444_decode",
    tags=("LLM-multimodal",),
    oracle=_jpeg.sql_reference_stats_color_444(_MEDIA_TEXT_SQL),
)
def multimodal_jpeg_444_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4:4:4 color JPEG round-trip — the no-subsampling layout (one MCU
    per 8×8 image, full-resolution chroma): each document's first 192
    bytes become an 8×8 RGB image encoded 4:4:4 and decoded back,
    reduced to channel-summed stats. The DuckDB oracle replays all
    three channels through one ch-keyed CTE chain (Y against Annex-K.1,
    Cb/Cr against K.2) — the third differential-checked JPEG layout
    beside grayscale and 4:2:0."""
    docs = _ascii_text_docs(load_table(spark, sf_dir, "documents"))
    media = multimodal.documents_as_jpeg_media(
        docs, width=8, height=8, subsampling="444"
    )
    return multimodal.pixel_stats(media)


@register(
    "multimodal_jpeg_progressive_color_decode",
    tags=("LLM-multimodal",),
    oracle=_jpeg.sql_reference_stats_color_444(_MEDIA_TEXT_SQL),
)
def multimodal_jpeg_progressive_color_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Progressive COLOR JPEG round-trip (SOF2 4:4:4, 24 per-component
    spectral-selection + successive-approximation scans): each
    document's first 192 bytes become an 8×8 RGB image, encoded with
    jpeg_codec.encode_jpeg_progressive and decoded by per-component
    bit-plane accumulation, reduced to channel-summed stats. The
    quantized coefficients equal the baseline 4:4:4 stream's, so the
    EXISTING sql_reference_stats_color_444 oracle checks the whole
    progressive entropy layering unchanged — with this, every common
    real-world JPEG shape (grayscale/color × baseline/progressive ×
    three samplings + restart markers) decodes for real."""
    docs = _ascii_text_docs(load_table(spark, sf_dir, "documents"))
    media = multimodal.documents_as_jpeg_media(
        docs, width=8, height=8, subsampling="444", progressive=True
    )
    return multimodal.pixel_stats(media)


@register(
    "multimodal_jpeg_progressive_decode",
    tags=("LLM-multimodal",),
    oracle=_jpeg.sql_reference_stats_tiled(_MEDIA_TEXT_SQL, width=16, height=16),
)
def multimodal_jpeg_progressive_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progressive (SOF2) JPEG round-trip — the "optimized for web"
    shape and the round-5 verdict's stretch item: each document's first
    256 bytes become a 16×16 grayscale image encoded with the 8-scan
    spectral-selection + successive-approximation script and decoded
    back by accumulating coefficient bit-planes across scans, reduced
    to pixel stats. Four blocks per image exercise EOB runs and
    cross-block refinement. The DuckDB oracle replays the shared
    DCT/quant transform relationally with a block key
    (sql_reference_stats_tiled); the progressive entropy layers have no
    SQL analogue — their correctness is exactly what the pixel equality
    proves, since baseline and progressive share quantized
    coefficients."""
    docs = _ascii_text_docs(load_table(spark, sf_dir, "documents"))
    media = multimodal.documents_as_jpeg_media(
        docs, width=16, height=16, progressive=True
    )
    return multimodal.pixel_stats(media)


@register(
    "multimodal_frame_sample",
    tags=("LLM-multimodal",),
    oracle="""
SELECT doc_id AS media_id,
       CAST(unnest(range(0, (n_chars % 100) - 1 + 1, 7)) AS BIGINT)
         AS frame_idx
FROM documents WHERE doc_id % 3 = 0 AND (n_chars % 100) > 0
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-stride frame sampling over video payload metadata (every 7th
    frame index from the typed ``meta.n_frames``): pure array-expansion
    built-ins, one generate pass, no UDF — the decode of each kept frame
    is the (stubbed) downstream step. Every third document plays a video
    here so the media-type filter is exercised too; frameless videos
    (n_frames == 0) emit no rows."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs).withColumn(
        "media_type",
        F.when(F.col("media_id") % 3 == 0, F.lit("video")).otherwise(
            F.lit("image")
        ),
    )
    out = multimodal.sample_frames(media, every_n=7)
    return out.select("media_id", F.col("frame_idx").cast("long").alias("frame_idx"))


@register(
    "text_chunks",
    tags=("LLM-text", "P2"),
    oracle=f"""
WITH t AS (
  SELECT doc_id, {dedup.SQL_TOKENS.format(text='text')} AS toks FROM documents
)
SELECT doc_id,
       (u.i - 1)::INT AS chunk_idx,
       array_to_string(toks[(u.i - 1) * 50 + 1 : (u.i - 1) * 50 + 50], ' ') AS chunk,
       CAST(least(50, len(toks) - (u.i - 1) * 50) AS BIGINT) AS n_tokens
FROM t, unnest(range(1, CAST(ceil(len(toks) / 50.0) AS BIGINT) + 1)) AS u(i)
""",
)
def text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking via a Python UDTF (the table-function
    surface): each document split into 50-token chunks with a lateral
    join — the standard LLM pretraining chunker. Arrow-optimized
    (useArrow) so the lateral evaluation runs on Arrow batches, not
    row-at-a-time pickling (tools/plan_lint.py flags BatchEvalPython)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, chunk string, n_tokens long", useArrow=True)
    class Chunker:
        def eval(self, text: str, size: int):
            toks = [t for t in text.lower().split() if t]
            for i in range(0, len(toks), size):
                piece = toks[i : i + size]
                yield i // size, " ".join(piece), len(piece)

    spark.udtf.register("chunker_udtf", Chunker)
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("_docs_for_chunking")
    return spark.sql(
        "SELECT doc_id, c.chunk_idx, c.chunk, c.n_tokens "
        "FROM _docs_for_chunking, LATERAL chunker_udtf(text, 50) c"
    )


@register(
    "dedup_drop_list",
    tags=("LLM-dedup", "LLM-text"),
    oracle=f"""
WITH sh AS (
  SELECT doc_id AS doc, unnest({_SQL_SHINGLES}) AS s FROM documents
),
sizes AS (SELECT doc, count(*) AS n FROM sh GROUP BY doc),
common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes sa ON sa.doc = doc_a
  JOIN sizes sb ON sb.doc = doc_b
  WHERE c / (sa.n + sb.n - c)::DOUBLE >= 0.6
),
toks AS (
  SELECT doc_id AS doc,
         len({dedup.SQL_TOKENS.format(text='text')}) AS n_tokens
  FROM documents
)
SELECT DISTINCT
  CASE WHEN ta.n_tokens < tb.n_tokens
         OR (ta.n_tokens = tb.n_tokens AND doc_a > doc_b)
       THEN doc_a ELSE doc_b END AS drop_doc
FROM pairs
JOIN toks ta ON ta.doc = doc_a
JOIN toks tb ON tb.doc = doc_b
""",
)
def dedup_drop_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup pipeline: near-dup pairs (exact Jaccard >= 0.6) +
    a quality criterion (token count, tie-break lower id wins) → the list
    of documents to DROP — the actual deliverable of a training-data dedup
    stage."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.6
    )
    toks = docs.select(
        F.col("doc_id").alias("doc"),
        F.size(dedup.tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    joined = (
        pairs.join(toks.withColumnsRenamed({"doc": "doc_a", "n_tokens": "n_a"}), "doc_a")
        .join(toks.withColumnsRenamed({"doc": "doc_b", "n_tokens": "n_b"}), "doc_b")
    )
    loser = F.when(
        (F.col("n_a") < F.col("n_b"))
        | ((F.col("n_a") == F.col("n_b")) & (F.col("doc_a") > F.col("doc_b"))),
        F.col("doc_a"),
    ).otherwise(F.col("doc_b"))
    return joined.select(loser.alias("drop_doc")).distinct()


@register(
    "embedding_quantize",
    tags=("LLM-sim",),
    oracle="""
WITH stats AS (
  SELECT (u.i)::INT AS pos,
         min(embedding[u.i]::DOUBLE) AS lo,
         max(embedding[u.i]::DOUBLE) AS hi
  FROM embeddings, unnest(range(1, 65)) AS u(i)
  GROUP BY 1
),
codes AS (
  SELECT vec_id, s.pos,
         CAST(round(CASE WHEN s.hi = s.lo THEN 0.0
              ELSE (embedding[s.pos]::DOUBLE - s.lo) / (s.hi - s.lo) * 255.0 END, 0)
           AS BIGINT) AS code
  FROM embeddings, stats s
)
SELECT vec_id, CAST(sum(code) AS BIGINT) AS code_sum,
       count(*) AS n_dims,
       max(code) AS code_max
FROM codes GROUP BY vec_id
""",
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension int8-style (0..255) quantization of the embedding
    column — the storage-compression path for vector corpora at 100 TB
    (4 bytes -> 1 byte per dim). Per-dim min/max stats are a tiny agg
    broadcast back over the scan; output summarizes the code matrix per
    vector for the differential check."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "vec_id", F.posexplode(similarity.as_double(F.col("embedding")))
    ).select("vec_id", (F.col("pos") + 1).cast("int").alias("pos"), "col")
    stats = exploded.groupBy("pos").agg(
        F.min("col").alias("lo"), F.max("col").alias("hi")
    )
    codes = (
        exploded.join(F.broadcast(stats), "pos")
        .withColumn(
            "code",
            F.round(
                F.when(F.col("hi") == F.col("lo"), F.lit(0.0)).otherwise(
                    (F.col("col") - F.col("lo")) / (F.col("hi") - F.col("lo")) * 255.0
                ),
                0,
            ).cast("long"),
        )
    )
    return codes.groupBy("vec_id").agg(
        F.sum("code").alias("code_sum"),
        F.count(F.lit(1)).alias("n_dims"),
        F.max("code").alias("code_max"),
    )


@register(
    "dedup_components",
    tags=("LLM-dedup",),
    oracle=f"""
WITH RECURSIVE sh AS (
  SELECT doc_id AS doc, unnest({_SQL_SHINGLES}) AS s FROM documents
),
sizes AS (SELECT doc, count(*) AS n FROM sh GROUP BY doc),
common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM common
  JOIN sizes sa ON sa.doc = doc_a
  JOIN sizes sb ON sb.doc = doc_b
  WHERE c / (sa.n + sb.n - c)::DOUBLE >= 0.5
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
  SELECT a, a AS b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc, min(b) AS component
FROM reach GROUP BY a
""",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: connected components over the exact
    Jaccard pair graph (threshold 0.5) via iterative min-label propagation
    — checked against DuckDB's recursive-CTE transitive closure."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.5
    )
    return dedup.connected_components(pairs)


# ---------------------------------------------------------------------------
# Lexical retrieval (BM25 / TF-IDF) — the keyword-search counterpart of the
# embedding ANN tier.
# ---------------------------------------------------------------------------

_BM25_QUERY = ("vector", "hash", "join")


@register(
    "retrieval_bm25_topk",
    tags=("LLM-retrieval",),
    oracle=retrieval.sql_bm25_topk(
        _BM25_QUERY, id_col="doc_id", text_col="text", k=10
    ),
)
def retrieval_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 documents for a 3-term keyword query: exact
    integer tf/df/dl stats, idf rounded-then-reused, per-term partials
    snapped to micro-units so the cross-term sum is order-insensitive.
    Postings stats materialize only for the broadcast query terms."""
    docs = load_table(spark, sf_dir, "documents")
    return retrieval.bm25_topk(
        docs, _BM25_QUERY, id_col="doc_id", text_col="text", k=10
    )


@register(
    "retrieval_rrf_fusion",
    tags=("LLM-retrieval", "O2"),
    oracle=retrieval.sql_rrf_fusion(
        _BM25_QUERY, id_col="doc_id", text_col="text", k=10, pool=20, dim=32
    ),
)
def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+semantic retrieval fused by reciprocal rank
    (k0=60): BM25 and hash-embedding cosine each rank their 20 best for
    the same 3-term query, and every pooled document scores
    Σ 1/(60+rank) in micro-units — the calibration-free ranker
    combination a RAG or hard-negative-mining pipeline runs. Both
    ranked lists, the fusion arithmetic, and the tie discipline replay
    exactly in DuckDB."""
    docs = load_table(spark, sf_dir, "documents")
    return retrieval.rrf_fusion(
        docs, _BM25_QUERY, id_col="doc_id", text_col="text",
        k=10, pool=20, dim=32,
    )


_DSIR_TARGET_SQL = "source = 'src0'"


@register(
    "dsir_importance_weights",
    tags=("LLM-mixing", "LLM-text"),
    oracle=sampling.sql_dsir_importance(
        id_col="doc_id", text_col="text",
        target_pred_sql=_DSIR_TARGET_SQL, n_buckets=64,
    ),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Data Selection with Importance Resampling, Xie et al. 2023)
    in its hashed-unigram form: treat source src0 as the trusted
    in-domain corpus, score every OTHER document by the summed hashed-
    feature log-likelihood ratio between target and raw distributions
    (add-one smoothing over 64 buckets), keep = more-target-like. The
    bucket ratio table is a 64-row broadcast (sketch-sized regardless
    of corpus scale); per-document scoring is one map-side join + one
    groupBy. Log-ratios are round-6 micro-snapped so the differential
    is exact."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.dsir_importance(
        docs, id_col="doc_id", text_col="text",
        target_pred=F.col("source") == "src0", n_buckets=64,
    )


@register(
    "retrieval_tfidf_terms",
    tags=("LLM-retrieval", "W3"),
    oracle=retrieval.sql_tfidf_top_terms(id_col="doc_id", text_col="text", top=3),
)
def retrieval_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keyword profile per document (topic tagging): integer
    micro-unit ranking, term-id tie-breaks, per-doc row_number window."""
    docs = load_table(spark, sf_dir, "documents")
    return retrieval.tfidf_top_terms(docs, id_col="doc_id", text_col="text", top=3)


# ---------------------------------------------------------------------------
# Semantic dedup (embedding-space near-identicals, cluster-bounded)
# ---------------------------------------------------------------------------


@register(
    "embedding_semantic_dedup",
    tags=("LLM-dedup", "LLM-similarity"),
    oracle=semdedup.sql_semantic_drop_list(
        table="embeddings", k=8, iters=2, threshold=0.35
    ),
)
def embedding_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style drop list: Lloyd-clustered corpus, within-cluster
    cosine >= 0.35 collisions, keeper = lowest id. The cluster structure
    bounds the pair search the way LSH bands do for MinHash (by DESIGN a
    subset of the exact global pair graph — that recall trade-off is the
    operator's scale contract). Deterministic end-to-end, so the DuckDB
    oracle replays training + assignment + pairing exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup.semantic_drop_list(
        emb, id_col="vec_id", vec_col="embedding", k=8, iters=2, threshold=0.35
    )


@register(
    "embedding_sq_topk",
    tags=("LLM-sim",),
    oracle=sq_quant.sql_sq_topk(query_pred="vec_id < 10", k=5, shortlist=20),
)
def embedding_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 approximate top-5: per-dimension 8-bit scalar quantization
    (4x compression, the middle fidelity rung between IVF-Flat and PQ),
    asymmetric scoring against reconstructed vectors, shortlist-20, exact
    re-rank. The DuckDB oracle replays grid training, encoding, ADC
    scoring, shortlist and re-rank — a full differential check of the
    SQ pipeline."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return sq_quant.sq_topk(emb, queries, k=5, shortlist=20)


# ---------------------------------------------------------------------------
# Graph centrality over the near-dup graph
# ---------------------------------------------------------------------------

_PR_EDGES_SQL = f"""
  WITH sh AS (
    SELECT doc_id AS doc, unnest({_SQL_SHINGLES}) AS s FROM documents
  ),
  sizes AS (SELECT doc, count(*) AS n FROM sh GROUP BY doc),
  common AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS c
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc
    GROUP BY 1, 2
  ),
  prs AS (
    SELECT doc_a, doc_b FROM common
    JOIN sizes sa ON sa.doc = doc_a
    JOIN sizes sb ON sb.doc = doc_b
    WHERE c / (sa.n + sb.n - c)::DOUBLE >= 0.5
  )
  SELECT doc_a AS src, doc_b AS dst FROM prs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM prs
"""


@register(
    "pagerank_dup_graph",
    tags=("LLM-dedup", "LLM-graph"),
    # Literal-VALUES oracle (bounded memory at any sf): the unrolled-CTE
    # sql_pagerank replay re-derived the jaccard edge relation inside
    # every iteration and was DuckDB-disk-bound at sf1. The edge SQL runs
    # once; the integer fixed point replays in Python. Pinned equal to
    # the CTE oracle at sf0.001/0.01 in tests/test_llmdata.py; verified
    # at sf0.1 manually and hash-exact at sf1 (CORRECTNESS_SF1_r8).
    oracle_fn=lambda sf_dir: graph.sql_pagerank_expected(
        sf_dir, _PR_EDGES_SQL, iters=3, damping=0.85
    ),
)
def pagerank_dup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the exact 3-gram-Jaccard near-dup graph
    (threshold 0.5, symmetrized) — scores cluster representatives the
    way connected_components labels them. Ranks are exact micro-unit
    integers at every iteration (integer-div contributions, BIGINT sums,
    one rounded double multiply per term), so the DuckDB oracle unrolls
    the 3 iterations into CTEs and matches bit-for-bit — a fully
    differential-checked iterative graph algorithm."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.5
    )
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = fwd.unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    return graph.pagerank(edges, iters=3, damping=0.85)


@register(
    "graph_triangles_copurchase",
    tags=("LLM-graph",),
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
prs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT e1.pa AS node_a, e1.pb AS node_b, e2.pb AS node_c
FROM prs e1
JOIN prs e2 ON e2.pa = e1.pb
JOIN prs e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
""",
)
def graph_triangles_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the part co-purchase graph (parts
    linked when bought together in ≥2 orders) via degree-oriented wedge
    closing (operators/graph.py:triangles) — co-purchase cliques are
    the "frequently bought together" bundles a basket analysis promotes
    beyond pairwise lift. Scale shape: the per-basket pair generation
    is a self-join bounded by basket size (≤7 lines per TPC-H order —
    O(k²) per basket, never corpus-quadratic), the support-≥2 filter is
    a partial-aggregatable HAVING that prunes the edge list before any
    graph work, and the wedge join bounds hub out-degree at O(√m) by
    orienting edges along the (degree, node) total order. The DuckDB
    oracle is the brute three-way pair join — an independent derivation
    of the same triangle set."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    pairs = (
        items.alias("a")
        .join(
            items.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .select("pa", "pb")
    )
    return graph.triangles(pairs, a_col="pa", b_col="pb")


@register(
    "split_train_eval",
    tags=("LLM-mixing",),
    oracle=f"""
SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM (
  SELECT doc_id, n_chars,
         {sampling.sql_split_train_eval(id_col="doc_id", holdout_pct=10)} AS split
  FROM documents
)
GROUP BY split
""",
)
def split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 train/eval split on the portable id hash —
    map-only, rerun-stable, append-stable (new rows never move old rows
    across the boundary). Profiled per split; the assignment itself is
    the oracle-checked surface."""
    docs = load_table(spark, sf_dir, "documents")
    out = sampling.split_train_eval(docs, id_col="doc_id", holdout_pct=10)
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@register(
    "multimodal_wav_decode",
    tags=("LLM-multimodal",),
    oracle=f"""
WITH t AS (
  SELECT doc_id AS media_id,
         substr({_MEDIA_TEXT_SQL} || repeat(' ', 64), 1, 64) AS s
  FROM documents
),
sm AS (
  SELECT media_id, u.i AS pos,
         (ascii(substr(s, CAST(u.i AS INT), 1)) - 100) * 128 AS v
  FROM t, unnest(range(1, 65)) AS u(i)
),
lagd AS (
  SELECT media_id, v,
         lag(v) OVER (PARTITION BY media_id ORDER BY pos) AS pv
  FROM sm
),
zc AS (
  SELECT media_id,
         CAST(sum(CASE WHEN pv IS NOT NULL AND (pv < 0) != (v < 0)
                       THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
  FROM lagd GROUP BY media_id
),
st AS (
  SELECT media_id,
         CAST(sum(v) AS BIGINT) AS sum_s,
         min(v)::INT AS min_s, max(v)::INT AS max_s,
         round(sqrt(CAST(sum(v * v) AS DOUBLE) / 64), 6) AS rms
  FROM sm GROUP BY media_id
)
SELECT st.media_id, 8000 AS sample_rate, CAST(64 AS BIGINT) AS n_samples,
       8.0 AS duration_ms, st.sum_s, st.min_s, st.max_s, st.rms,
       zc.zero_crossings
FROM st JOIN zc USING (media_id)
""",
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV round-trip through the pure-stdlib RIFF/PCM16 codec: each
    document's first 64 bytes become an 8 kHz mono clip (real encoder),
    which the real decoder (chunk walk + fmt validation + PCM16 unpack)
    turns back into samples reduced to duration / amplitude / RMS /
    zero-crossings. The DuckDB oracle recomputes identical statistics
    straight from the text bytes — the audio twin of
    multimodal_png_decode, completing real decode for two of the three
    modalities (video stays metadata-level frame sampling)."""
    docs = _ascii_text_docs(load_table(spark, sf_dir, "documents"))
    media = multimodal.documents_as_wav_media(docs, n_samples=64)
    return multimodal.wav_audio_stats(media)


@register(
    "multimodal_video_keyframe",
    tags=("LLM-multimodal",),
    oracle=f"""
WITH t AS (
  SELECT doc_id AS media_id,
         substr({_MEDIA_TEXT_SQL} || repeat(' ', 256), 129, 64) AS s
  FROM documents
),
px AS (
  SELECT media_id, ascii(substr(s, CAST(u.i AS INT), 1)) AS v
  FROM t, unnest(range(1, 65)) AS u(i)
)
SELECT media_id, 8 AS width, 8 AS height,
       CAST(sum(v) AS BIGINT) AS sum_px,
       min(v) AS min_px, max(v) AS max_px,
       round(CAST(sum(v) AS DOUBLE) / 64, 6) AS mean_px
FROM px GROUP BY media_id
""",
)
def multimodal_video_keyframe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-pipeline shape: documents become 4-frame PSEQ
    containers of real PNGs; the operator walks the container to frame 2
    (skipping frames without decoding them — the keyframe-seek pattern),
    REALLY decodes that frame, and reduces it to pixel stats. The DuckDB
    oracle recomputes the stats from the frame's source byte range
    (bytes 129..192 of the padded text) — container walk, frame select
    and image decode all sit under the differential check."""
    docs = _ascii_text_docs(load_table(spark, sf_dir, "documents"))
    media = multimodal.documents_as_pngseq_media(
        docs, n_frames=4, width=8, height=8
    )
    return multimodal.pixel_stats(media, frame_idx=2)


@register(
    "multimodal_wav_resample",
    tags=("LLM-multimodal",),
    oracle=f"""
WITH t AS (
  SELECT doc_id AS media_id,
         substr({_MEDIA_TEXT_SQL} || repeat(' ', 64), 1, 64) AS s
  FROM documents
),
sm AS (
  SELECT media_id, u.i AS pos,
         (ascii(substr(s, CAST(u.i AS INT), 1)) - 100) * 128 AS v
  FROM t, unnest(range(1, 65)) AS u(i)
  WHERE (u.i - 1) % 4 = 0
)
SELECT media_id, 2000 AS sample_rate, CAST(16 AS BIGINT) AS n_samples,
       8.0 AS duration_ms,
       CAST(sum(v) AS BIGINT) AS sum_s,
       min(v)::INT AS min_s, max(v)::INT AS max_s,
       round(sqrt(CAST(sum(v * v) AS DOUBLE) / 16), 6) AS rms,
       (SELECT CAST(sum(CASE WHEN pv IS NOT NULL AND (pv < 0) != (z.v < 0)
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM (SELECT v, lag(v) OVER (ORDER BY pos) AS pv
              FROM sm s2 WHERE s2.media_id = sm.media_id) z
       ) AS zero_crossings
FROM sm GROUP BY media_id
""",
)
def multimodal_wav_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decimation: 8 kHz clips downsampled 4x through
    decode→take-every-4th→re-encode, then decoded AGAIN for statistics —
    two full codec round-trips under the oracle, which recomputes the
    stats from every 4th source byte (duration is preserved, the rate
    drops to 2 kHz)."""
    docs = _ascii_text_docs(load_table(spark, sf_dir, "documents"))
    media = multimodal.documents_as_wav_media(docs, n_samples=64)
    resampled = multimodal.resample_audio(media, factor=4)
    return multimodal.wav_audio_stats(resampled)


@register(
    "dedup_minhash_lsh_xxh64",
    tags=("LLM-dedup",),
    bench=True,
    # xxhash64 is JVM-native (that's the point — ~2x faster linear
    # signature pass than the portable-md5 build), so DuckDB can't
    # replay the hash. The oracle is instead a literal-VALUES freeze
    # computed at SQL-generation time from a pure-Python XXH64
    # reference (pinned bit-equal to F.xxhash64) + the trusted DuckDB
    # shingle mirror — the OPQ learned-rotation precedent. A sampled
    # rows-only query reads as a red `err` driver row (r6), so every
    # driver-visible query now carries a real oracle.
    oracle_fn=lambda sf_dir: dedup.sql_minhash_lsh_pairs_xxh64_expected(
        sf_dir, id_col="doc_id", text_col="text", n=3,
        num_perm=64, bands=_MH_BANDS, threshold=0.6,
    ),
)
def dedup_minhash_lsh_xxh64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION-speed MinHash-LSH variant: identical pipeline to
    dedup_minhash_lsh but hashing shingles with JVM-native xxhash64
    instead of portable md5 (the md5 build exists to make the pipeline
    DuckDB-replayable; this one exists to be fast). Same bands/rows,
    same exact verification at 0.6 — benched so the fast path's
    regression budget stays visible next to the differential build."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, id_col="doc_id", text_col="text", n=3,
        num_perm=64, bands=_MH_BANDS, threshold=0.6, portable=False,
    )


@register(
    "curation_pipeline_v2",
    tags=("LLM-dedup", "LLM-sim", "LLM-text", "LLM-mixing"),
    oracle=f"""
WITH drop_list AS ({semdedup.sql_semantic_drop_list(
        table="embeddings", k=8, iters=2, threshold=0.35)}),
kept AS (
  SELECT d.* FROM documents d
  WHERE d.doc_id NOT IN (SELECT vec_id FROM drop_list)
),
quality AS ({text.sql_quality_scores("doc_id", "text", table="kept")}),
good AS (
  SELECT k.* FROM kept k JOIN quality q ON k.doc_id = q.doc
  WHERE q.quality >= 0.40
),
sp AS (
  SELECT doc_id, lang, n_chars,
         {sampling.sql_split_train_eval(id_col="doc_id", holdout_pct=10)} AS split
  FROM good
)
SELECT split, lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM sp GROUP BY 1, 2
""",
)
def curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-3 curation chain as ONE composed plan, crossing tiers:
    SEMANTIC dedup over the embedding column (cluster-bounded cosine
    drop list, joined back to documents by id), heuristic quality
    filtering, and the deterministic train/eval split, rolled up per
    (split, lang). Every stage is an already-oracle-checked operator;
    this query pins the cross-modal composition — embeddings deciding
    which TEXT survives — behind one differential oracle (Lloyd CTEs
    and all). Complements curation_pipeline (exact-dedup/decontam path)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    drops = semdedup.semantic_drop_list(
        emb, id_col="vec_id", vec_col="embedding", k=8, iters=2, threshold=0.35
    ).select(F.col("vec_id").alias("doc_id"))
    kept = docs.join(drops, "doc_id", "left_anti")
    # quality is per-row deterministic → direct filter on the shared
    # expression instead of a self-semi-join (same collapse as
    # curation_pipeline; optimization round 11).
    good = kept.filter(text.quality_expr(F.col("text")) >= 0.40)
    sp = sampling.split_train_eval(good, id_col="doc_id", holdout_pct=10)
    return sp.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "text_hash_embeddings",
    tags=("LLM-text", "LLM-sim"),
    oracle=f"""
WITH {retrieval.sql_hash_embed(id_col="doc_id", text_col="text", dim=16)}
SELECT doc_id,
       CAST(to_json(list_transform(embedding,
              x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)))
            AS VARCHAR) AS embedding_micros,
       CAST(floor(list_reduce(list_prepend(0.0::DOUBLE,
              list_transform(embedding, x -> x * x)), (a, b) -> a + b)
            * 1000000 + 0.5) AS BIGINT) AS sq_norm_micros
FROM hemb
""",
)
def text_hash_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free document embeddings via the hashing trick: signed
    token counts in 16 hash buckets, L2-normalized — the deterministic
    bridge that makes a TEXT corpus searchable by the ANN/semantic-dedup
    tier without any external model. Counts are exact integers and the
    normalization is one sqrt + divisions on identical operands, so the
    whole featurizer replays in DuckDB. Vectors surface as JSON strings
    of half-up (toward +inf) BIGINT micros — identical IEEE
    floor(x*1e6+0.5) in both engines; note floor(-1.5+0.5) = -1, so for
    negative components this is half-up, NOT half-away-from-zero — and
    never raw ARRAY or rounded-double finals: the driver's
    canonicalizer crashes on array cells (r6 red row) and double reprs
    differ across engines."""
    docs = load_table(spark, sf_dir, "documents")
    emb = retrieval.hash_embed(docs, id_col="doc_id", text_col="text", dim=16)
    sq = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x * x),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    micros = F.transform(
        F.col("embedding"),
        lambda x: half_up(x, 6),
    )
    return emb.select(
        "doc_id",
        F.to_json(micros).alias("embedding_micros"),
        half_up(sq, 6).alias("sq_norm_micros"),
    )


@register(
    "heavy_hitter_tokens",
    tags=("LLM-text", "A4"),
    oracle=f"""
WITH tk AS (
  SELECT unnest({dedup.SQL_TOKENS.format(text='text')}) AS term FROM documents
),
tot AS (SELECT count(*) AS n FROM tk),
cnt AS (SELECT term, count(*) AS occurrences FROM tk GROUP BY term)
SELECT c.term, c.occurrences
FROM cnt c CROSS JOIN tot
WHERE c.occurrences * 50 >= tot.n
""",
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-token mining via Spark 4's approx_top_k sketch — run in
    its EXACT regime (maxItemsTracked far above the vocabulary size, so
    the sketch degenerates to true counts; the regime where a
    differential oracle is possible) and thresholded RELATIVELY
    (>= 2% of token mass) so no tie can straddle the cut. At true
    web-scale vocabularies the same query runs with a bounded tracker
    and becomes the classic approximate heavy-hitters pass — the exact
    twin here is what its error would be measured against."""
    from stock_streaming_data_pipeline_spark.operators.dedup import tokens

    max_tracked = 100_000
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(F.explode(tokens(F.col("text"))).alias("term"))
    # One pass for both guards: total token mass (the relative threshold)
    # and the distinct-term count — the exact regime holds only while the
    # vocabulary fits the tracker, so assert it rather than silently
    # drifting approximate (and off-oracle) at larger corpora.
    counts = tk.agg(
        F.count(F.lit(1)).alias("total"),
        F.count_distinct("term").alias("vocab"),
    ).first()
    total, vocab = counts["total"], counts["vocab"]
    if vocab >= max_tracked:
        raise ValueError(
            f"heavy_hitter_tokens exact regime violated: vocabulary "
            f"{vocab} >= maxItemsTracked {max_tracked}; raise the tracker "
            "or accept approximate counts (no oracle)"
        )
    sk = tk.agg(
        F.expr(f"approx_top_k(term, 64, {max_tracked})").alias("top")
    ).select(F.explode("top").alias("e"))
    return (
        sk.select(
            F.col("e.item").alias("term"),
            F.col("e.count").alias("occurrences"),
        )
        .filter(F.col("occurrences") * 50 >= F.lit(total))
    )


@register(
    "sample_weighted_quality",
    tags=("LLM-mixing",),
    oracle=f"""
WITH q AS ({text.sql_quality_scores("doc_id", "text", table="documents")}),
w AS (
  SELECT d.doc_id, d.lang, q.quality
  FROM documents d JOIN q ON d.doc_id = q.doc
)
{sampling.sql_sample_weighted_es(
        id_col="doc_id", weight_col="quality", k=50,
        select="doc_id, lang, round(quality, 6) AS quality", table="w")}
""",
)
def sample_weighted_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus sampling (Efraimidis–Spirakis priority
    sample): inclusion odds proportional to the quality score, yet fully
    deterministic — the 'random' draw comes from the portable id hash,
    so the same 50 documents win on any engine or rerun (and the DuckDB
    oracle replays the draw). The data-mixing tool for 'sample better
    documents more often' without an RNG seed dependence."""
    docs = load_table(spark, sf_dir, "documents")
    q = text.quality_scores(docs, id_col="doc_id", text_col="text")
    w = docs.join(
        q.select(F.col("doc").alias("doc_id"), "quality"), "doc_id"
    ).select("doc_id", "lang", "quality")
    out = sampling.sample_weighted_es(
        w, id_col="doc_id", weight_col="quality", k=50
    )
    return out.select(
        "doc_id", "lang", F.round("quality", 6).alias("quality"), "_es_key"
    )


@register(
    "text_semantic_search",
    tags=("LLM-text", "LLM-sim"),
    oracle=similarity.sql_ranked_topk(
        [
            retrieval.sql_hash_embed(id_col="doc_id", text_col="text", dim=32),
            "qs AS (SELECT doc_id, embedding FROM hemb WHERE doc_id < 3)",
            """scored AS (
  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
         round(
           list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(range(1, len(q.embedding) + 1),
               i -> (q.embedding)[i] * (c.embedding)[i])), (a, x) -> a + x),
           6) AS cosine
  FROM qs q JOIN hemb c ON c.doc_id != q.doc_id
)""",
        ],
        5,
    ),
)
def text_semantic_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free semantic search end-to-end: hash-embed the TEXT corpus
    (unit vectors, so the dot IS the cosine), take the first three
    documents as queries, exact cosine top-5 over the hashed space —
    text goes in, ranked neighbors come out, no external model anywhere,
    and the entire featurize+search pipeline replays in DuckDB."""
    docs = load_table(spark, sf_dir, "documents")
    emb = retrieval.hash_embed(
        docs, id_col="doc_id", text_col="text", dim=32
    ).withColumnRenamed("doc_id", "vec_id")
    queries = emb.filter(F.col("vec_id") < 3)
    return similarity.cosine_topk(emb, queries, k=5)


@register(
    "embedding_coreset",
    tags=("LLM-sim", "LLM-mixing"),
    oracle=coreset.sql_kcenter_greedy(table="embeddings", k=5),
)
def embedding_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-center greedy coreset (5 maximally spread representatives) —
    the diversity-sampling pass of a curation pipeline. Each greedy
    round broadcasts only the chosen set (<= k vectors) for a map-side
    max-similarity pass; decisions are round-6 with id tie-breaks, so
    the iterative algorithm unrolls into the DuckDB oracle's chained
    CTEs like the Lloyd and PageRank loops."""
    emb = load_table(spark, sf_dir, "embeddings")
    return coreset.kcenter_greedy(emb, id_col="vec_id", vec_col="embedding", k=5)


@register(
    "corpus_datacard",
    tags=("LLM-mixing", "A4", "A6"),
    oracle=f"""
WITH base AS (
  SELECT source, lang, n_chars,
         len({dedup.SQL_TOKENS.format(text="text")}) AS n_toks,
         md5(text) AS h
  FROM documents
),
per_source AS (
  SELECT source,
         count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         CAST(sum(n_toks) AS BIGINT) AS total_tokens,
         round(sum(n_toks)::DOUBLE / count(*), 6) AS mean_doc_tokens,
         count(DISTINCT lang) AS n_langs,
         round(1.0 - count(DISTINCT h)::DOUBLE / count(*), 6)
           AS dup_fraction
  FROM base GROUP BY source
),
lang_counts AS (
  SELECT source, lang, count(*) AS c FROM base GROUP BY 1, 2
),
top_lang AS (
  SELECT source, lang AS top_lang FROM (
    SELECT source, lang,
           row_number() OVER (
             PARTITION BY source ORDER BY c DESC, lang ASC
           ) AS rn
    FROM lang_counts
  ) WHERE rn = 1
)
SELECT p.source, p.n_docs, p.total_chars, p.total_tokens,
       p.mean_doc_tokens, p.n_langs, p.dup_fraction, t.top_lang
FROM per_source p JOIN top_lang t ON t.source = p.source
""",
)
def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source corpus data card — the summary table a curation
    pipeline publishes with every release (datasheets-for-datasets
    practice): document/character/token volumes, language diversity
    with the modal language, and the exact-duplicate fraction, per
    source. One scan, two grouped aggregates and a per-source modal
    pick; every figure is integer or round-6, so the card itself is
    differential-checked like any operator."""
    from stock_streaming_data_pipeline_spark.operators.dedup import tokens

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "lang",
        "n_chars",
        F.size(tokens(F.col("text"))).alias("n_toks"),
        F.md5("text").alias("h"),
    )
    per_source = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.round(
            F.sum("n_toks").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_doc_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(
            F.lit(1.0) - F.countDistinct("h").cast("double") / F.count(F.lit(1)),
            6,
        ).alias("dup_fraction"),
    )
    lang_counts = base.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("c")
    )
    wl = Window.partitionBy("source").orderBy(F.desc("c"), F.asc("lang"))
    top_lang = (
        lang_counts.withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    return per_source.join(top_lang, "source")


@register(
    "golden_record_consolidation",
    tags=("LLM-dedup", "A5", "J2"),
    oracle=f"""
WITH RECURSIVE sh AS (
  SELECT doc_id AS doc, unnest({_SQL_SHINGLES}) AS s FROM documents
),
sizes AS (SELECT doc, count(*) AS n FROM sh GROUP BY doc),
common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM common
  JOIN sizes sa ON sa.doc = doc_a
  JOIN sizes sb ON sb.doc = doc_b
  WHERE c / (sa.n + sb.n - c)::DOUBLE >= 0.5
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
  SELECT a, a AS b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (SELECT a AS doc, min(b) AS component FROM reach GROUP BY a),
fullt AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component,
         d.source, d.n_chars
  FROM documents d LEFT JOIN comp c ON c.doc = d.doc_id
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY component ORDER BY n_chars DESC, source, doc_id
  ) AS rn
  FROM fullt
),
stats AS (
  SELECT component, count(*) AS n_members,
         CAST(sum(n_chars) AS BIGINT) AS total_chars
  FROM fullt GROUP BY component
)
SELECT r.component, s.n_members, s.total_chars,
       r.doc_id AS survivor_doc_id,
       r.source AS survivor_source,
       r.n_chars AS survivor_n_chars
FROM ranked r JOIN stats s USING (component)
WHERE r.rn = 1
""",
)
def golden_record_consolidation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Master-data survivorship: every document lands in a near-dup
    cluster (transitive closure over the exact Jaccard pair graph;
    singletons are their own cluster), and each cluster elects ONE
    golden record by rule cascade — longest text wins, ties broken by
    source name then doc_id — alongside merged cluster stats. The
    election is a single min(struct(-n_chars, source, doc_id, payload))
    aggregate, NOT a ranking window: no per-cluster sort, one shuffle on
    the cluster key, skew-free at 100 TB (the oracle replays the cascade
    as a ROW_NUMBER, which is the same total order)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.5
    )
    comp = dedup.connected_components(pairs)
    fullt = docs.join(comp, docs.doc_id == comp.doc, "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
        "source",
        "n_chars",
    )
    return fullt.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min(
            F.struct(
                (-F.col("n_chars")).alias("neg_chars"),
                F.col("source").alias("source"),
                F.col("doc_id").alias("doc_id"),
            )
        ).alias("sv"),
    ).select(
        "component",
        "n_members",
        "total_chars",
        F.col("sv.doc_id").alias("survivor_doc_id"),
        F.col("sv.source").alias("survivor_source"),
        (-F.col("sv.neg_chars")).cast("long").alias("survivor_n_chars"),
    )


@register(
    "dedup_sorted_neighborhood",
    tags=("LLM-dedup", "O1"),
    oracle=dedup.sql_sorted_neighborhood_pairs(
        "doc_id", "text", window=8, n=3, threshold=0.5
    ),
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup candidates: one global sort on a
    permutation-invariant blocking key, a FIXED docs x (window-1)
    candidate budget (immune to hot-shingle skew, unlike inverted-index
    blocking), exact hashed-shingle Jaccard verification. The global
    sort is the range-partitioned global_rank, never a single-task
    window; pairing is a block-id equi-join."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.sorted_neighborhood_pairs(
        docs, id_col="doc_id", text_col="text", window=8, n=3, threshold=0.5
    )


@register(
    "corpus_split_manifest",
    tags=("LLM-mix", "A4"),
    oracle=f"""
WITH b AS (
  SELECT source, n_chars,
         {dedup.sql_portable_hash("CAST(doc_id AS VARCHAR)", salt="split_")} % 100
           AS bucket
  FROM documents
),
s AS (
  SELECT source,
         CASE WHEN bucket < 80 THEN 'train'
              WHEN bucket < 90 THEN 'validation'
              ELSE 'test' END AS split,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars
  FROM b GROUP BY 1, 2
),
t AS (SELECT source, CAST(sum(n_docs) AS BIGINT) AS tot FROM s GROUP BY 1)
SELECT s.source, s.split, s.n_docs, s.sum_chars,
       (s.n_docs * 2 * 1000000 + t.tot) // (2 * t.tot) AS share_micro
FROM s JOIN t ON t.source = s.source
""",
)
def corpus_split_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/validation/test split manifest per
    source — the reproducibility artifact every training-data pipeline
    publishes with a corpus release. Membership is a pure function of
    the document id (portable md5 bucket, salt-isolated from every
    other hash family in the repo), so the split is stable across runs,
    engines, partitionings and appends — no RNG, no order dependence;
    re-running on a grown corpus never reassigns an existing doc. The
    manifest reports per (source, split) doc counts, char mass and the
    half-up micro share within the source. Scale shape: one
    map-combined groupBy to the |sources| x 3 grid; the share join runs
    on the bounded grid."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        dedup.portable_hash(F.col("doc_id").cast("string"), salt="split_"),
        F.lit(100),
    )
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("validation"))
        .otherwise(F.lit("test"))
    )
    s = docs.groupBy("source", split.alias("split")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
    t = s.groupBy("source").agg(F.sum("n_docs").cast("long").alias("tot"))
    return s.join(F.broadcast(t), "source").selectExpr(
        "source",
        "split",
        "n_docs",
        "sum_chars",
        "(n_docs * 2 * 1000000 + tot) DIV (2 * tot) AS share_micro",
    )


# chi2 from the four exact contingency cells as ONE fixed-association
# double expression (the integer products overflow int64 past ~3e9
# doc-token pairs, so the squared term goes through DOUBLE; inputs stay
# exact BIGINTs and the expression tree is identical in both engines).
_CHI2 = (
    "CAST(floor("
    "CAST(a + b + c + d AS DOUBLE)"
    " * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)"
    "    - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))"
    " * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)"
    "    - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))"
    " / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)"
    "    * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE))"
    " * 1000000 + 0.5) AS BIGINT) AS chi2_micro"
)


@register(
    "token_chi2_by_source",
    tags=("LLM-text", "LLM-mix", "O2"),
    oracle=f"""
WITH td AS (
  SELECT doc_id AS doc, source = 'src0' AS is_code,
         unnest(list_distinct({dedup.SQL_TOKENS.format(text="text")})) AS t
  FROM documents
),
totals AS (
  SELECT CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_code,
         CAST(sum(CASE WHEN source = 'src0' THEN 0 ELSE 1 END) AS BIGINT)
           AS n_other
  FROM documents
),
cells AS (
  SELECT t,
         CAST(sum(CASE WHEN is_code THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(sum(CASE WHEN is_code THEN 0 ELSE 1 END) AS BIGINT) AS cc
  FROM td GROUP BY t
),
cont AS (
  SELECT t, a, n_code - a AS b, cc AS c, n_other - cc AS d
  FROM cells CROSS JOIN totals
  WHERE a + cc >= 5 AND (n_code - a) + (n_other - cc) > 0
    AND n_code > 0 AND n_other > 0
),
scored AS (SELECT t, a, c, {_CHI2} FROM cont)
SELECT t AS token, chi2_micro, a AS n_class_docs, c AS n_other_docs
FROM scored
ORDER BY chi2_micro DESC, token ASC
LIMIT 20
""",
)
def token_chi2_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square token feature selection against the 'src0' source class —
    the classic supervised vocabulary filter a training-data pipeline
    runs to find the tokens most associated with a domain class before
    building domain classifiers or mixing weights. One doc-distinct
    token explode + ONE vocabulary-bounded aggregate produce the four
    exact contingency cells per token (class totals ride a broadcast
    1-row stats frame); the chi2 statistic is one fixed-association
    double expression over those exact integers, half-up micro-rounded;
    the report is a TakeOrderedAndProject top-20 with deterministic
    (chi2 desc, token asc) tie-breaks. Low-support tokens (df < 5) and
    corpus-universal tokens are excluded in both engines. Scale shape:
    nothing after the vocabulary groupBy exceeds |vocab| rows."""
    docs = load_table(spark, sf_dir, "documents")
    td = docs.select(
        (F.col("source") == "src0").alias("is_code"),
        F.explode(F.array_distinct(dedup.tokens(F.col("text")))).alias("t"),
    )
    totals = docs.agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0))
        .cast("long").alias("n_code"),
        F.sum(F.when(F.col("source") == "src0", 0).otherwise(1))
        .cast("long").alias("n_other"),
    )
    cells = td.groupBy("t").agg(
        F.sum(F.when(F.col("is_code"), 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(F.col("is_code"), 0).otherwise(1)).cast("long").alias("cc"),
    )
    cont = (
        cells.crossJoin(F.broadcast(totals))
        .filter(
            (F.col("a") + F.col("cc") >= 5)
            & ((F.col("n_code") - F.col("a"))
               + (F.col("n_other") - F.col("cc")) > 0)
            # class-presence guard: chi2 is undefined (and ANSI division
            # throws) when either class is empty at a tier
            & (F.col("n_code") > 0) & (F.col("n_other") > 0)
        )
        .select(
            "t", "a",
            (F.col("n_code") - F.col("a")).alias("b"),
            F.col("cc").alias("c"),
            (F.col("n_other") - F.col("cc")).alias("d"),
        )
    )
    scored = cont.selectExpr("t", "a", "c", _CHI2)
    return (
        scored.orderBy(F.desc("chi2_micro"), F.asc("t"))
        .limit(20)
        .select(
            F.col("t").alias("token"),
            "chi2_micro",
            F.col("a").alias("n_class_docs"),
            F.col("c").alias("n_other_docs"),
        )
    )


@register(
    "dedup_snm_idf_keys",
    tags=("LLM-dedup", "O1"),
    oracle=dedup.sql_snm_idf_pairs(
        "doc_id", "text", window=8, n=3, threshold=0.5
    ),
)
def dedup_snm_idf_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup candidates under IDF-weighted
    multi-pass blocking keys (each doc's 4 rarest shared tokens,
    df-ascending with a df>=2 floor, plus the rank-shifted second pass
    that survives one injected/dropped rare token) — the
    discriminative-key variant of dedup_sorted_neighborhood: rare shared
    vocabulary pulls true near-dups adjacent where the smallest-token
    key drowns in stopwords. Fixed 2 x docs x (window-1) candidate
    budget, range-partitioned global sort, exact hashed-shingle Jaccard
    verification; the df table adds one vocabulary-bounded aggregate and
    a doc-partitioned rarest-token election window."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.snm_idf_pairs(
        docs, id_col="doc_id", text_col="text", window=8, n=3, threshold=0.5
    )


@register(
    "linkage_fellegi_sunter",
    tags=("LLM-dedup",),
    oracle=f"""
WITH sh AS (
  SELECT doc_id AS doc, unnest({_SQL_SHINGLES}) AS s FROM documents
),
sizes AS (SELECT doc, count(*) AS n FROM sh GROUP BY doc),
common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc
  GROUP BY 1, 2
),
matched AS (
  SELECT doc_a, doc_b FROM common
  JOIN sizes sa ON sa.doc = doc_a
  JOIN sizes sb ON sb.doc = doc_b
  WHERE c / (sa.n + sb.n - c)::DOUBLE >= 0.5
),
recs AS (
  SELECT doc_id, lang, n_chars // 100 AS lb, source,
         substr(text, 1, 16) AS head, n_chars
  FROM documents
),
cand AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         CASE WHEN x.source = y.source THEN 1 ELSE 0 END AS agree_source,
         CASE WHEN x.head = y.head THEN 1 ELSE 0 END AS agree_head,
         CASE WHEN x.n_chars = y.n_chars THEN 1 ELSE 0 END AS agree_len,
         CASE WHEN m.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_m
  FROM recs x
  JOIN recs y ON x.lang = y.lang AND x.lb = y.lb AND x.doc_id < y.doc_id
  LEFT JOIN matched m ON m.doc_a = x.doc_id AND m.doc_b = y.doc_id
),
stats AS (
  SELECT
    CAST(sum(is_m) AS BIGINT) AS nm,
    CAST(sum(1 - is_m) AS BIGINT) AS nu,
    CAST(sum(is_m * agree_source) AS BIGINT) AS ms,
    CAST(sum((1 - is_m) * agree_source) AS BIGINT) AS us,
    CAST(sum(is_m * agree_head) AS BIGINT) AS mh,
    CAST(sum((1 - is_m) * agree_head) AS BIGINT) AS uh,
    CAST(sum(is_m * agree_len) AS BIGINT) AS ml,
    CAST(sum((1 - is_m) * agree_len) AS BIGINT) AS ul
  FROM cand
),
terms AS (
  SELECT
    CAST(floor(ln(((ms + 1.0) / (nm + 2.0)) / ((us + 1.0) / (nu + 2.0))) * 1000000 + 0.5) AS BIGINT) AS t_src_a,
    CAST(floor(ln(((nm - ms + 1.0) / (nm + 2.0)) / ((nu - us + 1.0) / (nu + 2.0))) * 1000000 + 0.5) AS BIGINT) AS t_src_d,
    CAST(floor(ln(((mh + 1.0) / (nm + 2.0)) / ((uh + 1.0) / (nu + 2.0))) * 1000000 + 0.5) AS BIGINT) AS t_head_a,
    CAST(floor(ln(((nm - mh + 1.0) / (nm + 2.0)) / ((nu - uh + 1.0) / (nu + 2.0))) * 1000000 + 0.5) AS BIGINT) AS t_head_d,
    CAST(floor(ln(((ml + 1.0) / (nm + 2.0)) / ((ul + 1.0) / (nu + 2.0))) * 1000000 + 0.5) AS BIGINT) AS t_len_a,
    CAST(floor(ln(((nm - ml + 1.0) / (nm + 2.0)) / ((nu - ul + 1.0) / (nu + 2.0))) * 1000000 + 0.5) AS BIGINT) AS t_len_d
  FROM stats
)
SELECT c.doc_a, c.doc_b, c.agree_source, c.agree_head, c.agree_len, c.is_m,
       (CASE WHEN c.agree_source = 1 THEN t.t_src_a ELSE t.t_src_d END
        + CASE WHEN c.agree_head = 1 THEN t.t_head_a ELSE t.t_head_d END
        + CASE WHEN c.agree_len = 1 THEN t.t_len_a ELSE t.t_len_d END)
         AS weight_micro,
       CASE
         WHEN (CASE WHEN c.agree_source = 1 THEN t.t_src_a ELSE t.t_src_d END
               + CASE WHEN c.agree_head = 1 THEN t.t_head_a ELSE t.t_head_d END
               + CASE WHEN c.agree_len = 1 THEN t.t_len_a ELSE t.t_len_d END)
              >= 2000000 THEN 'link'
         WHEN (CASE WHEN c.agree_source = 1 THEN t.t_src_a ELSE t.t_src_d END
               + CASE WHEN c.agree_head = 1 THEN t.t_head_a ELSE t.t_head_d END
               + CASE WHEN c.agree_len = 1 THEN t.t_len_a ELSE t.t_len_d END)
              <= -2000000 THEN 'non_link'
         ELSE 'possible'
       END AS link_class
FROM cand c CROSS JOIN terms t
""",
)
def linkage_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage over the document
    corpus: candidate pairs from (lang, length-bucket) blocking, m/u
    agreement probabilities per comparison field (source, 16-char head,
    exact length) estimated with Laplace smoothing — m over the labeled
    match set (the 3-gram-Jaccard ≥0.5 near-dup pairs inside the
    blocks), u over the non-matched candidates — and each pair scored
    with the classic sum of log-likelihood field weights, thresholded
    into link / possible / non_link.

    Exactness: the six log-odds TERM CONSTANTS are computed once from
    the global agreement counts and micro-snapped; every pair's weight
    is then an exact INTEGER sum of snapped constants, so the
    differential is bit-exact (ln touches six values total, not six
    million). Scale shape: blocking bounds candidates (never all-pairs
    — the 100 TB contract of every dedup operator here), the agreement
    stats fold into ONE aggregate over the candidate relation, and the
    terms ride back as a broadcast 1-row frame."""
    docs = load_table(spark, sf_dir, "documents")
    pairs_m = dedup.ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.5
    ).select("doc_a", "doc_b", F.lit(1).alias("is_m_flag"))
    recs = docs.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 100).cast("long").alias("lb"),
        "source",
        F.substring("text", 1, 16).alias("head"),
        "n_chars",
    )
    x, y = recs.alias("x"), recs.alias("y")
    cand = materialize(  # scanned by the stats agg AND the scoring pass
        x.join(
            y,
            (F.col("x.lang") == F.col("y.lang"))
            & (F.col("x.lb") == F.col("y.lb"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            (F.col("x.source") == F.col("y.source")).cast("int").alias("agree_source"),
            (F.col("x.head") == F.col("y.head")).cast("int").alias("agree_head"),
            (F.col("x.n_chars") == F.col("y.n_chars")).cast("int").alias("agree_len"),
        )
        .join(pairs_m, ["doc_a", "doc_b"], "left")
        .withColumn("is_m", F.coalesce("is_m_flag", F.lit(0)))
        .drop("is_m_flag"),
        eager=False,
    )
    s = cand.agg(
        F.sum("is_m").alias("nm"),
        F.sum(F.lit(1) - F.col("is_m")).alias("nu"),
        F.sum(F.col("is_m") * F.col("agree_source")).alias("ms"),
        F.sum((F.lit(1) - F.col("is_m")) * F.col("agree_source")).alias("us"),
        F.sum(F.col("is_m") * F.col("agree_head")).alias("mh"),
        F.sum((F.lit(1) - F.col("is_m")) * F.col("agree_head")).alias("uh"),
        F.sum(F.col("is_m") * F.col("agree_len")).alias("ml"),
        F.sum((F.lit(1) - F.col("is_m")) * F.col("agree_len")).alias("ul"),
    )

    def term(agree_m, agree_u):
        # micro-snapped ln odds; identical expression tree to the oracle
        return half_up(F.log(agree_m / agree_u), 6)

    nm2 = F.col("nm") + F.lit(2.0)
    nu2 = F.col("nu") + F.lit(2.0)
    terms = s.select(
        term((F.col("ms") + F.lit(1.0)) / nm2, (F.col("us") + F.lit(1.0)) / nu2).alias("t_src_a"),
        term((F.col("nm") - F.col("ms") + F.lit(1.0)) / nm2, (F.col("nu") - F.col("us") + F.lit(1.0)) / nu2).alias("t_src_d"),
        term((F.col("mh") + F.lit(1.0)) / nm2, (F.col("uh") + F.lit(1.0)) / nu2).alias("t_head_a"),
        term((F.col("nm") - F.col("mh") + F.lit(1.0)) / nm2, (F.col("nu") - F.col("uh") + F.lit(1.0)) / nu2).alias("t_head_d"),
        term((F.col("ml") + F.lit(1.0)) / nm2, (F.col("ul") + F.lit(1.0)) / nu2).alias("t_len_a"),
        term((F.col("nm") - F.col("ml") + F.lit(1.0)) / nm2, (F.col("nu") - F.col("ul") + F.lit(1.0)) / nu2).alias("t_len_d"),
    )
    out = cand.crossJoin(F.broadcast(terms))
    weight = (
        F.when(F.col("agree_source") == 1, F.col("t_src_a")).otherwise(F.col("t_src_d"))
        + F.when(F.col("agree_head") == 1, F.col("t_head_a")).otherwise(F.col("t_head_d"))
        + F.when(F.col("agree_len") == 1, F.col("t_len_a")).otherwise(F.col("t_len_d"))
    )
    return out.select(
        "doc_a",
        "doc_b",
        "agree_source",
        "agree_head",
        "agree_len",
        "is_m",
        weight.alias("weight_micro"),
        F.when(weight >= 2_000_000, F.lit("link"))
        .when(weight <= -2_000_000, F.lit("non_link"))
        .otherwise(F.lit("possible"))
        .alias("link_class"),
    )


@register(
    "basket_association_rules",
    tags=("A4", "J2"),
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM items),
item_support AS (
  SELECT l_partkey, count(*) AS s FROM items GROUP BY 1 HAVING count(*) >= 3
),
freq_items AS (
  SELECT i.l_orderkey, i.l_partkey, sup.s
  FROM items i JOIN item_support sup USING (l_partkey)
),
pair_support AS (
  SELECT a.l_partkey AS x, b.l_partkey AS y, count(*) AS sxy,
         max(a.s) AS sx, max(b.s) AS sy
  FROM freq_items a JOIN freq_items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT x AS antecedent, y AS consequent,
       CAST(sxy AS BIGINT) AS support_xy,
       CAST(sx AS BIGINT) AS support_x, CAST(sy AS BIGINT) AS support_y,
       (sxy * 2000000 + sx) // (2 * sx) AS confidence_micro,
       (sxy * n.n * 2000000 + sx * sy) // (2 * sx * sy) AS lift_micro
FROM pair_support CROSS JOIN n_orders n
""",
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional association rules X→Y over order baskets with
    apriori pruning: items below the minimum support die BEFORE the
    pair self-join (the pruning that makes basket mining feasible at
    scale — the pair stream only ever contains frequent items), pair
    support via the basket-bounded self-join (≤7 lines per TPC-H
    order), confidence = s(xy)/s(x) and lift = n·s(xy)/(s(x)·s(y)) as
    exact integer half-away micro-units. Both rule directions emit
    (confidence is asymmetric). One distinct pass, one support
    aggregate, one bounded self-join — no corpus-quadratic step."""
    li = load_table(spark, sf_dir, "lineitem")
    items = materialize(
        li.select("l_orderkey", "l_partkey").distinct(), eager=False
    )
    n_orders = items.agg(
        F.countDistinct("l_orderkey").alias("n")
    )  # 1-row broadcast, no driver action
    support = (
        items.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("s"))
        .filter(F.col("s") >= 3)
    )
    freq = items.join(support, "l_partkey")
    a = freq.select(
        F.col("l_orderkey").alias("o"),
        F.col("l_partkey").alias("x"),
        F.col("s").alias("sx"),
    )
    b = freq.select(
        F.col("l_orderkey").alias("o"),
        F.col("l_partkey").alias("y"),
        F.col("s").alias("sy"),
    )
    pairs = a.join(b, "o").filter(F.col("x") != F.col("y"))
    ps = (
        pairs.groupBy("x", "y")
        .agg(
            F.count(F.lit(1)).alias("sxy"),
            F.max("sx").alias("sx"),
            F.max("sy").alias("sy"),
        )
        .filter(F.col("sxy") >= 2)
        .crossJoin(F.broadcast(n_orders))
    )
    return ps.select(
        F.col("x").alias("antecedent"),
        F.col("y").alias("consequent"),
        F.col("sxy").alias("support_xy"),
        F.col("sx").alias("support_x"),
        F.col("sy").alias("support_y"),
        F.expr("(sxy * 2000000 + sx) DIV (2 * sx)").alias("confidence_micro"),
        F.expr(
            "(sxy * n * 2000000 + sx * sy) DIV (2 * sx * sy)"
        ).alias("lift_micro"),
    )


def _kcore_oracle(k: int, rounds: int) -> str:
    # every CTE MATERIALIZED: DuckDB inlines plain CTEs, and five rounds
    # referencing the previous round TWICE would re-derive the basket
    # pair mining 2^5 times (observed: minutes instead of ~1 s)
    parts = [
        """items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)""",
        """prs AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
)""",
        "a0 AS MATERIALIZED (SELECT u AS n FROM prs UNION SELECT v FROM prs)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""d{r} AS MATERIALIZED (
  SELECT n, count(*) AS deg FROM (
    SELECT e.u AS n FROM prs e
      JOIN a{r - 1} x ON x.n = e.u JOIN a{r - 1} y ON y.n = e.v
    UNION ALL
    SELECT e.v FROM prs e
      JOIN a{r - 1} x ON x.n = e.u JOIN a{r - 1} y ON y.n = e.v
  ) GROUP BY 1
),
a{r} AS MATERIALIZED (SELECT n FROM d{r} WHERE deg >= {k})"""
        )
    body = ",\n".join(parts)
    return (
        f"WITH {body}\n"
        f"SELECT n AS node, CAST(deg AS BIGINT) AS degree "
        f"FROM d{rounds} WHERE deg >= {k}"
    )


@register(
    "graph_kcore_copurchase",
    tags=("LLM-graph",),
    oracle=_kcore_oracle(k=2, rounds=5),
)
def graph_kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the part co-purchase graph by fixed-round peeling
    (operators/graph.py:kcore, 5 rounds — the graph converges in 3):
    iteratively drop parts whose co-purchase degree falls below 2 as
    their neighbors disappear — the dense-bundle skeleton left after
    stripping tendrils, the graph-cleaning step that precedes community
    detection or bundle mining. Each round is one semi-join of the
    (shrinking) edge list + one degree aggregate, lineage cut per round;
    the oracle replays all 5 rounds as chained CTEs on exact counts."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    pairs = (
        items.alias("a")
        .join(
            items.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .select("pa", "pb")
    )
    return graph.kcore(pairs, a_col="pa", b_col="pb", k=2, rounds=5)


# Frozen RAKE stopword list — identical literal in both engines.
_RAKE_STOPWORDS = (
    "the", "and", "of", "to", "a", "in", "is", "it", "that", "for",
    "on", "with", "as", "was", "at", "by", "an", "be", "this", "are",
    "or", "from", "not", "but", "we", "you", "they", "has", "have", "had",
)


@register(
    "text_keywords_rake",
    tags=("LLM-text",),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {dedup.SQL_TOKENS.format(text="text")} AS ts FROM documents
),
pos AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS i, ts[u.i] AS w
  FROM toks, unnest(range(1, len(ts) + 1)) AS u(i)
),
content AS (
  SELECT doc_id, i, w,
         row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn
  FROM pos
  WHERE w NOT IN ({", ".join(f"'{s}'" for s in _RAKE_STOPWORDS)})
),
phrases AS (
  SELECT doc_id, i - rn AS run_id, w,
         count(*) OVER (PARTITION BY doc_id, i - rn) AS phrase_len
  FROM content
),
word_stats AS (
  SELECT w AS word,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(phrase_len) AS BIGINT) AS degree
  FROM phrases GROUP BY 1
)
SELECT word, freq, degree,
       (degree * 2000000 + freq) // (2 * freq) AS score_micro
FROM word_stats
""",
)
def text_keywords_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword scoring (Rose et al.'s Rapid Automatic Keyword
    Extraction) over the corpus: candidate phrases are maximal runs of
    non-stopword tokens (a gaps-and-islands grouping on token position
    — run id = position − content-rank), each word scored
    degree/frequency where degree sums the lengths of the phrases it
    appears in — words that ride in long multi-word phrases outrank
    equally-frequent words that appear alone. Ratio snapped to exact
    integer micro-units. Scale shape: one tokenize-explode pass, one
    per-doc ordered window (positions within a document — bounded by
    doc length), one word aggregate; the stopword list is a frozen
    literal in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", dedup.tokens(F.col("text")).alias("ts"))
    pos = toks.select(
        "doc_id", F.posexplode("ts").alias("i0", "w")
    ).select("doc_id", (F.col("i0") + 1).cast("long").alias("i"), "w")
    content = pos.filter(~F.col("w").isin(*_RAKE_STOPWORDS)).withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("i")),
    )
    phrases = content.withColumn("run_id", F.col("i") - F.col("rn")).withColumn(
        "phrase_len",
        F.count(F.lit(1)).over(Window.partitionBy("doc_id", "run_id")),
    )
    word_stats = phrases.groupBy(F.col("w").alias("word")).agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("phrase_len").alias("degree"),
    )
    return word_stats.select(
        "word",
        "freq",
        "degree",
        F.expr("(degree * 2000000 + freq) DIV (2 * freq)").alias("score_micro"),
    )


# ---------------------------------------------------------------------------
# Perceptual-hash (DCT sign) image near-dup
# ---------------------------------------------------------------------------

import math as _math  # noqa: E402

# Frozen integer micro-cosine DCT-II table for the 4 lowest frequencies of
# an 8-sample row: ct[u][x] = round(cos(pi*(2x+1)*u/16) * 1e6). Computed
# once in Python, embedded as literals in BOTH engines — no in-engine
# transcendentals, every DCT coefficient is an exact integer.
_DCT_TAB = [
    (u, x, int(_math.floor(_math.cos(_math.pi * (2 * x + 1) * u / 16) * 1e6 + 0.5)))
    for u in range(4)
    for x in range(8)
]
_DCT_CSUM = {u: sum(c for uu, _x, c in _DCT_TAB if uu == u) for u in range(4)}
# Per-AC-coefficient parameters: bit index, bit weight, and the centering
# constant csum_u * csum_v (sum over pixels of the basis function).
_PHASH_PAR = [
    (u, v, v * 4 + u - 1, 1 << (v * 4 + u - 1), _DCT_CSUM[u] * _DCT_CSUM[v])
    for v in range(4)
    for u in range(4)
    if not (u == 0 and v == 0)
]
_DCT_VALUES = ", ".join(f"({u}, {x}, {c})" for u, x, c in _DCT_TAB)
_PHASH_VALUES = ", ".join(
    f"({u}, {v}, {b}, {w}, {cc})" for u, v, b, w, cc in _PHASH_PAR
)


# The full pixel->DCT->sign-pack CTE chain, shared by every pHash oracle.
_PHASH_CTES = f"""t AS (
  SELECT doc_id AS media_id,
         substr({_MEDIA_TEXT_SQL} || repeat(' ', 64), 1, 64) AS s
  FROM documents
),
px AS (
  SELECT media_id, CAST(u.i AS INT) - 1 AS i,
         ascii(substr(s, CAST(u.i AS INT), 1)) AS v
  FROM t, unnest(range(1, 65)) AS u(i)
),
px2 AS (SELECT media_id, i % 8 AS x, i // 8 AS y, v FROM px),
sp AS (SELECT media_id, CAST(sum(v) AS BIGINT) AS sp FROM px GROUP BY 1),
ct(u, x, c) AS (VALUES {_DCT_VALUES}),
par(u, vv, bit, w, cc) AS (VALUES {_PHASH_VALUES}),
s AS (
  SELECT p.media_id, cx.u AS u, cy.u AS vv,
         CAST(sum(CAST(p.v AS HUGEINT) * cx.c * cy.c) AS HUGEINT) AS s_uv
  FROM px2 p JOIN ct cx ON cx.x = p.x JOIN ct cy ON cy.x = p.y
  GROUP BY 1, 2, 3
),
d AS (
  SELECT s.media_id, par.w,
         64 * s.s_uv - CAST(sp.sp AS HUGEINT) * par.cc AS dd
  FROM s JOIN par ON par.u = s.u AND par.vv = s.vv
  JOIN sp ON sp.media_id = s.media_id
),
ph AS (
  SELECT media_id,
         CAST(sum(CASE WHEN dd > 0 THEN w ELSE 0 END) AS BIGINT) AS phash
  FROM d GROUP BY 1
)"""


def _phash_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, phash) via real PNG decode + relational integer DCT —
    the shared front end of the pHash query family."""
    docs = _ascii_text_docs(load_table(spark, sf_dir, "documents"))
    return phash_from_docs(spark, docs)


def phash_from_docs(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """pHash pipeline over any (doc_id, text) frame — split out so tests
    can assert perceptual properties (e.g. brightness invariance) on
    constructed inputs.

    Shape (optimization round 11): ONE decode pass and ONE exchange.
    Each pixel row contributes to all 16 (u,v) DCT accumulators via
    frozen-literal cosine array lookups (no join fan-out), a single
    map-combined groupBy(media_id) produces the 16 coefficient sums
    (16 BIGINTs per image cross the shuffle), and the mean-centering
    term is recovered EXACTLY from the DC coefficient:
    S_00 = sum(v * 1e6 * 1e6) = 1e12 * sum_px, so sp = S_00 DIV 1e12 —
    which removes the previous second decode pass (px was scanned once
    for px2 and once for sp; real zlib PNG decode ran twice per image).
    All arithmetic is BIGINT — the previous DECIMAL(38,0) lattice is
    unnecessary because the bounds are SF-INDEPENDENT (they depend only
    on the 8x8 image and the frozen tables): |v*c*c2| <= 255*1e6*1e6 =
    2.55e14, |S_uv| <= 64*2.55e14 = 1.632e16, |64*S_uv| <= 1.045e18 and
    |sp*cc| <= 16320*(8e6)^2 = 1.044e18, so |dd| <= 2.09e18 < 2^63-1
    with 4.4x headroom at ANY scale factor. Exact integers in, exact
    integers out: the resulting phash values are bit-identical to the
    decimal/join formulation (unit-pinned in tests)."""
    media = multimodal.documents_as_png_media(docs, width=8, height=8)
    px = multimodal.pixel_rows(media)
    cos_u = {
        u: F.array(
            *[F.lit(c).cast("long") for uu, _x, c in _DCT_TAB if uu == u]
        )
        for u in range(4)
    }
    xi = (F.col("i") % 8).cast("int")
    yi = F.expr("CAST(i DIV 8 AS INT)")
    sums = [
        F.sum(
            F.col("v").cast("long")
            * F.element_at(cos_u[u], xi + 1)
            * F.element_at(cos_u[v], yi + 1)
        ).alias(f"s_{u}_{v}")
        for u in range(4)
        for v in range(4)
    ]
    g = px.groupBy("media_id").agg(*sums)
    sp = F.expr("s_0_0 DIV 1000000000000")  # exact: S_00 = 1e12 * sum_px
    bits = [
        F.when(
            F.lit(64) * F.col(f"s_{u}_{v}") - sp * F.lit(cc) > 0, F.lit(w)
        ).otherwise(F.lit(0))
        for (u, v, _bit, w, cc) in _PHASH_PAR
    ]
    phash = bits[0]
    for b in bits[1:]:
        phash = phash + b
    return g.select("media_id", phash.cast("long").alias("phash"))


@register(
    "multimodal_phash_neardup",
    tags=("LLM-multimodal", "LLM-dedup"),
    # non-frozen bench slot since round 10 (r9 verdict #6): the
    # multimodal tier's wall-clock representative — real zlib PNG decode
    # through Arrow mapInPandas plus the relational DCT/pHash pipeline.
    bench=True,
    oracle=f"""
WITH {_PHASH_CTES}
SELECT phash, CAST(count(*) AS BIGINT) AS n_docs,
       min(media_id) AS min_doc, max(media_id) AS max_doc
FROM ph GROUP BY 1 HAVING count(*) >= 2
""",
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCT-sign perceptual hash over REAL decoded images, bucketed for
    near-duplicate detection: each document's 8x8 grayscale PNG (real
    zlib encode) is REALLY decoded back to pixels (mapInPandas — the
    Python side only decodes), then the 15 lowest-frequency 2D-DCT
    coefficients are computed RELATIONALLY with frozen integer
    micro-cosine tables (no in-engine transcendentals), mean-centering
    folded in exactly via ``64*S_uv - sum_px * csum_u*csum_v``, and the
    coefficient SIGNS packed into a 15-bit pHash. Images whose hashes
    collide are perceptual near-dups — robust to brightness scaling and
    small noise in a way byte-exact dedup is not. The oracle recomputes
    pixels straight from the text bytes and replays the identical
    integer DCT. Scale shape: decode is Arrow-batched and payload-local;
    the DCT is a 32-row broadcast join + map-combined groupBy onto
    15 rows per image; bucketing is one groupBy on the hash.
    (Shared front end: `_phash_frame`.)"""
    ph = _phash_frame(spark, sf_dir)
    return (
        ph.groupBy("phash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("media_id").alias("min_doc"),
            F.max("media_id").alias("max_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# WAV spectrogram: framed DFT over real audio decode
# ---------------------------------------------------------------------------

# Frozen integer micro cos/sin DFT tables for bins k=1..4 of a 16-sample
# frame — same no-in-engine-transcendentals discipline as the DCT pHash.
_SPG_N = 16
_SPG_BINS = 4
_SPG_TAB = [
    (
        k,
        p,
        int(_math.floor(_math.cos(2 * _math.pi * k * p / _SPG_N) * 1e6 + 0.5)),
        int(_math.floor(_math.sin(2 * _math.pi * k * p / _SPG_N) * 1e6 + 0.5)),
    )
    for k in range(1, _SPG_BINS + 1)
    for p in range(_SPG_N)
]
_SPG_VALUES = ", ".join(f"({k}, {p}, {c}, {s})" for k, p, c, s in _SPG_TAB)
_SPG_MAG = (
    "CAST(floor((CAST(c AS DOUBLE) * CAST(c AS DOUBLE)"
    " + CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / 1000000000000.0 + 0.5)"
    " AS BIGINT) AS mag2"
)


@register(
    "multimodal_wav_spectrogram",
    tags=("LLM-multimodal",),
    oracle=f"""
WITH t AS (
  SELECT doc_id AS media_id,
         substr({_MEDIA_TEXT_SQL} || repeat(' ', 64), 1, 64) AS s
  FROM documents
),
sm AS (
  SELECT media_id, CAST(u.i AS INT) - 1 AS pos,
         (ascii(substr(s, CAST(u.i AS INT), 1)) - 100) * 128 AS v
  FROM t, unnest(range(1, 65)) AS u(i)
),
fr AS (
  SELECT media_id, pos // {_SPG_N} AS frame, pos % {_SPG_N} AS ph, v
  FROM sm
),
tab(k, ph, cq, sq) AS (VALUES {_SPG_VALUES}),
acc AS (
  SELECT f.media_id, f.frame, tab.k,
         CAST(sum(CAST(f.v AS HUGEINT) * tab.cq) AS BIGINT) AS c,
         CAST(sum(CAST(f.v AS HUGEINT) * tab.sq) AS BIGINT) AS s
  FROM fr f JOIN tab ON tab.ph = f.ph
  GROUP BY 1, 2, 3
)
SELECT media_id, frame, k, {_SPG_MAG}
FROM acc
""",
)
def multimodal_wav_spectrogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectrogram over REAL decoded audio: each clip (the WAV round-trip
    of multimodal_wav_decode) is framed into 4 x 16-sample windows and
    each frame's power at DFT bins k=1..4 (500-2000 Hz at the 8 kHz
    rate) computed RELATIONALLY — frozen integer micro cos/sin tables
    (no in-engine transcendentals), exact integer accumulators per
    (clip, frame, bin), one deterministic int->double cast for the
    squared magnitude. This is the time-frequency feature grid an audio
    curation pipeline filters on (speech/music/silence bands). The
    oracle recomputes samples straight from the text bytes and replays
    the identical DFT. Scale shape: decode is Arrow-batched and
    payload-local; the DFT is a 64-row broadcast join + map-combined
    groupBy onto 16 rows per clip — no window functions, no shuffle
    wider than the output."""
    docs = _ascii_text_docs(load_table(spark, sf_dir, "documents"))
    media = multimodal.documents_as_wav_media(docs, n_samples=64)
    sm = multimodal.wav_sample_rows(media)
    fr = sm.selectExpr(
        "media_id", f"pos div {_SPG_N} AS frame", f"pos % {_SPG_N} AS ph", "v"
    )
    tab = spark.createDataFrame(
        _SPG_TAB, schema="k INT, ph INT, cq BIGINT, sq BIGINT"
    )
    acc = (
        fr.join(F.broadcast(tab), "ph")
        .groupBy("media_id", "frame", "k")
        .agg(
            F.sum(dec38(F.col("v")) * dec38(F.col("cq"))).cast("long").alias("c"),
            F.sum(dec38(F.col("v")) * dec38(F.col("sq"))).cast("long").alias("s"),
        )
    )
    return acc.selectExpr("media_id", "frame", "k", _SPG_MAG)


# ---------------------------------------------------------------------------
# Retrieval quality evaluation: nDCG@10 against label relevance
# ---------------------------------------------------------------------------

_NDCG_K = 10
# Frozen integer micro discount weights 1/log2(rank+1): computed once in
# Python, embedded in both engines — DCG becomes an exact integer sum.
_NDCG_W = [
    (r, int(_math.floor(1e6 / _math.log2(r + 1) + 0.5)))
    for r in range(1, _NDCG_K + 1)
]
_NDCG_W_VALUES = ", ".join(f"({r}, {w})" for r, w in _NDCG_W)
_NDCG_CUMW = []
_acc = 0
for _r, _w in _NDCG_W:
    _acc += _w
    _NDCG_CUMW.append((_r, _acc))
_NDCG_CUMW_VALUES = ", ".join(f"({r}, {cw})" for r, cw in _NDCG_CUMW)


@register(
    "retrieval_ndcg_eval",
    tags=("LLM-retrieval",),
    oracle=f"""
WITH scored AS (
  SELECT a.vec_id AS query_id, a.label AS qlab,
         b.vec_id AS neighbor_id, b.label AS nlab,
         round(({_SQL_DOT_AB}) / (({_SQL_NORM_A}) * ({_SQL_NORM_B})), 6)
           AS cosine
  FROM embeddings a, embeddings b
  WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
),
topk AS (SELECT * FROM ranked WHERE rank <= {_NDCG_K}),
wt(rank, w) AS (VALUES {_NDCG_W_VALUES}),
cumw(r, cw) AS (VALUES {_NDCG_CUMW_VALUES}),
dcg AS (
  SELECT query_id,
         CAST(sum(CASE WHEN nlab = qlab THEN w ELSE 0 END) AS BIGINT)
           AS dcg_micro,
         CAST(sum(CASE WHEN nlab = qlab THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rel_topk
  FROM topk JOIN wt USING (rank) GROUP BY 1
),
pool AS (
  SELECT a.vec_id AS query_id,
         CAST(least(count(*), {_NDCG_K}) AS BIGINT) AS r_ideal
  FROM embeddings a JOIN embeddings b
    ON b.label = a.label AND b.vec_id <> a.vec_id
  WHERE a.vec_id < 10
  GROUP BY 1
)
SELECT d.query_id, d.n_rel_topk,
       CAST(CASE WHEN p.r_ideal = 0 THEN 0
            ELSE floor(CAST(d.dcg_micro AS DOUBLE) / c.cw * 1000000 + 0.5)
            END AS BIGINT) AS ndcg_micro
FROM dcg d
JOIN pool p ON p.query_id = d.query_id
JOIN cumw c ON c.r = p.r_ideal
""",
)
def retrieval_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of brute-force cosine retrieval, judged by label match —
    the retrieval-quality scorecard every embedding-model change gets
    evaluated on. Relevance is binary (neighbor shares the query's
    label); DCG uses FROZEN integer micro discount weights
    1/log2(rank+1) (computed once in Python, embedded in both engines),
    so the DCG is an exact integer sum, and the ideal DCG is a LOOKUP
    into the prefix-summed weight table at r_ideal = min(k, corpus
    relevant count) — corpus-wide ideal, the strict nDCG definition.
    One deterministic int->double division yields the score. Scale
    shape: retrieval is the broadcast-queries cosine top-k (per-query
    rank windows over the 10 LIMIT pools); the ideal-pool count is one
    label-keyed join+groupBy; everything else is <= 10 rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    topk = similarity.cosine_topk(emb, queries, k=_NDCG_K)
    labels = emb.select("vec_id", "label")
    wt = spark.createDataFrame(_NDCG_W, schema="rank BIGINT, w BIGINT")
    cumw = spark.createDataFrame(_NDCG_CUMW, schema="r BIGINT, cw BIGINT")
    qlabels = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlab")
    )  # key-bounded (vec_id < 10): legitimately broadcastable at any SF
    lab = (
        topk.join(F.broadcast(qlabels), "query_id")
        .join(
            labels.withColumnsRenamed(
                {"vec_id": "neighbor_id", "label": "nlab"}
            ),
            "neighbor_id",
        )
    )
    dcg = (
        lab.join(F.broadcast(wt), "rank")
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when(F.col("nlab") == F.col("qlab"), F.col("w")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("dcg_micro"),
            F.sum(
                F.when(F.col("nlab") == F.col("qlab"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("n_rel_topk"),
        )
    )
    pool = (
        qlabels
        .join(
            labels.withColumnsRenamed({"vec_id": "bid", "label": "nlab"}),
            F.col("nlab") == F.col("qlab"),
        )
        .filter(F.col("bid") != F.col("query_id"))
        .groupBy("query_id")
        .agg(
            F.least(F.count(F.lit(1)), F.lit(_NDCG_K))
            .cast("long")
            .alias("r_ideal")
        )
    )
    return (
        dcg.join(pool, "query_id")
        .join(F.broadcast(cumw), F.col("r") == F.col("r_ideal"))
        .selectExpr(
            "query_id",
            "n_rel_topk",
            "CAST(CASE WHEN r_ideal = 0 THEN 0"
            " ELSE floor(CAST(dcg_micro AS DOUBLE) / cw * 1000000 + 0.5)"
            " END AS BIGINT) AS ndcg_micro",
        )
    )


# ---------------------------------------------------------------------------
# Cross-source vocabulary overlap matrix
# ---------------------------------------------------------------------------


@register(
    "corpus_vocab_overlap",
    tags=("LLM-text", "LLM-dedup"),
    oracle="""
WITH tsrc AS (
  SELECT DISTINCT source, term
  FROM (SELECT source, unnest({toks}) AS term FROM documents)
),
vs AS (SELECT source, CAST(count(*) AS BIGINT) AS v FROM tsrc GROUP BY 1),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS i
  FROM tsrc a JOIN tsrc b ON a.term = b.term AND a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, i AS n_shared,
       CAST(floor(CAST(i AS DOUBLE) / (va.v + vb.v - i) * 1000000 + 0.5)
            AS BIGINT) AS jaccard_micro
FROM inter
JOIN vs va ON va.source = src_a
JOIN vs vb ON vb.source = src_b
""".format(toks=dedup.SQL_TOKENS.format(text="text")),
)
def corpus_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the cross-corpus
    contamination screen run before mixing corpora: a suspiciously high
    overlap between two 'independent' sources means shared boilerplate
    or one scraping the other. Same posting-list architecture as the
    document-level dedup joins, one level up: the (term, source)
    distinct relation shuffles ONCE into per-term source lists
    (vocabulary-sized, source lists bounded by |sources|), pair
    generation is map-side, and the intersection counts aggregate onto
    the |sources|^2 grid. Vocabulary sizes come from one groupBy; the
    Jaccard is a single deterministic int->double division."""
    docs = load_table(spark, sf_dir, "documents")
    tsrc = (
        docs.select(
            "source", F.explode(dedup.tokens(F.col("text"))).alias("term")
        )
        .groupBy("term", "source")
        .agg(F.count(F.lit(1)).alias("_f"))
        .select("term", "source")
    )
    vs = tsrc.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("v"))
    posting = (
        tsrc.groupBy("term")
        .agg(F.collect_list("source").alias("srcs"))
        .filter(F.size("srcs") > 1)
        .select("srcs")
    )
    inter = (
        posting.select(F.explode("srcs").alias("src_a"), "srcs")
        .select("src_a", F.explode("srcs").alias("src_b"))
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("i"))
    )
    return (
        inter.join(
            F.broadcast(vs.withColumnsRenamed({"source": "src_a", "v": "va"})),
            "src_a",
        )
        .join(
            F.broadcast(vs.withColumnsRenamed({"source": "src_b", "v": "vb"})),
            "src_b",
        )
        .selectExpr(
            "src_a",
            "src_b",
            "i AS n_shared",
            "CAST(floor(CAST(i AS DOUBLE) / (va + vb - i) * 1000000 + 0.5)"
            " AS BIGINT) AS jaccard_micro",
        )
    )


# ---------------------------------------------------------------------------
# ANN recall evaluation: LSH top-k vs exact brute-force top-k
# ---------------------------------------------------------------------------

_RECALL_K = 5


@register(
    "ann_recall_eval",
    tags=("LLM-sim", "LLM-retrieval"),
    oracle=f"""
WITH brute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           round(({_SQL_DOT_AB}) / (({_SQL_NORM_A}) * ({_SQL_NORM_B})), 6)
             AS cosine,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY round(({_SQL_DOT_AB})
                            / (({_SQL_NORM_A}) * ({_SQL_NORM_B})), 6) DESC,
                      b.vec_id
           ) AS rank
    FROM embeddings a, embeddings b
    WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id
  ) WHERE rank <= {_RECALL_K}
),
lshq AS (
  SELECT query_id, neighbor_id FROM (
    {similarity.sql_lsh_topk(query_pred="vec_id < 10", k=_RECALL_K, dim=64, bits=4)}
  )
),
hits AS (
  SELECT b.query_id, CAST(count(l.neighbor_id) AS BIGINT) AS n_hit
  FROM brute b
  LEFT JOIN lshq l
    ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
  GROUP BY 1
)
SELECT query_id, n_hit,
       CAST(floor(CAST(n_hit AS DOUBLE) / {_RECALL_K} * 1000000 + 0.5)
            AS BIGINT) AS recall_micro
FROM hits
""",
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the LSH-bucketed ANN path against the exact brute-force
    ground truth, per query — the accuracy-vs-speed scorecard that
    justifies (or vetoes) deploying an approximate index, and the
    catalog-level form of the recall-floor unit tests the ANN operators
    carry. Both retrieval subplans are the existing oracle-checked
    operators (cosine_topk / lsh_topk with fixed hyperplane literals),
    so the eval itself is deterministic end-to-end: the overlap count is
    one (query, neighbor) equi-join of two <=10x5-row LIMIT pools. A
    recall below 1.0 here is the LSH design's documented approximation,
    not nondeterminism — both engines report the identical number."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    brute = similarity.cosine_topk(emb, queries, k=_RECALL_K).select(
        "query_id", "neighbor_id"
    )
    lsh = similarity.lsh_topk(
        emb, queries, k=_RECALL_K, dim=64, bits=4
    ).select("query_id", F.col("neighbor_id").alias("lsh_neighbor"))
    hits = (
        brute.join(
            lsh,
            (brute["query_id"] == lsh["query_id"])
            & (brute["neighbor_id"] == lsh["lsh_neighbor"]),
            "left",
        )
        .select(brute["query_id"].alias("qid"), "lsh_neighbor")
        .groupBy("qid")
        .agg(F.count("lsh_neighbor").cast("long").alias("n_hit"))
    )
    return hits.selectExpr(
        "qid AS query_id",
        "n_hit",
        f"CAST(floor(CAST(n_hit AS DOUBLE) / {_RECALL_K} * 1000000 + 0.5)"
        " AS BIGINT) AS recall_micro",
    )


# ---------------------------------------------------------------------------
# Audio silence-run detection (gaps-and-islands over real decode)
# ---------------------------------------------------------------------------

_SILENCE_ABS = 1280  # |sample| below this (10% of byte-span amplitude) = silent


@register(
    "multimodal_wav_silence_runs",
    tags=("LLM-multimodal",),
    oracle=f"""
WITH t AS (
  SELECT doc_id AS media_id,
         substr({_MEDIA_TEXT_SQL} || repeat(' ', 64), 1, 64) AS s
  FROM documents
),
sm AS (
  SELECT media_id, CAST(u.i AS INT) - 1 AS pos,
         (ascii(substr(s, CAST(u.i AS INT), 1)) - 100) * 128 AS v
  FROM t, unnest(range(1, 65)) AS u(i)
),
sil AS (
  SELECT media_id, pos,
         pos - row_number() OVER (PARTITION BY media_id ORDER BY pos)
           AS island
  FROM sm WHERE abs(v) < {_SILENCE_ABS}
),
runs AS (
  SELECT media_id, island, CAST(count(*) AS BIGINT) AS run_len
  FROM sil GROUP BY 1, 2
)
SELECT media_id,
       CAST(count(*) AS BIGINT) AS n_runs,
       CAST(sum(run_len) AS BIGINT) AS n_silent,
       CAST(max(run_len) AS BIGINT) AS longest_run,
       CAST(floor(CAST(sum(run_len) AS DOUBLE) / 64 * 1000000 + 0.5)
            AS BIGINT) AS silence_frac_micro
FROM runs GROUP BY 1
HAVING max(run_len) >= 4
""",
)
def multimodal_wav_silence_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence-run detection over REAL decoded audio — the
    gaps-and-islands sweep an audio curation pipeline uses to drop or
    trim dead clips: contiguous low-amplitude runs (|sample| under 10%
    of the byte-span amplitude) per clip, reporting run count, total
    silent samples, the longest run and the silence fraction for clips
    with a run of 4+ samples. The islands come from the classic
    ``pos - row_number()`` trick over the silent rows only — windows
    are partitioned per clip (64 rows each, bounded), decode is the
    Arrow-batched WAV path (Python only decodes), and every statistic
    is an exact integer. The oracle replays the identical island
    arithmetic from the source bytes."""
    docs = _ascii_text_docs(load_table(spark, sf_dir, "documents"))
    media = multimodal.documents_as_wav_media(docs, n_samples=64)
    sm = multimodal.wav_sample_rows(media)
    w = Window.partitionBy("media_id").orderBy("pos")
    sil = sm.filter(F.abs(F.col("v")) < _SILENCE_ABS).select(
        "media_id",
        (F.col("pos") - F.row_number().over(w)).alias("island"),
    )
    runs = sil.groupBy("media_id", "island").agg(
        F.count(F.lit(1)).cast("long").alias("run_len")
    )
    return (
        runs.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_runs"),
            F.sum("run_len").cast("long").alias("n_silent"),
            F.max("run_len").cast("long").alias("longest_run"),
            half_up(F.sum("run_len").cast("double") / 64, 6)
            .alias("silence_frac_micro"),
        )
        .filter(F.col("longest_run") >= 4)
    )


# ---------------------------------------------------------------------------
# Histogram equalization over real PNG decode (relational pixel transform)
# ---------------------------------------------------------------------------


@register(
    "multimodal_png_equalize",
    tags=("LLM-multimodal",),
    oracle=f"""
WITH t AS (
  SELECT doc_id AS media_id,
         substr({_MEDIA_TEXT_SQL} || repeat(' ', 64), 1, 64) AS s
  FROM documents
),
px AS (
  SELECT media_id, ascii(substr(s, CAST(u.i AS INT), 1)) AS v
  FROM t, unnest(range(1, 65)) AS u(i)
),
hist AS (
  SELECT media_id, v, CAST(count(*) AS BIGINT) AS c FROM px GROUP BY 1, 2
),
cdf AS (
  SELECT media_id, v, c,
         CAST(sum(c) OVER (PARTITION BY media_id ORDER BY v) AS BIGINT)
           AS cle
  FROM hist
),
mn AS (
  SELECT media_id, CAST(min(cle) AS BIGINT) AS cmin FROM cdf GROUP BY 1
),
eq AS (
  SELECT cdf.media_id, cdf.c,
         CAST(floor(CAST((cle - cmin) AS DOUBLE) * 255 / (64 - cmin) + 0.5)
              AS BIGINT) AS nv
  FROM cdf JOIN mn ON mn.media_id = cdf.media_id
  WHERE cmin < 64
)
SELECT media_id,
       CAST(min(nv) AS BIGINT) AS min_eq,
       CAST(max(nv) AS BIGINT) AS max_eq,
       CAST(sum(c * nv) AS BIGINT) AS sum_eq,
       CAST(count(*) AS BIGINT) AS n_levels
FROM eq GROUP BY 1
""",
)
def multimodal_png_equalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram equalization over REAL decoded images, computed
    RELATIONALLY: the classic contrast transform
    ``nv = round((cdf(v) - cdf_min) * 255 / (n - cdf_min))`` runs as a
    per-image groupBy histogram (<=256 rows per image by construction)
    + a partitioned cumulative window + one exact integer remap — the
    pixel payload never re-enters Python after the Arrow-batched
    decode. Reports the equalized dynamic range (min/max stretch to
    0..255 is the transform's defining property), the equalized pixel
    sum and the distinct-level count per image; every value is an
    exact integer, so the text-byte-replaying oracle matches
    bit-for-bit. Scale shape: decode is payload-local; everything
    after is bounded by 256 levels x images."""
    docs = _ascii_text_docs(load_table(spark, sf_dir, "documents"))
    media = multimodal.documents_as_png_media(docs, width=8, height=8)
    px = multimodal.pixel_rows(media)
    hist = px.groupBy("media_id", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = Window.partitionBy("media_id").orderBy("v")
    cdf = hist.select(
        "media_id", "v", "c", F.sum("c").over(w).cast("long").alias("cle")
    )
    mn = cdf.groupBy("media_id").agg(F.min("cle").cast("long").alias("cmin"))
    # constant images (cmin = 64, e.g. all-padding texts) have no
    # dynamic range to stretch — excluded in BOTH engines (div-by-zero)
    eq = cdf.join(mn, "media_id").filter(F.col("cmin") < 64).select(
        "media_id",
        "c",
        half_up(
            (F.col("cle") - F.col("cmin")).cast("double")
            * 255
            / (64 - F.col("cmin")),
            0,
        ).alias("nv"),
    )
    return eq.groupBy("media_id").agg(
        F.min("nv").cast("long").alias("min_eq"),
        F.max("nv").cast("long").alias("max_eq"),
        F.sum(F.col("c") * F.col("nv")).cast("long").alias("sum_eq"),
        F.count(F.lit(1)).cast("long").alias("n_levels"),
    )


@register(
    "multimodal_phash_hamming_pairs",
    tags=("LLM-multimodal", "LLM-dedup"),
    oracle=f"""
WITH {_PHASH_CTES},
bands AS (
  SELECT media_id, phash, 0 AS band, phash % 256 AS bkey FROM ph
  UNION ALL
  SELECT media_id, phash, 1 AS band, phash // 256 AS bkey FROM ph
),
cand AS (
  SELECT DISTINCT a.media_id AS doc_a, a.phash AS ph_a,
                  b.media_id AS doc_b, b.phash AS ph_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.media_id < b.media_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(ph_a, ph_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(ph_a, ph_b)) <= 1
""",
)
def multimodal_phash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pHash near-dup pairs with 1-bit tolerance — the hamming-distance
    relaxation of multimodal_phash_neardup's exact-collision buckets:
    two images whose 15-bit DCT-sign hashes differ in AT MOST one bit
    are paired, catching near-dups where a single coefficient sits on
    the sign boundary. The scale trick is the pigeonhole BAND JOIN (the
    LSH banding idea applied to hamming space): the hash splits into an
    8-bit and a 7-bit band, and any pair within hamming 1 must agree
    EXACTLY on at least one band — so candidates come from two
    equi-joins on band keys (never an all-pairs hash comparison), then
    one bit_count(xor) verifies. Same exact-integer pipeline and shared
    oracle CTEs as the bucket query; deterministic end-to-end."""
    ph = materialize(_phash_frame(spark, sf_dir), eager=False)
    bands = ph.selectExpr(
        "media_id", "phash", "0 AS band", "phash % 256 AS bkey"
    ).unionByName(
        ph.selectExpr("media_id", "phash", "1 AS band", "phash div 256 AS bkey")
    )
    a = bands.selectExpr(
        "media_id AS doc_a", "phash AS ph_a", "band", "bkey"
    )
    b = bands.selectExpr(
        "media_id AS doc_b", "phash AS ph_b", "band", "bkey"
    )
    cand = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "ph_a", "doc_b", "ph_b")
        .distinct()
    )
    return cand.selectExpr(
        "doc_a",
        "doc_b",
        "CAST(bit_count(ph_a ^ ph_b) AS BIGINT) AS hamming",
    ).filter(F.col("hamming") <= 1)


# ---------------------------------------------------------------------------
# Readability scoring (Flesch reading ease, heuristic syllables)
# ---------------------------------------------------------------------------

# Shared template; constants spelled as CAST(int)/int so neither engine
# parses a fractional literal as DECIMAL (the Spark literal trap).
_FLESCH = (
    "CAST(floor((CAST(206835 AS DOUBLE) / 1000"
    " - CAST(1015 AS DOUBLE) / 1000 * nw / ns"
    " - CAST(846 AS DOUBLE) / 10 * sy / nw) * 1000000 + 0.5)"
    " AS BIGINT) AS flesch_micro"
)


@register(
    "text_readability",
    tags=("LLM-text",),
    oracle=f"""
WITH m AS (
  SELECT doc_id,
         CAST(len({dedup.SQL_TOKENS.format(text="text")}) AS BIGINT) AS nw,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
           AS ns,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
           AS sy
  FROM documents
)
SELECT doc_id, nw AS n_words, ns AS n_sentences, sy AS n_syllables,
       {_FLESCH}
FROM m WHERE nw > 0
""",
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document with the standard distributed
    heuristics: words from the shared tokenizer, sentences as
    terminal-punctuation runs (floored at 1), syllables as vowel-group
    runs — the readability gate a curation pipeline uses beside the
    C4/Gopher filters (very low scores flag legalese/boilerplate; very
    high ones flag fragment spam). Every count is a native regex
    expression inside whole-stage codegen (no UDFs); the score is one
    shared double template over exact integers with the fractional
    constants spelled CAST(int)/int so neither engine parses a DECIMAL
    literal. Scale: map-only — no shuffle at all beyond the scan."""
    docs = load_table(spark, sf_dir, "documents")
    m = docs.select(
        "doc_id",
        F.size(dedup.tokens(F.col("text"))).cast("long").alias("nw"),
        F.greatest(
            F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"))),
            F.lit(1),
        )
        .cast("long")
        .alias("ns"),
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[aeiouy]+"), 0)
        )
        .cast("long")
        .alias("sy"),
    )
    return m.filter(F.col("nw") > 0).selectExpr(
        "doc_id",
        "nw AS n_words",
        "ns AS n_sentences",
        "sy AS n_syllables",
        _FLESCH,
    )


# ---------------------------------------------------------------------------
# Gains / lift decile table for the learned quality classifier
# ---------------------------------------------------------------------------

_GAINS_OUT = (
    "decile",
    "n_docs",
    "n_pos",
    "cum_pos",
    "CAST(floor(CAST(cum_pos AS DOUBLE) / total_pos * 1000000 + 0.5)"
    " AS BIGINT) AS gain_micro",
    "CAST(floor(CAST(cum_pos AS DOUBLE) / cum_n"
    " / (CAST(total_pos AS DOUBLE) / total_n) * 1000000 + 0.5)"
    " AS BIGINT) AS lift_micro",
)


@register(
    "lr_gains_deciles",
    tags=("LLM-text", "ML-stats"),
    oracle=f"""
WITH scored AS (
  SELECT doc, label, prob FROM (
    {_lrq.sql_train_score(label_sql=_LRQ_LABELS_SQL, iters=8, lr=0.1)}
  )
),
nt AS (
  SELECT CAST(count(*) AS BIGINT) AS total_n,
         CAST(sum(label) AS BIGINT) AS total_pos
  FROM scored
),
ranked AS (
  SELECT label,
         row_number() OVER (ORDER BY prob DESC, doc) AS rnk
  FROM scored
),
byd AS (
  SELECT CAST((rnk - 1) * 10 // total_n AS BIGINT) AS decile,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(label) AS BIGINT) AS n_pos
  FROM ranked, nt GROUP BY 1
),
cum AS (
  SELECT decile, n_docs, n_pos,
         CAST(sum(n_pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos,
         CAST(sum(n_docs) OVER (ORDER BY decile) AS BIGINT) AS cum_n
  FROM byd
)
SELECT {", ".join(_GAINS_OUT)}
FROM cum, nt
""",
)
def lr_gains_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains/lift decile table for the distilled LR quality classifier —
    the model-evaluation report a targeting pipeline reads before
    setting a score threshold: rank all docs by predicted quality, cut
    into population deciles, and report the cumulative share of true
    keeps captured (gains) and the capture rate vs random (lift). The
    ranking is the range-partitioned global_rank (operators/running.py
    — never a single-task global window over the corpus); deciles come
    from exact integer rank arithmetic; the cumulative window runs over
    the 10-row decile relation (SF-independent, allowlisted); gains and
    lift are one shared double template over exact counts. The oracle
    unrolls the same 8 training steps and replays the identical decile
    arithmetic."""
    from stock_streaming_data_pipeline_spark.operators import running, text

    docs = load_table(spark, sf_dir, "documents")
    labels = text.c4_gopher_filters(
        docs, id_col="doc_id", text_col="text"
    ).select("doc", F.col("keep").cast("long").alias("label"))
    scored = _lrq.train_score(
        docs, labels, id_col="doc_id", text_col="text", iters=8, lr=0.1
    ).select("doc", "label", (-F.col("prob")).alias("negp"))
    nt = scored.agg(
        F.count(F.lit(1)).cast("long").alias("total_n"),
        F.sum("label").cast("long").alias("total_pos"),
    )
    ranked = running.global_rank(
        scored, order_col="negp", id_col="doc", out="rnk"
    )
    byd = (
        ranked.crossJoin(F.broadcast(nt))
        .selectExpr(
            "label", "CAST((rnk - 1) * 10 DIV total_n AS BIGINT) AS decile"
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("label").cast("long").alias("n_pos"),
        )
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = byd.select(
        "decile",
        "n_docs",
        "n_pos",
        F.sum("n_pos").over(w).cast("long").alias("cum_pos"),
        F.sum("n_docs").over(w).cast("long").alias("cum_n"),
    )
    return cum.crossJoin(F.broadcast(nt)).selectExpr(*_GAINS_OUT)


# ---------------------------------------------------------------------------
# k-NN classifier evaluation over embeddings
# ---------------------------------------------------------------------------


@register(
    "knn_classifier_eval",
    tags=("LLM-sim", "ML-stats"),
    oracle=f"""
WITH topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           round(({_SQL_DOT_AB}) / (({_SQL_NORM_A}) * ({_SQL_NORM_B})), 6)
             AS cosine,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY round(({_SQL_DOT_AB})
                            / (({_SQL_NORM_A}) * ({_SQL_NORM_B})), 6) DESC,
                      b.vec_id
           ) AS rank
    FROM embeddings a, embeddings b
    WHERE a.vec_id < 20 AND b.vec_id <> a.vec_id
  ) WHERE rank <= 5
),
votes AS (
  SELECT t.query_id, e.label, CAST(count(*) AS BIGINT) AS v
  FROM topk t JOIN embeddings e ON e.vec_id = t.neighbor_id
  GROUP BY 1, 2
),
pred AS (
  SELECT query_id,
         (min({{'nv': -v, 'label': label}})).label AS pred_label
  FROM votes GROUP BY 1
)
SELECT p.query_id, q.label AS true_label, p.pred_label,
       CASE WHEN q.label = p.pred_label THEN 1 ELSE 0 END AS correct
FROM pred p JOIN embeddings q ON q.vec_id = p.query_id
""",
)
def knn_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN (k=5, cosine) label prediction for the 20 query vectors,
    scored against their true labels — the zero-training classifier
    every embedding space gets sanity-checked with (if 5-NN can't
    recover labels, the space is not linearly usable). Retrieval is the
    broadcast-queries exact top-k; the majority vote is one
    min(struct(-votes, label)) election per query (deterministic
    smallest-label tie-break); the verdict joins back the query's own
    label. Scale shape: the corpus is scanned once by the scoring pass;
    everything else is <=20x5 rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    topk = similarity.cosine_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    labels = emb.select("vec_id", "label")
    votes = (
        topk.join(
            labels.withColumnsRenamed({"vec_id": "neighbor_id"}), "neighbor_id"
        )
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
    )
    pred = (
        votes.groupBy("query_id")
        .agg(
            F.min(
                F.struct((-F.col("v")).alias("nv"), F.col("label").alias("label"))
            ).alias("w")
        )
        .select("query_id", F.col("w.label").alias("pred_label"))
    )
    qlab = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )  # key-bounded (vec_id < 20)
    return (
        pred.join(F.broadcast(qlab), "query_id")
        .selectExpr(
            "query_id",
            "true_label",
            "pred_label",
            "CASE WHEN true_label = pred_label THEN 1 ELSE 0 END AS correct",
        )
    )


# ---------------------------------------------------------------------------
# Zipf-law fit of the token frequency distribution
# ---------------------------------------------------------------------------

# OLS of ln(freq) on ln(rank) over the vocabulary, every logarithm
# micro-quantized to an exact integer BEFORE the cross-token sums (the
# order-free float discipline); slope/r2 from the shared Cramer-free
# simple-regression template.
_ZIPF_OUT = (
    "vocab_size",
    "CAST(floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1000000 + 0.5)"
    " AS BIGINT) AS zipf_slope_micro",
    "CAST(floor((n * sxy - sx * sy) * (n * sxy - sx * sy)"
    " / ((n * sxx - sx * sx) * (n * syy - sy * sy)) * 1000000 + 0.5)"
    " AS BIGINT) AS r2_micro",
)


@register(
    "text_zipf_fit",
    tags=("LLM-text", "ML-stats"),
    oracle="""
WITH tk AS (
  SELECT unnest({toks}) AS term FROM documents
),
freq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS f FROM tk GROUP BY 1
),
ranked AS (
  SELECT f,
         row_number() OVER (ORDER BY f DESC, term) AS rnk
  FROM freq
),
pts AS (
  SELECT CAST(floor(ln(rnk) * 1000000 + 0.5) AS BIGINT) AS lx,
         CAST(floor(ln(f) * 1000000 + 0.5) AS BIGINT) AS ly
  FROM ranked
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS vocab_size,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(lx AS HUGEINT)) AS DOUBLE) AS sx,
         CAST(sum(CAST(ly AS HUGEINT)) AS DOUBLE) AS sy,
         CAST(sum(CAST(lx AS HUGEINT) * lx) AS DOUBLE) AS sxx,
         CAST(sum(CAST(ly AS HUGEINT) * ly) AS DOUBLE) AS syy,
         CAST(sum(CAST(lx AS HUGEINT) * ly) AS DOUBLE) AS sxy
  FROM pts
)
SELECT {out}
FROM s
""".format(
        toks=dedup.SQL_TOKENS.format(text="text"),
        out=", ".join(_ZIPF_OUT),
    ),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus token distribution: OLS slope of
    ln(frequency) on ln(rank) over the whole vocabulary, with R^2 — the
    corpus-health number (natural text sits near slope -1; templated or
    synthetic corpora drift toward 0 or collapse R^2), the regression
    companion to heavy_hitter_tokens' head view. The ranking is the
    range-partitioned global_rank (operators/running.py — never a
    single-task window over the vocabulary); both logarithms are
    micro-quantized per token BEFORE the sums so the regression moments
    are exact integers; slope and R^2 come from one shared double
    template. Scale shape: one token groupBy, the two-phase rank pass,
    one scalar aggregate."""
    from stock_streaming_data_pipeline_spark.operators import running

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(dedup.tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
        .withColumn("negf", -F.col("f"))
    )
    ranked = running.global_rank(freq, order_col="negf", id_col="term", out="rnk")
    pts = ranked.select(
        half_up(F.log(F.col("rnk").cast("double")), 6).alias("lx"),
        half_up(F.log(F.col("f").cast("double")), 6).alias("ly"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dec38(F.col("lx"))).cast("double").alias("sx"),
        F.sum(dec38(F.col("ly"))).cast("double").alias("sy"),
        F.sum(dec38(F.col("lx")) * dec38(F.col("lx"))).cast("double").alias("sxx"),
        F.sum(dec38(F.col("ly")) * dec38(F.col("ly"))).cast("double").alias("syy"),
        F.sum(dec38(F.col("lx")) * dec38(F.col("ly"))).cast("double").alias("sxy"),
    )
    return s.selectExpr(*_ZIPF_OUT)


# ---------------------------------------------------------------------------
# Cross-modal consistency audit: decoded pixel mass vs text metadata
# ---------------------------------------------------------------------------

_XMODAL_CORR = (
    "CAST(floor((n * sxy - sx * sy)"
    " / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) * 1000000 + 0.5)"
    " AS BIGINT) AS corr_micro"
)


@register(
    "multimodal_consistency_audit",
    tags=("LLM-multimodal", "ML-stats"),
    oracle=f"""
WITH t AS (
  SELECT doc_id AS media_id, n_chars,
         substr({_MEDIA_TEXT_SQL} || repeat(' ', 64), 1, 64) AS s
  FROM documents
),
px AS (
  SELECT media_id, n_chars,
         CAST(sum(ascii(substr(s, CAST(u.i AS INT), 1))) AS BIGINT) AS sum_px
  FROM t, unnest(range(1, 65)) AS u(i)
  GROUP BY 1, 2
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(n_chars AS HUGEINT)) AS DOUBLE) AS sx,
         CAST(sum(CAST(sum_px AS HUGEINT)) AS DOUBLE) AS sy,
         CAST(sum(CAST(n_chars AS HUGEINT) * n_chars) AS DOUBLE) AS sxx,
         CAST(sum(CAST(sum_px AS HUGEINT) * sum_px) AS DOUBLE) AS syy,
         CAST(sum(CAST(n_chars AS HUGEINT) * sum_px) AS DOUBLE) AS sxy
  FROM px
)
SELECT n_docs, {_XMODAL_CORR}
FROM s
""",
)
def multimodal_consistency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal consistency audit: Pearson correlation between each
    document's metadata length (n_chars) and the pixel mass of its
    REALLY-decoded image rendition — the pairing-integrity check a
    multimodal pipeline runs to catch payload/metadata mix-ups at scale
    (shuffled pairings collapse the correlation; an intact pipeline
    keeps it strongly positive because padding pixels are uniform). The
    decode is the Arrow-batched PNG path; the correlation runs on exact
    integer moments through the shared rho template. Scale shape:
    decode payload-local, one per-image pixel-sum aggregate, one scalar
    moment aggregate."""
    docs = _ascii_text_docs(load_table(spark, sf_dir, "documents"))
    media = multimodal.documents_as_png_media(docs, width=8, height=8)
    px = multimodal.pixel_rows(media)
    sums = px.groupBy("media_id").agg(
        F.sum("v").cast("long").alias("sum_px")
    )
    meta = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), "n_chars"
    )
    j = sums.join(meta, "media_id")
    s = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dec38(F.col("n_chars"))).cast("double").alias("sx"),
        F.sum(dec38(F.col("sum_px"))).cast("double").alias("sy"),
        F.sum(dec38(F.col("n_chars")) * dec38(F.col("n_chars")))
        .cast("double")
        .alias("sxx"),
        F.sum(dec38(F.col("sum_px")) * dec38(F.col("sum_px")))
        .cast("double")
        .alias("syy"),
        F.sum(dec38(F.col("n_chars")) * dec38(F.col("sum_px")))
        .cast("double")
        .alias("sxy"),
    )
    return s.selectExpr("n_docs", _XMODAL_CORR)


# ---------------------------------------------------------------------------
# Vocabulary richness: hapax ratio + type-token ratio per source
# ---------------------------------------------------------------------------


@register(
    "corpus_hapax_ratio",
    tags=("LLM-text",),
    oracle="""
WITH tk AS (
  SELECT source, unnest({toks}) AS term FROM documents
),
cnts AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS f FROM tk GROUP BY 1, 2
)
SELECT source,
       CAST(sum(f) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(floor(CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*) * 1000000 + 0.5) AS BIGINT) AS hapax_ratio_micro,
       CAST(floor(CAST(count(*) AS DOUBLE) / sum(f) * 1000000 + 0.5)
            AS BIGINT) AS ttr_micro
FROM cnts GROUP BY 1
""".format(toks=dedup.SQL_TOKENS.format(text="text")),
)
def corpus_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-richness card per source: hapax-legomena ratio (share
    of the vocabulary appearing exactly once — near 0 flags templated
    text, the fastest boilerplate tell) and type-token ratio, the two
    classic lexical-richness statistics beside corpus_token_entropy's
    information view. One (source, term) groupBy then one per-source
    aggregate; both ratios are single deterministic int->double
    divisions over exact counts — no cross-row float ever. Scale:
    token explode + two map-combined groupBys."""
    docs = load_table(spark, sf_dir, "documents")
    cnts = (
        docs.select(
            "source", F.explode(dedup.tokens(F.col("text"))).alias("term")
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    return cnts.groupBy("source").agg(
        F.sum("f").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
        half_up(
            F.sum(F.when(F.col("f") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("hapax_ratio_micro"),
        half_up(F.count(F.lit(1)).cast("double") / F.sum("f"), 6).alias("ttr_micro"),
    )


# ---------------------------------------------------------------------------
# Embedding-space health: norm distribution + anisotropy
# ---------------------------------------------------------------------------

_ESH_OUT = (
    "n_vectors",
    # mean squared norm, micro^2 units -> report in 1e-6 units of x^2
    "CAST(floor(CAST(ssq AS DOUBLE) / n / 1000000.0 + 0.5) AS BIGINT)"
    " AS mean_sq_norm_micro",
    # anisotropy = |mean vector|^2 / mean(|x|^2)  (0 = centered cloud,
    # -> 1 = all vectors share a dominant common direction)
    "CAST(floor(CAST(csq AS DOUBLE) / n / n / (CAST(ssq AS DOUBLE) / n)"
    " * 1000000 + 0.5) AS BIGINT) AS anisotropy_micro",
)


@register(
    "embedding_space_health",
    tags=("LLM-embedding", "ML-stats"),
    oracle=f"""
WITH xq AS (
  SELECT list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
           AS xq
  FROM embeddings
),
idx AS (SELECT range AS i FROM range(64)),
percomp AS (
  SELECT a.i AS i,
         CAST(sum(xq[a.i + 1]) AS HUGEINT) AS sx,
         CAST(sum(CAST(xq[a.i + 1] AS HUGEINT) * xq[a.i + 1]) AS HUGEINT)
           AS sxx
  FROM xq, idx a GROUP BY 1
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors,
              CAST(count(*) AS BIGINT) AS n FROM xq),
agg AS (
  SELECT CAST(sum(sxx) AS HUGEINT) AS ssq,
         CAST(sum(sx * sx) AS HUGEINT) AS csq
  FROM percomp
)
SELECT {", ".join(_ESH_OUT)}
FROM agg, nn
""",
)
def embedding_space_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space health card: the mean squared norm (collapsed or
    exploded magnitude scales break cosine math downstream) and the
    ANISOTROPY ratio |mean vector|^2 / mean |x|^2 — the well-known
    representation-degeneration diagnostic (a healthy space sits near
    0; near 1 means every vector shares one dominant direction and
    cosine similarity stops discriminating). Both are pure quadratics
    in the per-dimension sums, so ONE generator pass collapses the
    corpus to 64 (sum, sum-of-squares) rows in exact integers —
    |mean|^2 = sum_i (Sx_i)^2 / n^2 never materializes the mean vector,
    and no float crosses rows. Scale shape: one map-combined groupBy
    onto d keys, then 64-row arithmetic."""
    from stock_streaming_data_pipeline_spark.operators import pca

    emb = load_table(spark, sf_dir, "embeddings")
    comps = pca.quantized_components(emb, id_col="vec_id", vec_col="embedding")
    percomp = comps.groupBy("i").agg(
        F.sum(dec38(F.col("xi"))).alias("sx"),
        F.sum(dec38(F.col("xi")) * dec38(F.col("xi"))).alias("sxx"),
    )
    nn = emb.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    agg = percomp.agg(
        dec38(F.sum("sxx")).alias("ssq"),
        dec38(F.sum(F.col("sx") * F.col("sx"))).alias("csq"),
    )
    return agg.crossJoin(F.broadcast(nn)).selectExpr(*_ESH_OUT)


# ---------------------------------------------------------------------------
# Curation pipeline v3: perceptual dedup -> readability -> quality
# ---------------------------------------------------------------------------


@register(
    "curation_pipeline_v3",
    tags=("LLM-dedup", "LLM-multimodal", "LLM-text", "LLM-mixing"),
    oracle=f"""
WITH {_PHASH_CTES},
dupdrop AS (
  SELECT DISTINCT p1.media_id AS doc_id
  FROM ph p1 JOIN ph p2
    ON p2.phash = p1.phash AND p2.media_id < p1.media_id
),
m AS (
  SELECT doc_id,
         CAST(len({dedup.SQL_TOKENS.format(text="text")}) AS BIGINT) AS nw,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
           AS ns,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
           AS sy
  FROM documents
),
rd AS (
  SELECT doc_id, CASE WHEN nw = 0 THEN NULL ELSE {_FLESCH.replace(" AS flesch_micro", "")} END AS fl
  FROM m
),
quality AS ({text.sql_quality_scores("doc_id", "text", table="documents")}),
flags AS (
  SELECT d.source, d.n_chars,
         (d.doc_id IN (SELECT doc_id FROM dupdrop)) AS is_dup,
         coalesce(rd.fl < 10000000, TRUE) AS low_read,
         q.quality < 0.40 AS low_quality
  FROM documents d
  JOIN rd ON rd.doc_id = d.doc_id
  JOIN quality q ON q.doc = d.doc_id
)
SELECT source,
       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
         AS dropped_neardup,
       CAST(sum(CASE WHEN NOT is_dup AND low_read THEN 1 ELSE 0 END)
            AS BIGINT) AS dropped_readability,
       CAST(sum(CASE WHEN NOT is_dup AND NOT low_read AND low_quality
                     THEN 1 ELSE 0 END) AS BIGINT) AS dropped_quality,
       CAST(sum(CASE WHEN NOT is_dup AND NOT low_read AND NOT low_quality
                     THEN 1 ELSE 0 END) AS BIGINT) AS kept,
       CAST(sum(CASE WHEN NOT is_dup AND NOT low_read AND NOT low_quality
                     THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
FROM flags GROUP BY 1
""",
)
def curation_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline composing the round-6 signals: (1)
    PERCEPTUAL near-dup removal — every image-rendition pHash collision
    bucket keeps only its smallest doc_id (the DCT-sign pipeline over
    real PNG decode); (2) readability gate — Flesch >= 10 (drops
    fragment spam and run-on legalese); (3) the heuristic quality-score
    gate at 0.40. Per source, reports the waterfall: docs dropped at
    each stage (first-failing-stage attribution, the accounting shape
    data-governance reviews ask for) and the surviving corpus size.
    Every stage is the already-oracle-checked operator; the composition
    itself is one pass per signal plus a flag join — no stage rescans
    another's output. Scale: three map-combined signal plans + one
    doc-keyed join tree, aggregated to |sources| rows."""
    docs = load_table(spark, sf_dir, "documents")
    ph = _phash_frame(spark, sf_dir)
    # "has a smaller doc in my collision bucket" needs no self-join
    # (optimization round 11): one min-over-bucket window replaces the
    # equi-self-join + distinct — the decode/DCT subtree runs once and
    # nothing is re-keyed (guide §2.4; collision buckets are the same
    # groups the join built, so the kept set is identical).
    w_ph = Window.partitionBy("phash")
    dupdrop = (
        ph.withColumn("mn", F.min("media_id").over(w_ph))
        .filter(F.col("media_id") > F.col("mn"))
        .select(F.col("media_id").alias("doc_id"))
        .withColumn("is_dup", F.lit(True))
    )
    m = docs.select(
        "doc_id",
        F.size(dedup.tokens(F.col("text"))).cast("long").alias("nw"),
        F.greatest(
            F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), 0)),
            F.lit(1),
        )
        .cast("long")
        .alias("ns"),
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[aeiouy]+"), 0)
        )
        .cast("long")
        .alias("sy"),
    )
    rd = m.selectExpr(
        "doc_id",
        "CASE WHEN nw = 0 THEN NULL ELSE "
        + _FLESCH.replace(" AS flesch_micro", "")
        + " END AS fl",
    )
    q = text.quality_scores(docs, id_col="doc_id", text_col="text").select(
        F.col("doc").alias("doc_id"), "quality"
    )
    flags = (
        docs.select("doc_id", "source", "n_chars")
        .join(rd, "doc_id")
        .join(q, "doc_id")
        .join(dupdrop, "doc_id", "left")
        .select(
            "source",
            "n_chars",
            F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup"),
            F.coalesce(F.col("fl") < 10_000_000, F.lit(True)).alias(
                "low_read"
            ),
            (F.col("quality") < 0.40).alias("low_quality"),
        )
    )
    t, f_ = F.lit(1), F.lit(0)
    return flags.groupBy("source").agg(
        F.sum(F.when(F.col("is_dup"), t).otherwise(f_))
        .cast("long")
        .alias("dropped_neardup"),
        F.sum(F.when(~F.col("is_dup") & F.col("low_read"), t).otherwise(f_))
        .cast("long")
        .alias("dropped_readability"),
        F.sum(
            F.when(
                ~F.col("is_dup") & ~F.col("low_read") & F.col("low_quality"),
                t,
            ).otherwise(f_)
        )
        .cast("long")
        .alias("dropped_quality"),
        F.sum(
            F.when(
                ~F.col("is_dup") & ~F.col("low_read") & ~F.col("low_quality"),
                t,
            ).otherwise(f_)
        )
        .cast("long")
        .alias("kept"),
        F.sum(
            F.when(
                ~F.col("is_dup") & ~F.col("low_read") & ~F.col("low_quality"),
                F.col("n_chars"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("kept_chars"),
    )


# ---------------------------------------------------------------------------
# Percolator-style reverse search: stored queries over the doc stream
# ---------------------------------------------------------------------------

# Stored alert queries: conjunctive term sets, frozen in both engines.
_PERC_QUERIES = [
    (1, ["hash", "join"]),
    (2, ["sort", "merge", "join"]),
    (3, ["window", "agg"]),
    (4, ["slow", "query", "scan"]),
    (5, ["stream", "batch"]),
]
_PERC_VALUES = ", ".join(
    f"({qid}, '{t}')" for qid, terms in _PERC_QUERIES for t in terms
)
_PERC_SIZES = ", ".join(
    f"({qid}, {len(terms)})" for qid, terms in _PERC_QUERIES
)


@register(
    "reverse_search_alerts",
    tags=("LLM-retrieval",),
    oracle=f"""
WITH tk AS (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id, unnest({dedup.SQL_TOKENS.format(text="text")}) AS term
    FROM documents
  )
),
q(query_id, term) AS (VALUES {_PERC_VALUES}),
qs(query_id, n_terms) AS (VALUES {_PERC_SIZES}),
hits AS (
  SELECT q.query_id, tk.doc_id, CAST(count(*) AS BIGINT) AS n_hit
  FROM tk JOIN q ON q.term = tk.term
  GROUP BY 1, 2
),
matched AS (
  SELECT h.query_id, h.doc_id
  FROM hits h JOIN qs ON qs.query_id = h.query_id
  WHERE h.n_hit = qs.n_terms
)
SELECT query_id,
       CAST(count(*) AS BIGINT) AS n_matching_docs,
       min(doc_id) AS first_doc
FROM matched GROUP BY 1
""",
)
def reverse_search_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolator-style REVERSE search: a fixed set of stored
    conjunctive term queries (the alerting/routing primitive — saved
    searches, compliance watchlists, topic routers) is matched against
    every document in ONE pass, inverted from the usual direction: the
    distinct (doc, term) relation joins the broadcast stored-term table,
    and a doc matches a query when its per-query hit count equals the
    query's term count (conjunction via counting — no per-query rescans,
    no OR-chain predicate explosion; 1000 stored queries cost the same
    single join). Reports match volume and the first matching doc per
    alert. Scale shape: token explode + distinct, one broadcast join,
    two map-combined groupBys."""
    docs = load_table(spark, sf_dir, "documents")
    tk = (
        docs.select(
            "doc_id", F.explode(dedup.tokens(F.col("text"))).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("_f"))
        .select("doc_id", "term")
    )
    q = spark.createDataFrame(
        [(qid, t) for qid, terms in _PERC_QUERIES for t in terms],
        schema="query_id INT, term STRING",
    )
    qs = spark.createDataFrame(
        [(qid, len(terms)) for qid, terms in _PERC_QUERIES],
        schema="query_id INT, n_terms INT",
    )
    hits = (
        tk.join(F.broadcast(q), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    )
    matched = hits.join(F.broadcast(qs), "query_id").filter(
        F.col("n_hit") == F.col("n_terms")
    )
    return matched.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_matching_docs"),
        F.min("doc_id").alias("first_doc"),
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster size distribution
# ---------------------------------------------------------------------------


@register(
    "dup_cluster_size_histogram",
    tags=("LLM-dedup", "A1"),
    oracle=f"""
WITH RECURSIVE sh AS (
  SELECT doc_id AS doc, unnest({_SQL_SHINGLES}) AS s FROM documents
),
sizes AS (SELECT doc, count(*) AS n FROM sh GROUP BY doc),
common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM common
  JOIN sizes sa ON sa.doc = doc_a
  JOIN sizes sb ON sb.doc = doc_b
  WHERE c / (sa.n + sb.n - c)::DOUBLE >= 0.5
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
  SELECT a, a AS b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (SELECT a AS doc, min(b) AS component FROM reach GROUP BY a),
csize AS (
  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
  FROM comp GROUP BY 1
)
SELECT cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(cluster_size) AS BIGINT) AS n_docs
FROM csize GROUP BY 1
""",
)
def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size distribution of the transitive near-dup clusters — the
    severity report a dedup review reads first (many pairs = light
    touch-ups; a giant component = template contamination or a
    shingling bug; the histogram separates the two at a glance). Builds
    on dedup_components' min-label propagation, adds two bounded
    groupBys; redundancy removable = sum((size-1) per cluster), read
    straight off the rows. The oracle extends the recursive-CTE
    transitive closure with the same rollup."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.5
    )
    comp = dedup.connected_components(pairs)
    csize = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return csize.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Chao1 unseen-species richness estimate per source
# ---------------------------------------------------------------------------

_CHAO1 = (
    "CAST(floor(n_types + CAST(n1 AS DOUBLE) * n1"
    " / (CAST(2 AS DOUBLE) * greatest(n2, 1)) + 0.5) AS BIGINT)"
    " AS chao1_types"
)


@register(
    "corpus_chao1_richness",
    tags=("LLM-text", "ML-stats"),
    oracle="""
WITH cnts AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS f
  FROM (SELECT source, unnest({toks}) AS term FROM documents)
  GROUP BY 1, 2
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       {chao1}
FROM cnts GROUP BY 1
""".format(toks=dedup.SQL_TOKENS.format(text="text"), chao1=_CHAO1),
)
def corpus_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 unseen-vocabulary estimate per source: observed types plus
    n1^2/(2*n2) from the singleton/doubleton counts — the
    how-much-vocabulary-have-we-NOT-seen-yet estimator that tells a
    crawl planner whether more of a source is worth fetching (chao1 ~
    observed = saturated; chao1 >> observed = keep crawling). One
    (source, term) groupBy and one per-source aggregate; the only
    double is the final shared template (n2 floored at 1, the standard
    bias guard). Scale: token explode + two map-combined groupBys."""
    docs = load_table(spark, sf_dir, "documents")
    cnts = (
        docs.select(
            "source", F.explode(dedup.tokens(F.col("text"))).alias("term")
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    return cnts.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("f") == 2, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
    ).selectExpr("source", "n_types", "n1", "n2", _CHAO1)


# ---------------------------------------------------------------------------
# Good-Turing frequency discounts over the frequency-of-frequencies
# ---------------------------------------------------------------------------


@register(
    "text_good_turing",
    tags=("LLM-text", "ML-stats"),
    oracle="""
WITH cnts AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS f
  FROM (SELECT doc_id, unnest({toks}) AS term FROM documents)
  GROUP BY 1, 2
),
fof AS (
  SELECT f AS r, CAST(count(*) AS BIGINT) AS n_r FROM cnts GROUP BY 1
)
SELECT a.r, a.n_r,
       CAST(floor((a.r + 1) * CAST(b.n_r AS DOUBLE) / a.n_r * 1000000 + 0.5)
            AS BIGINT) AS r_star_micro
FROM fof a JOIN fof b ON b.r = a.r + 1
WHERE a.r <= 10
""".format(toks=dedup.SQL_TOKENS.format(text="text")),
)
def text_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing adjusted counts r* = (r+1) * N_{{r+1}} / N_r for the
    low frequencies (r <= 10) — the smoothing table that reallocates
    probability mass to unseen events, the classical foundation under
    Kneser-Ney (text_kneser_ney_bigram's discount is its fixed-D
    approximation). Built entirely on the frequency-of-frequencies
    relation over WITHIN-DOCUMENT term counts (the event unit a per-doc
    LM smooths over; corpus-level counts in this synthetic vocabulary
    are all huge, leaving N_r empty below r=26): one (doc, term)
    groupBy, one count-of-counts groupBy, one self-join on r+1 over the
    tiny N_r table. Exact integers to the single shared-template
    division. Scale: the corpus is touched once; everything after is
    bounded by max observed within-doc frequency."""
    docs = load_table(spark, sf_dir, "documents")
    cnts = (
        docs.select(
            "doc_id", F.explode(dedup.tokens(F.col("text"))).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    fof = cnts.groupBy(F.col("f").alias("r")).agg(
        F.count(F.lit(1)).cast("long").alias("n_r")
    )
    b = fof.selectExpr("r - 1 AS r", "n_r AS n_r1")
    return (
        fof.join(b, "r")
        .filter(F.col("r") <= 10)
        .selectExpr(
            "r",
            "n_r",
            "CAST(floor((r + 1) * CAST(n_r1 AS DOUBLE) / n_r * 1000000"
            " + 0.5) AS BIGINT) AS r_star_micro",
        )
    )


# ---------------------------------------------------------------------------
# Simpson diversity index per source
# ---------------------------------------------------------------------------


@register(
    "corpus_simpson_diversity",
    tags=("LLM-text", "ML-stats"),
    oracle="""
WITH cnts AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS f
  FROM (SELECT source, unnest({toks}) AS term FROM documents)
  GROUP BY 1, 2
),
s AS (
  SELECT source,
         CAST(sum(f) AS BIGINT) AS nn,
         CAST(sum(CAST(f AS HUGEINT) * f) AS HUGEINT) AS sf2
  FROM cnts GROUP BY 1
)
SELECT source, nn AS n_tokens,
       CAST(floor((CAST(1 AS DOUBLE)
            - CAST(sf2 AS DOUBLE) / nn / nn) * 1000000 + 0.5) AS BIGINT)
         AS simpson_micro,
       CAST(floor(CAST(nn AS DOUBLE) * nn / CAST(sf2 AS DOUBLE) * 1000
            + 0.5) AS BIGINT) AS effective_types_milli
FROM s
""".format(toks=dedup.SQL_TOKENS.format(text="text")),
)
def corpus_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity per source: 1 - sum(p^2), the probability two
    random tokens differ, plus its inverse (Hill number of order 2 —
    'effective vocabulary size', the how-many-equally-common-types
    equivalent). Complements the entropy card with the
    collision-probability view that weights common types more (the same
    F2 = sum f^2 quantity the AMS sketch estimates — this is its exact
    per-source twin). One groupBy chain, exact integers to two shared
    template divisions."""
    docs = load_table(spark, sf_dir, "documents")
    cnts = (
        docs.select(
            "source", F.explode(dedup.tokens(F.col("text"))).alias("term")
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    s = cnts.groupBy("source").agg(
        F.sum("f").cast("long").alias("nn"),
        F.sum(dec38(F.col("f")) * dec38(F.col("f"))).alias("sf2"),
    )
    return s.selectExpr(
        "source",
        "nn AS n_tokens",
        "CAST(floor((CAST(1 AS DOUBLE) - CAST(sf2 AS DOUBLE) / nn / nn)"
        " * 1000000 + 0.5) AS BIGINT) AS simpson_micro",
        "CAST(floor(CAST(nn AS DOUBLE) * nn / CAST(sf2 AS DOUBLE) * 1000"
        " + 0.5) AS BIGINT) AS effective_types_milli",
    )


# ---------------------------------------------------------------------------
# Spectral flatness (Wiener entropy) over the framed DFT
# ---------------------------------------------------------------------------

_SFM = (
    "CAST(floor(exp(CAST(slnp AS DOUBLE) / 1000000.0 / nb)"
    " / (CAST(sp AS DOUBLE) / nb) * 1000000 + 0.5) AS BIGINT)"
    " AS flatness_micro"
)


@register(
    "multimodal_wav_spectral_flatness",
    tags=("LLM-multimodal",),
    oracle=f"""
WITH t AS (
  SELECT doc_id AS media_id,
         substr({_MEDIA_TEXT_SQL} || repeat(' ', 64), 1, 64) AS s
  FROM documents
),
sm AS (
  SELECT media_id, CAST(u.i AS INT) - 1 AS pos,
         (ascii(substr(s, CAST(u.i AS INT), 1)) - 100) * 128 AS v
  FROM t, unnest(range(1, 65)) AS u(i)
),
fr AS (
  SELECT media_id, pos // {_SPG_N} AS frame, pos % {_SPG_N} AS ph, v
  FROM sm
),
tab(k, ph, cq, sq) AS (VALUES {_SPG_VALUES}),
acc AS (
  SELECT f.media_id, f.frame, tab.k,
         CAST(sum(CAST(f.v AS HUGEINT) * tab.cq) AS BIGINT) AS c,
         CAST(sum(CAST(f.v AS HUGEINT) * tab.sq) AS BIGINT) AS s
  FROM fr f JOIN tab ON tab.ph = f.ph
  GROUP BY 1, 2, 3
),
mag AS (
  SELECT media_id, {_SPG_MAG.replace(" AS mag2", "")} AS p
  FROM acc
),
agg AS (
  SELECT media_id,
         CAST(count(*) AS BIGINT) AS nb,
         CAST(sum(CAST(p AS HUGEINT)) AS BIGINT) AS sp,
         CAST(sum(CAST(floor(ln(p) * 1000000 + 0.5) AS HUGEINT)) AS BIGINT)
           AS slnp
  FROM mag WHERE p > 0 GROUP BY 1
)
SELECT media_id, nb AS n_bins, {_SFM}
FROM agg WHERE nb = 16
""",
)
def multimodal_wav_spectral_flatness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral flatness (Wiener entropy) per clip over the REAL-decode
    framed DFT: geometric mean of the 16 (frame, bin) powers over their
    arithmetic mean — the tonality gate an audio curation pipeline uses
    to separate noise-like clips (flatness -> 1) from tonal/structured
    ones (-> 0). The geometric mean rides the order-free micro-ln
    discipline (each bin's ln(power) quantized to an exact integer
    BEFORE the cross-bin sum); zero-power bins drop and clips missing
    any of the 16 cells are excluded (same predicate both engines).
    Reuses the frozen-trig spectrogram pipeline end to end."""
    docs = _ascii_text_docs(load_table(spark, sf_dir, "documents"))
    media = multimodal.documents_as_wav_media(docs, n_samples=64)
    sm = multimodal.wav_sample_rows(media)
    fr = sm.selectExpr(
        "media_id", f"pos div {_SPG_N} AS frame", f"pos % {_SPG_N} AS ph", "v"
    )
    tab = spark.createDataFrame(
        _SPG_TAB, schema="k INT, ph INT, cq BIGINT, sq BIGINT"
    )
    acc = (
        fr.join(F.broadcast(tab), "ph")
        .groupBy("media_id", "frame", "k")
        .agg(
            F.sum(dec38(F.col("v")) * dec38(F.col("cq"))).cast("long").alias("c"),
            F.sum(dec38(F.col("v")) * dec38(F.col("sq"))).cast("long").alias("s"),
        )
    )
    mag = acc.selectExpr(
        "media_id", _SPG_MAG.replace(" AS mag2", "") + " AS p"
    )
    agg = (
        mag.filter(F.col("p") > 0)
        .groupBy("media_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nb"),
            F.sum(dec38(F.col("p"))).cast("long").alias("sp"),
            F.sum(
                dec38(half_up(F.log(F.col("p").cast("double")), 6))
            )
            .cast("long")
            .alias("slnp"),
        )
    )
    return agg.filter(F.col("nb") == 16).selectExpr(
        "media_id", "nb AS n_bins", _SFM
    )


# ---------------------------------------------------------------------------
# Pairwise-distance calibration histogram (deterministic offset pairs)
# ---------------------------------------------------------------------------

_PAIR_OFFSETS = (1, 17, 97)


@register(
    "embedding_pair_distance_hist",
    tags=("LLM-sim", "ML-stats"),
    oracle=f"""
WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
offs(o) AS (VALUES {", ".join(f"({o})" for o in _PAIR_OFFSETS)}),
pairs AS (
  SELECT a.vec_id AS ia, (a.vec_id + offs.o) % nn.n AS ib,
         a.embedding AS ea
  FROM embeddings a, offs, nn
),
scored AS (
  SELECT round(({similarity.SQL_DOT.format(a="p.ea", b="b.embedding")})
          / (({similarity.SQL_NORM.format(a="p.ea")})
             * ({similarity.SQL_NORM.format(a="b.embedding")})), 6)
           AS cosine
  FROM pairs p JOIN embeddings b ON b.vec_id = p.ib
  WHERE p.ib <> p.ia
),
binned AS (
  SELECT CAST(floor((cosine + 1) * 10) AS BIGINT) AS bin FROM scored
)
SELECT CAST(least(bin, 19) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM binned GROUP BY 1
""",
)
def embedding_pair_distance_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-cosine calibration histogram for the embedding space:
    3n deterministic pairs (each vector against its id+1 / id+17 /
    id+97 neighbors mod n — a fixed design, not sampling, so both
    engines and reruns see identical pairs) binned into 20 cosine
    buckets — the distribution every similarity THRESHOLD is calibrated
    against (where does 'random pair' mass sit, how fat is the
    high-cosine tail the dedup thresholds cut into?). Avoids the n^2
    all-pairs join entirely: a 3-row offset fan + one id-equi join.
    Cosines use the order-fixed left-fold dot product; binning is
    integer floor on the round-6 lattice. Scale: linear in n at any
    SF."""
    emb = load_table(spark, sf_dir, "embeddings")
    nn = emb.agg(F.count(F.lit(1)).cast("long").alias("n"))
    offs = spark.createDataFrame(
        [(o,) for o in _PAIR_OFFSETS], schema="o LONG"
    )
    pairs = (
        emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"))
        .crossJoin(F.broadcast(offs))
        .crossJoin(F.broadcast(nn))
        .selectExpr("ia", "(ia + o) % n AS ib", "ea")
    )
    b = emb.select(
        F.col("vec_id").alias("ib"), F.col("embedding").alias("eb")
    )
    scored = (
        pairs.join(b, "ib")
        .filter(F.col("ib") != F.col("ia"))
        .withColumn(
            "cosine",
            F.round(
                similarity.cosine(
                    similarity.as_double(F.col("ea")),
                    similarity.as_double(F.col("eb")),
                ),
                6,
            ),
        )
    )
    binned = scored.selectExpr(
        "CAST(floor((cosine + 1) * 10) AS BIGINT) AS bin"
    )
    return (
        binned.selectExpr("CAST(least(bin, 19) AS BIGINT) AS bin")
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# Burrows' Delta stylometric distance between sources
# ---------------------------------------------------------------------------

_DELTA_K = 20  # most-frequent terms used as the style fingerprint


@register(
    "stylometry_burrows_delta",
    tags=("LLM-text", "ML-stats"),
    oracle=f"""
WITH tk AS (
  SELECT source, unnest({dedup.SQL_TOKENS.format(text="text")}) AS term
  FROM documents
),
topk AS (
  SELECT term FROM (
    SELECT term, count(*) AS f FROM tk GROUP BY 1
    ORDER BY f DESC, term LIMIT {_DELTA_K}
  )
),
cell AS (
  SELECT tk.source, tk.term, CAST(count(*) AS BIGINT) AS f
  FROM tk JOIN topk ON topk.term = tk.term
  GROUP BY 1, 2
),
tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM tk GROUP BY 1),
rf AS (
  SELECT c.source, c.term,
         CAST(floor(CAST(c.f AS DOUBLE) / t.n * 1000000 + 0.5) AS BIGINT)
           AS rfm
  FROM cell c JOIN tot t ON t.source = c.source
),
ts AS (
  SELECT term,
         CAST(count(*) AS BIGINT) AS ns,
         CAST(sum(rfm) AS BIGINT) AS sr,
         CAST(sum(CAST(rfm AS HUGEINT) * rfm) AS HUGEINT) AS srr
  FROM rf GROUP BY 1
),
z AS (
  SELECT rf.source, rf.term,
         CAST(floor((rf.rfm - CAST(ts.sr AS DOUBLE) / ts.ns)
              / sqrt((CAST(ts.srr AS DOUBLE) * ts.ns
                      - CAST(ts.sr AS DOUBLE) * ts.sr)
                     / ts.ns / (ts.ns - 1))
              * 1000000 + 0.5) AS BIGINT) AS zm
  FROM rf JOIN ts ON ts.term = rf.term
  WHERE ts.ns > 1
    AND ts.srr * ts.ns > CAST(ts.sr AS HUGEINT) * ts.sr
),
d AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(count(*) AS BIGINT) AS n_terms,
         CAST(sum(abs(a.zm - b.zm)) AS BIGINT) AS sad
  FROM z a JOIN z b ON a.term = b.term AND a.source < b.source
  GROUP BY 1, 2
),
scored AS (
  SELECT src_a, src_b, n_terms,
         CAST(sad // n_terms AS BIGINT) AS delta_micro
  FROM d WHERE n_terms = {_DELTA_K}
)
SELECT src_a, src_b, delta_micro
FROM scored ORDER BY delta_micro, src_a, src_b LIMIT 10
""",
)
def stylometry_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta between sources — the classical stylometry
    distance (authorship attribution's workhorse): z-score each
    source's relative frequency of the 20 most common terms against the
    cross-source distribution, then Delta = mean |z difference| per
    source pair; the 10 closest pairs are the style-twin report (two
    'independent' sources writing identically is a provenance red
    flag, the lexical sibling of corpus_vocab_overlap). Relative
    frequencies and z-scores are micro-quantized per cell (order-free
    sums); every relation after the first groupBys is bounded by
    20 terms x sources. Scale: token explode, two map-combined
    groupBys, bounded joins, TakeOrderedAndProject head."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        "source", F.explode(dedup.tokens(F.col("text"))).alias("term")
    )
    topk = (
        tk.groupBy("term")
        .agg(F.count(F.lit(1)).alias("f"))
        .orderBy(F.desc("f"), F.asc("term"))
        .limit(_DELTA_K)
        .select("term")
    )
    cell = (
        tk.join(F.broadcast(topk), "term")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    tot = tk.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    rf = cell.join(F.broadcast(tot), "source").selectExpr(
        "source",
        "term",
        "CAST(floor(CAST(f AS DOUBLE) / n * 1000000 + 0.5) AS BIGINT)"
        " AS rfm",
    )
    ts = rf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("ns"),
        F.sum("rfm").cast("long").alias("sr"),
        F.sum(dec38(F.col("rfm")) * dec38(F.col("rfm"))).alias("srr"),
    )
    z = (
        rf.join(F.broadcast(ts), "term")
        .filter(
            (F.col("ns") > 1)
            & (
                F.col("srr") * dec38(F.col("ns"))
                > dec38(F.col("sr")) * dec38(F.col("sr"))
            )
        )
        .selectExpr(
            "source",
            "term",
            "CAST(floor((rfm - CAST(sr AS DOUBLE) / ns)"
            " / sqrt((CAST(srr AS DOUBLE) * ns - CAST(sr AS DOUBLE) * sr)"
            "        / ns / (ns - 1))"
            " * 1000000 + 0.5) AS BIGINT) AS zm",
        )
    )
    a = z.selectExpr("source AS src_a", "term", "zm AS za")
    b = z.selectExpr("source AS src_b", "term", "zm AS zb")
    d = (
        a.join(b, "term")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum(F.abs(F.col("za") - F.col("zb"))).cast("long").alias("sad"),
        )
    )
    return (
        d.filter(F.col("n_terms") == _DELTA_K)
        .selectExpr(
            "src_a", "src_b", "CAST(sad DIV n_terms AS BIGINT) AS delta_micro"
        )
        .orderBy(F.asc("delta_micro"), F.asc("src_a"), F.asc("src_b"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Multi-pattern dictionary matching (Aho-Corasick class)
# ---------------------------------------------------------------------------

# Bounded pattern dictionary: single tokens AND multi-word phrases, so
# the matching is genuine substring search over the raw text, not a
# token-set lookup.
_MP_PATTERNS = (
    "spark",
    "hash value",
    "fast merge",
    "row scan",
    "table",
    "batch part",
    "agg",
    "slow fast",
    "value table",
    "key agg",
)
_MP_VALUES = ", ".join(f"('{p}')" for p in _MP_PATTERNS)
# non-overlapping left-to-right occurrence count via replace-and-measure:
# identical semantics in Spark and DuckDB, exact integer division (the
# length delta is a multiple of the pattern length by construction)
_MP_OCC = "(length({t}) - length(replace({t}, {p}, ''))) {div} length({p})"


@register(
    "text_multipattern_match",
    tags=("LLM-text", "A4"),
    oracle=f"""
WITH pats(pattern) AS (VALUES {_MP_VALUES}),
occ AS (
  SELECT p.pattern, d.source,
         {_MP_OCC.format(t="d.text", p="p.pattern", div="//")} AS occ
  FROM documents d CROSS JOIN pats p
)
SELECT pattern, source,
       CAST(sum(CASE WHEN occ > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
       CAST(sum(occ) AS BIGINT) AS total_occ
FROM occ GROUP BY 1, 2
""",
)
def text_multipattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pattern dictionary matching over the corpus — the
    blocklist / keyword-tagging primitive of a training-data pipeline
    (Aho & Corasick 1975's problem: count occurrences of EVERY pattern
    of a fixed dictionary in every document in one pass). Spark-first
    realization for a BOUNDED dictionary: the patterns ride a per-row
    array explode and a native replace-and-measure occurrence count —
    whole-stage codegen, zero joins, zero Python; the fact table
    shuffles once, already reduced to the |patterns| x |sources| grid.
    Occurrences are the non-overlapping left-to-right count (replace
    semantics, identical in both engines), exact integers throughout.
    Scale shape: map-side |patterns|-fold fan-out (bounded constant) ->
    one map-combined groupBy; for dictionaries large enough that the
    fan-out beats a single-pass automaton, the escape hatch is an
    Aho-Corasick automaton built driver-side and applied per Arrow
    batch via mapInPandas — same output contract."""
    docs = load_table(spark, sf_dir, "documents")
    exploded = docs.select(
        "source",
        "text",
        F.explode(F.array(*[F.lit(p) for p in _MP_PATTERNS])).alias("pattern"),
    )
    occ = exploded.selectExpr(
        "pattern",
        "source",
        _MP_OCC.format(t="text", p="pattern", div="DIV") + " AS occ",
    )
    return occ.groupBy("pattern", "source").agg(
        F.sum(F.when(F.col("occ") > 0, 1).otherwise(0)).cast("long").alias("n_docs"),
        F.sum("occ").cast("long").alias("total_occ"),
    )


# ---------------------------------------------------------------------------
# Content-defined chunking dedup (shift-robust near-dup detection)
# ---------------------------------------------------------------------------

_CDC_CORPUS_SQL = """
  SELECT doc_id AS doc, text AS txt FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc, 'INGEST-HEADER: ' || text AS txt
  FROM documents WHERE doc_id % 5 = 0
"""


@register(
    "dedup_cdc_chunks",
    tags=("LLM-dedup",),
    oracle=dedup.sql_cdc_shared_chunk_pairs(
        corpus_select=_CDC_CORPUS_SQL, gram=8, mask=64, min_shared=2
    ),
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup over a corpus with PLANTED
    header-prefixed re-ingests (every 5th doc re-appears under a new id
    with a 15-char header prepended — the at-least-once ingest that
    defeats fixed-size framing, because the insertion shifts every byte
    offset). CDC boundaries depend only on local content, so the
    chunking resyncs after the header and the original/re-ingest pair
    still shares nearly all chunks — the mechanism is orthogonal to
    shingle-Jaccard (set overlap) and MinHash (sketched overlap):
    chunk-level identity localizes WHERE documents agree, which is what
    storage dedup and incremental corpus refresh bill by. Emits
    (doc_a, doc_b, n_shared) for pairs sharing >= 2 chunk
    fingerprints."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("INGEST-HEADER: "), F.col("text")).alias("text"),
    )
    corpus = docs.unionByName(planted)
    return dedup.cdc_shared_chunk_pairs(
        corpus, id_col="doc_id", text_col="text", gram=8, mask=64, min_shared=2
    )


# ---------------------------------------------------------------------------
# Mutual-reachability density clustering (HDBSCAN family)
# ---------------------------------------------------------------------------

_MRC_PLANES = (1, 8, 16, 24)  # 1-indexed dims whose sign bits form the cell
_MRC_K = 4                    # core distance = k-th nearest in-cell neighbor
_MRC_EPS = 1_550_000          # squared-L2 micro cut on mutual reachability

_MRC_SQD = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(range(1, len({a}) + 1), "
    "i -> (({a})[i]::DOUBLE - ({b})[i]::DOUBLE)"
    " * (({a})[i]::DOUBLE - ({b})[i]::DOUBLE))), "
    "(acc, x) -> acc + x)"
)
_MRC_CELL_SQL = " + ".join(
    f"(CASE WHEN embedding[{d}] > 0 THEN {1 << (len(_MRC_PLANES) - 1 - i)} "
    "ELSE 0 END)"
    for i, d in enumerate(_MRC_PLANES)
)


@register(
    "embedding_mutual_reach_clusters",
    tags=("LLM-sim", "ML-stats"),
    oracle=f"""
WITH RECURSIVE c AS (
  SELECT vec_id, embedding, {_MRC_CELL_SQL} AS cell FROM embeddings
),
p AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         CAST(floor({_MRC_SQD.format(a="a.embedding", b="b.embedding")}
              * 1000000 + 0.5) AS BIGINT) AS d2m
  FROM c a JOIN c b ON a.cell = b.cell AND a.vec_id <> b.vec_id
),
core AS (
  SELECT ia AS v, d2m AS core FROM (
    SELECT ia, d2m,
           row_number() OVER (PARTITION BY ia ORDER BY d2m, ib) AS rn
    FROM p
  ) WHERE rn = {_MRC_K}
),
ed AS (
  SELECT p.ia, p.ib
  FROM p
  JOIN core ca ON ca.v = p.ia
  JOIN core cb ON cb.v = p.ib
  WHERE p.ia < p.ib AND greatest(ca.core, cb.core, p.d2m) <= {_MRC_EPS}
),
edges AS (SELECT ia AS a, ib AS b FROM ed UNION SELECT ib, ia FROM ed),
reach AS (
  SELECT a, a AS b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (SELECT a AS v, min(b) AS component FROM reach GROUP BY a),
cs AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
       FROM comp GROUP BY 1)
SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(cluster_size) AS BIGINT) AS n_vecs
FROM cs GROUP BY 1
""",
)
def embedding_mutual_reach_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDBSCAN-family density clustering over the embedding space via
    MUTUAL-REACHABILITY distance (Campello/Moulavi/Sander 2013):
    mr(a,b) = max(core_k(a), core_k(b), d(a,b)) with core_k = distance
    to the k-th nearest neighbor — the smoothing that keeps sparse-
    region points from chaining dense clusters together, which plain
    single-linkage at the same cut suffers. Pipeline: (1) blocked
    all-pairs inside sign-bit cells (4 fixed axis-aligned hyperplanes ->
    16 cells; production scales the plane count with N so per-cell
    population stays bounded — the cell is the parallel unit and the
    approximation boundary, as in every blocked/partitioned HDBSCAN);
    (2) exact squared-L2 on the micro lattice (order-fixed left fold,
    IEEE-identical in both engines); (3) core_k via a vec-partitioned
    rank window; (4) edges where mr <= eps; (5) min-label-propagation
    connected components (operators/dedup.py, materialization-bounded
    lineage); (6) cluster-size histogram. Points with fewer than k
    in-cell neighbors or no edge are noise by definition (HDBSCAN's
    own convention) and absent from the histogram."""
    emb = load_table(spark, sf_dir, "embeddings")
    cell = None
    for i, d in enumerate(_MRC_PLANES):
        bit = F.when(
            F.element_at(F.col("embedding"), d) > 0,
            F.lit(1 << (len(_MRC_PLANES) - 1 - i)),
        ).otherwise(F.lit(0))
        cell = bit if cell is None else cell + bit
    c = emb.select("vec_id", "embedding", cell.alias("cell"))
    a = c.select(
        F.col("cell"), F.col("vec_id").alias("ia"),
        similarity.as_double(F.col("embedding")).alias("ea"),
    )
    b = c.select(
        F.col("cell"), F.col("vec_id").alias("ib"),
        similarity.as_double(F.col("embedding")).alias("eb"),
    )
    sqd = F.aggregate(
        F.zip_with(F.col("ea"), F.col("eb"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("ia") != F.col("ib"))
        .select(
            "ia", "ib",
            half_up(sqd, 6).alias("d2m"),
        )
    )
    w = Window.partitionBy("ia").orderBy(F.asc("d2m"), F.asc("ib"))
    core = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == _MRC_K)
        .select(F.col("ia").alias("v"), F.col("d2m").alias("core"))
    )
    ed = (
        pairs.filter(F.col("ia") < F.col("ib"))
        .join(core.withColumnsRenamed({"v": "ia", "core": "core_a"}), "ia")
        .join(core.withColumnsRenamed({"v": "ib", "core": "core_b"}), "ib")
        .filter(
            F.greatest("core_a", "core_b", "d2m") <= F.lit(_MRC_EPS)
        )
        .select("ia", "ib")
    )
    comp = dedup.connected_components(ed, src="ia", dst="ib")
    cs = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return cs.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_vecs"),
    )


# ---------------------------------------------------------------------------
# Aho-Corasick automaton twin of text_multipattern_match
# ---------------------------------------------------------------------------


@register(
    "text_multipattern_automaton",
    tags=("LLM-text", "UD1"),
    # SAME oracle as text_multipattern_match: the differential proves the
    # single-pass automaton and the relational replace-count plan agree
    # match-for-match.
    oracle=f"""
WITH pats(pattern) AS (VALUES {_MP_VALUES}),
occ AS (
  SELECT p.pattern, d.source,
         {_MP_OCC.format(t="d.text", p="p.pattern", div="//")} AS occ
  FROM documents d CROSS JOIN pats p
)
SELECT pattern, source,
       CAST(sum(CASE WHEN occ > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
       CAST(sum(occ) AS BIGINT) AS total_occ
FROM occ GROUP BY 1, 2
""",
)
def text_multipattern_automaton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LARGE-DICTIONARY path of multi-pattern matching: a real
    Aho-Corasick goto/fail/output automaton (CACM 1975) built once
    driver-side and applied per Arrow batch via mapInPandas — one pass
    over each document regardless of |patterns|, where the relational
    twin (text_multipattern_match) pays a |patterns|-fold row fan-out.
    Registered against the SAME oracle as the twin, so the catalog
    differential proves both paths agree match-for-match (the
    non-overlapping count contract; operators/multipattern.py asserts
    no pattern is self-bordered, where the two semantics would split).
    Scale shape: the dictionary is broadcast state (it rides the
    function closure), matching is map-side single-pass, and the only
    shuffle is the final bounded |patterns| x |sources| groupBy."""
    from stock_streaming_data_pipeline_spark.operators.multipattern import (
        match_counts_map_in_pandas,
    )

    docs = load_table(spark, sf_dir, "documents")
    occ = match_counts_map_in_pandas(
        docs, _MP_PATTERNS, text_col="text", group_col="source"
    )
    return occ.groupBy("pattern", "source").agg(
        F.sum(F.when(F.col("occ") > 0, 1).otherwise(0)).cast("long").alias("n_docs"),
        F.sum("occ").cast("long").alias("total_occ"),
    )


# ---------------------------------------------------------------------------
# Edit-distance linkage over a typo-planted corpus
# ---------------------------------------------------------------------------

_ED_CORPUS_SQL = """
  SELECT doc_id AS doc, text AS txt FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc,
         substr(text, 1, 19) || 'Q' || substr(text, 21) AS txt
  FROM documents WHERE doc_id % 7 = 0 AND length(text) >= 21
"""


@register(
    "linkage_edit_distance",
    tags=("LLM-dedup",),
    oracle=dedup.sql_edit_distance_pairs(
        corpus_select=_ED_CORPUS_SQL, window=8, key_len=12, max_dist=3
    ),
)
def linkage_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance record linkage over a corpus with PLANTED
    single-character typos (every 7th doc re-ingested with position 20
    substituted — the OCR/keystroke corruption that moves a shingle set
    by at most a few n-grams but is trivially caught at levenshtein
    distance 1). Sorted-neighborhood blocking on the 12-char prefix
    (untouched by the planted edit, so true pairs sort adjacent) keeps
    the candidate budget at docs x (window-1); the JVM-native
    levenshtein verifies candidates only. Complements the set-overlap
    dedup families: character-level corruption vs shared vocabulary."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    typos = (
        docs.filter((F.col("doc_id") % 7 == 0) & (F.length("text") >= 21))
        .select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.concat(
                F.substring("text", 1, 19), F.lit("Q"),
                F.expr("substring(text, 21)"),
            ).alias("text"),
        )
    )
    corpus = docs.unionByName(typos)
    return dedup.edit_distance_pairs(
        corpus, id_col="doc_id", text_col="text",
        window=8, key_len=12, max_dist=3,
    )


# ---------------------------------------------------------------------------
# Round 11: survey-sampling estimator — PPS Poisson + Horvitz-Thompson
# ---------------------------------------------------------------------------


@register(
    "sample_pps_horvitz_thompson",
    tags=("LLM-mix", "A4"),
    oracle=sampling.sql_sample_pps_ht(
        id_expr=(
            "t.l_orderkey::VARCHAR || '_' || t.l_linenumber::VARCHAR || '_' "
            "|| t.l_partkey::VARCHAR || '_' || t.l_suppkey::VARCHAR"
        ),
        size_expr="round(t.l_quantity)",
        cents_expr="round(t.l_extendedprice * 100, 0)",
        group_col="l_returnflag",
        n_target=2000,
        table="lineitem",
    ),
)
def sample_pps_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size Poisson sampling with the
    Horvitz-Thompson total estimator (Horvitz & Thompson, JASA 1952):
    each lineitem is included with pi_i = min(1, n*qty_i/sum(qty)) via an
    exact integer hash test, and the per-returnflag revenue total is
    estimated as sum(y_i/pi_i) over the ~n sampled rows — the
    design-based answer to "estimate a 100 TB total from a fixed-size
    sample, rows weighted by size". All arithmetic is exact (BIGINT
    inclusion test, DECIMAL(38,0)/HUGEINT division for the HT weights),
    so the estimate is bit-identical across engines and partitionings.
    Two fact scans (group totals, then map-only inclusion + one small
    agg); no fact-table shuffle."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.concat_ws(
            "_", "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
        ).alias("pps_id"),
        F.round("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("y_cents"),
        "l_returnflag",
    )
    return sampling.sample_pps_ht(
        li,
        id_col="pps_id",
        size_col="qty",
        cents_col="y_cents",
        group_col="l_returnflag",
        n_target=2000,
    )


# ---------------------------------------------------------------------------
# Round 11: longest-shared-substring dedup (contiguous plagiarism)
# ---------------------------------------------------------------------------

_LSS_MIN_LEN = 64


# DuckDB mirror of the planted corpus: docs with doc_id % 11 == 0 get a
# verbatim passage whose content is keyed by doc_id DIV 110, so blocks of
# ~10 planted docs share a >=100-char run (pair count grows LINEARLY with
# corpus size — a block never spans more than 10 planted docs at any sf)
# while different blocks share nothing 64 chars long.
_LSS_CORPUS_DUCK = (
    "SELECT doc_id AS doc, "
    "CASE WHEN doc_id % 11 = 0 THEN text || ' ' || "
    "repeat('blk' || (doc_id // 110)::VARCHAR || ' ', 20) "
    "ELSE text END AS txt "
    "FROM documents"
)


@register(
    "dedup_longest_shared_substring",
    tags=("LLM-dedup",),
    oracle_fn=lambda sf_dir: substring.sql_longest_shared_substring_expected(
        sf_dir,
        corpus_select_duck=_LSS_CORPUS_DUCK,
        min_len=_LSS_MIN_LEN,
    ),
)
def dedup_longest_shared_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous-plagiarism dedup: pairs sharing a verbatim substring of
    >= 64 chars, with the EXACT longest-common-substring length. The
    candidate stage (shared 64-gram posting-list equi-join) IS the
    predicate, not a heuristic; the per-pair length comes from a suffix
    automaton (Blumer et al. 1985) streamed Arrow-batched over the
    bounded candidate relation. Orthogonal to the set-overlap families:
    one long shared paragraph in otherwise-different docs has near-zero
    Jaccard but is found here exactly. The oracle recomputes every length
    with an independent algorithm (binary search over exact gram-set
    intersections), so each driver run cross-checks the automaton."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.col("text"),
                F.lit(" "),
                F.repeat(
                    F.concat(
                        F.lit("blk"),
                        F.expr("doc_id DIV 110").cast("string"),
                        F.lit(" "),
                    ),
                    20,
                ),
            ),
        )
        .otherwise(F.col("text"))
        .alias("txt"),
    )
    return substring.longest_shared_substring_pairs(
        docs, id_col="doc_id", text_col="txt", min_len=_LSS_MIN_LEN
    )


# ---------------------------------------------------------------------------
# Round 11: rendezvous (HRW) consistent shard assignment + rebalance delta
# ---------------------------------------------------------------------------

_HRW_N = 8  # shards before the scale-out; the rebalance adds shard 8


def _hrw_sql_exprs(n_shards: int, *, spark: bool) -> tuple[str, str]:
    """(hash column exprs, argmax CASE) for rendezvous assignment: doc
    goes to argmax_s md5_hash(doc_id || '#' || s). Ties (md5-improbable)
    break to the smallest shard id via CASE evaluation order — the same
    rule in both engines by construction."""
    from stock_streaming_data_pipeline_spark.operators.dedup import (
        sql_portable_hash,
    )

    def h(s: int) -> str:
        if spark:
            # Spark dialect of the portable md5-top-60-bit hash
            return (
                "CAST(conv(substring(md5(concat('hrw_', "
                f"CAST(doc_id AS STRING), '#{s}')), 1, 15), 16, 10) AS BIGINT)"
            )
        return sql_portable_hash(f"doc_id::VARCHAR || '#{s}'", salt="hrw_")

    cols = ", ".join(f"{h(s)} AS h{s}" for s in range(n_shards))
    m = "greatest(" + ", ".join(f"h{s}" for s in range(n_shards)) + ")"
    case = (
        "CASE "
        + " ".join(f"WHEN h{s} = {m} THEN {s}" for s in range(n_shards))
        + " END"
    )
    return cols, case


def _hrw_oracle() -> str:
    cols9, case_old = _hrw_sql_exprs(_HRW_N, spark=False)
    cols_full, case_new = _hrw_sql_exprs(_HRW_N + 1, spark=False)
    return f"""
WITH h AS (SELECT {cols_full} FROM documents),
asg AS (
  SELECT CAST({case_old} AS BIGINT) AS shard_old,
         CAST({case_new} AS BIGINT) AS shard_new
  FROM h
)
SELECT shard_old, shard_new, CAST(count(*) AS BIGINT) AS n_docs
FROM asg GROUP BY 1, 2
"""


@register(
    "shard_rendezvous_rebalance",
    tags=("LLM-mix", "K4"),
    oracle=_hrw_oracle(),
)
def shard_rendezvous_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous / highest-random-weight sharding (Thaler & Ravishankar
    1998) and its scale-out delta: every doc goes to argmax_s
    hash(doc, s) over 8 shards, then over 9; the (old, new) transition
    matrix PROVES the HRW minimal-movement property — a doc either stays
    put or moves to the NEW shard (no old->old churn), expected moved
    fraction 1/9. This is the shard-assignment operator a 100 TB
    pipeline needs when the writer fleet grows: map-only (the argmax is a
    per-row expression — no shuffle until the tiny transition-matrix
    agg), deterministic, engine-portable."""
    cols_full, case_new = _hrw_sql_exprs(_HRW_N + 1, spark=True)
    _, case_old = _hrw_sql_exprs(_HRW_N, spark=True)
    docs = load_table(spark, sf_dir, "documents")
    h = docs.selectExpr(*_split_select_list(cols_full))
    asg = h.selectExpr(
        f"CAST({case_old} AS BIGINT) AS shard_old",
        f"CAST({case_new} AS BIGINT) AS shard_new",
    )
    return asg.groupBy("shard_old", "shard_new").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


def _split_select_list(cols: str) -> list[str]:
    """Split a 'expr AS a, expr AS b' list at top-level commas."""
    out, depth, cur = [], 0, []
    for ch in cols:
        if ch in "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return out


# ---------------------------------------------------------------------------
# Round 11: minimum spanning forest of the co-purchase graph (Borůvka)
# ---------------------------------------------------------------------------

from stock_streaming_data_pipeline_spark.operators import mst as _mst  # noqa: E402

_MST_EDGES_CTE = """
SELECT u, v, 1000000 // n AS w FROM (
  SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS n
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
) prs
"""


@register(
    "graph_mst_copurchase",
    tags=("LLM-graph",),
    oracle_fn=lambda sf_dir: _mst.sql_mst_components_expected(
        sf_dir, _MST_EDGES_CTE, top=20
    ),
)
def graph_mst_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum spanning forest of the part co-purchase graph (edge
    weight = inverse co-purchase support in micro units, so the forest
    keeps the STRONGEST links) via distributed Borůvka
    (operators/mst.py) — the backbone-extraction step under
    single-linkage taxonomy induction. Top-20 components by size with
    exact node/edge counts and total weight. The oracle re-derives the
    forest with KRUSKAL (global sort + union-find — an independent
    algorithm, not a replay); the unique (w, u, v) edge order makes the
    MST unique, so both must agree bit-for-bit. Scale shape: per-basket
    pair generation bounded by basket size; each Borůvka round is one
    label join + one map-combined min aggregate and the component count
    at least halves per round (O(log n) rounds); contraction
    pointer-jumps on the component-sized relation only."""
    li = load_table(spark, sf_dir, "lineitem")
    # Repartition by the join key FIRST (optimization round 11): hash
    # partitioning on l_orderkey satisfies both the distinct's
    # clustering requirement (subset rule) and the self-join's, so the
    # basket relation is exchanged ONCE and the exchange is REUSED by
    # both join sides — previously the plan carried a distinct exchange
    # on (l_orderkey, l_partkey) plus two join exchanges on l_orderkey
    # (guide §2.4: two operations keyed the same way share one
    # exchange).
    items = (
        li.select("l_orderkey", "l_partkey")
        .repartition("l_orderkey")
        .distinct()
    )
    edges = (
        items.alias("a")
        .join(
            items.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select(
            "u", "v", F.expr("CAST(1000000 DIV n AS BIGINT)").alias("w")
        )
    )
    forest, labels = _mst.boruvka_mst(edges, src="u", dst="v", weight="w")
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    lab_u = labels.select(
        F.col("node").alias("u"), F.col("component").alias("component")
    )
    etot = (
        forest.join(lab_u, "u")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.sum("w").cast("long").alias("total_weight"),
        )
    )
    return (
        sizes.join(etot, "component")
        .select("component", "n_nodes", "n_edges", "total_weight")
        .orderBy(F.desc("n_nodes"), F.desc("total_weight"), "component")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Round 11: greedy max-coverage corpus selection
# ---------------------------------------------------------------------------

from stock_streaming_data_pipeline_spark.operators import coverage as _coverage  # noqa: E402


def _coverage_oracle(sf_dir: str) -> str:
    """VALUES-literal oracle: 3-gram shingle sets per doc via
    DuckDB (the differentially trusted sub-plan — dedup.sql_shingles,
    the same normalize/split/shingle contract the Spark side uses), greedy replayed by
    the independent pure-Python implementation (set arithmetic vs the
    engine's join algebra)."""
    from stock_streaming_data_pipeline_spark.operators.dedup import sql_shingles

    con = duck_connection(sf_dir)
    rows = con.execute(
        f"SELECT doc_id, unnest({sql_shingles('text', 3)}) AS tok FROM documents"
    ).fetchall()
    con.close()
    sets: dict[int, set[str]] = {}
    for doc, tok in rows:
        sets.setdefault(int(doc), set()).add(tok)
    trace = _coverage.greedy_max_coverage_py(sets, k=8)
    cum = 0
    rows_out = []
    for rnd, doc, gain in trace:
        cum += gain
        rows_out.append((rnd, doc, gain, cum))
    return values_sql(
        "round BIGINT, doc_id BIGINT, gain BIGINT, covered_total BIGINT", rows_out
    )


@register(
    "coverage_greedy_selection",
    tags=("LLM-curation",),
    oracle_fn=_coverage_oracle,
)
def coverage_greedy_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted corpus selection: greedily pick 8 documents maximizing
    covered distinct 3-gram shingles (operators/coverage.py — submodular
    max-coverage, the (1-1/e) greedy with a pinned total tie order).
    The greedy TRACE is the deterministic spec: round, winning doc,
    marginal gain, cumulative coverage. The oracle re-derives the trace
    with pure-Python set arithmetic over DuckDB-read token sets — join
    algebra vs set algebra, same spec. Scale shape: one distinct
    (doc, token) relation; each of the 8 rounds is a map-combined count
    + TakeOrdered(1) + a token anti-join that SHRINKS the relation;
    driver traffic is 8 single-row collects (parameter-bounded)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(dedup.shingles(F.col("text"), 3)).alias("tok"),
    )
    trace = _coverage.greedy_max_coverage(
        toks, id_col="doc", tok_col="tok", k=8
    )
    cum = 0
    out = []
    for rnd, doc, gain in trace:
        cum += gain
        out.append((rnd, doc, gain, cum))
    return spark.createDataFrame(
        out, "round long, doc_id long, gain long, covered_total long"
    )

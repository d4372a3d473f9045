"""LLM-data operator tests: LSH recall vs exact, multimodal plumbing parity.

The oracle-checked queries cover exactness; these tests pin the properties
of the *approximate* scale paths (which carry no SQL oracle) and the
mapInPandas plumbing.
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.operators import (
    dedup,
    multimodal,
    sampling,
    similarity,
)
from stock_streaming_data_pipeline_spark.tables import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def near_dup_corpus(spark):
    """documents ∪ perturbed copies (last word dropped) of every 5th doc
    — known high-jaccard, low-hamming pairs by construction."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    perturbed = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.array_join(
                F.slice(
                    F.split(F.col("text"), r"\s+"),
                    1,
                    F.greatest(F.size(F.split(F.col("text"), r"\s+")) - 1, F.lit(1)),
                ),
                " ",
            ).alias("text"),
        )
    )
    return docs.unionByName(perturbed)


def test_minhash_lsh_recall_vs_exact(spark, near_dup_corpus):
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(
            near_dup_corpus, id_col="doc_id", text_col="text", n=3, threshold=0.6
        ).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(
            near_dup_corpus, id_col="doc_id", text_col="text", n=3,
            num_perm=64, bands=16, threshold=0.6,
        ).collect()
    }
    assert exact, "constructed corpus must contain near-dup pairs"
    # precision 1.0 (candidates are exact-verified); recall high at j>=0.6
    assert lsh <= exact
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.2f} over {len(exact)} true pairs"


def test_lsh_topk_finds_planted_neighbor(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    # plant a near-copy of vec 3 (tiny deterministic perturbation)
    base = emb.filter(F.col("vec_id") == 3).select(
        F.lit(900_000).cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.001).alias("embedding"),
        F.lit(99).alias("label"),
    )
    corpus = emb.select("vec_id", "embedding", "label").unionByName(base)
    queries = emb.filter(F.col("vec_id") == 3)
    got = similarity.lsh_topk(corpus, queries, k=1, dim=64, bits=4).collect()
    assert got and got[0]["neighbor_id"] == 900_000
    assert got[0]["cosine"] >= 0.999999


def test_ivf_topk_finds_planted_neighbor(spark):
    """IVF with a planted near-copy: the copy lands in the same inverted
    list as its query (cosine ~1 → same nearest centroid), so even
    nprobe=1 must find it."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    base = emb.filter(F.col("vec_id") == 3).select(
        F.lit(900_000).cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.001).alias("embedding"),
        F.lit(99).alias("label"),
    )
    corpus = emb.select("vec_id", "embedding", "label").unionByName(base)
    queries = emb.filter(F.col("vec_id") == 3)
    got = similarity.ivf_topk(corpus, queries, k=1, nlist=8, nprobe=1).collect()
    assert got and got[0]["neighbor_id"] == 900_000
    assert got[0]["cosine"] >= 0.999999


def test_ivf_recall_vs_brute_force(spark):
    """Probing 3 of 8 lists must recover most exact top-5 neighbors for
    the 10 query vectors (IVF recall contract at test scale)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(emb, queries, k=5).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(
            emb, queries, k=5, nlist=8, nprobe=3
        ).collect()
    }
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.6, f"IVF recall {recall:.2f}"


def test_ivf_pq_topk_finds_planted_neighbor(spark):
    """IVF-PQ with a planted near-copy: the copy shares the query's coarse
    list AND its residual quantizes to (nearly) the same codes, so the ADC
    shortlist must contain it and the exact re-rank must rank it first."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    base = emb.filter(F.col("vec_id") == 3).select(
        F.lit(900_000).cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.001).alias("embedding"),
        F.lit(99).alias("label"),
    )
    corpus = emb.select("vec_id", "embedding", "label").unionByName(base)
    queries = emb.filter(F.col("vec_id") == 3)
    got = similarity.ivf_pq_topk(
        corpus, queries, k=1, nlist=8, nprobe=1, num_sub=8, ksub=16, rerank=16
    ).collect()
    assert got and got[0]["neighbor_id"] == 900_000
    assert got[0]["cosine"] >= 0.999999


def test_num_sub_not_dividing_the_dim_raises_value_error(spark):
    """The PQ subspace guard is a real exception, so it survives
    ``python -O``: embeddings are 64-dim, and 7 subspaces do not fit."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") == 3)
    with pytest.raises(ValueError, match="num_sub=7 must divide the embedding dim 64"):
        similarity.ivf_pq_topk(emb, queries, num_sub=7)
    with pytest.raises(ValueError, match="num_sub=7"):
        similarity.opq_train(emb, num_sub=7)
    with pytest.raises(ValueError, match="num_sub=7"):
        similarity.sql_opq_topk(SF_SMOKE, num_sub=7, dim=64)


def test_ivf_pq_recall_vs_brute_force(spark):
    """PQ compresses 64 floats to 8 codes, so ADC ordering is lossy — but
    with a 32-deep exact re-rank the top-5 recall must stay useful at
    test scale, and every returned cosine must be exact (re-rank uses the
    raw vectors)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact_rows = similarity.cosine_topk(emb, queries, k=5).collect()
    exact = {(r["query_id"], r["neighbor_id"]) for r in exact_rows}
    exact_cos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact_rows}
    pq_rows = similarity.ivf_pq_topk(
        emb, queries, k=5, nlist=8, nprobe=3, num_sub=8, ksub=16, rerank=32
    ).collect()
    pq = {(r["query_id"], r["neighbor_id"]) for r in pq_rows}
    recall = len(exact & pq) / len(exact)
    assert recall >= 0.5, f"IVF-PQ recall {recall:.2f}"
    for r in pq_rows:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_cos:
            assert r["cosine"] == exact_cos[key]  # re-rank is exact


def test_stratified_sampling_caps_and_determinism(spark):
    """Exact form: exactly min(cap, |group|) rows per group, and the same
    sample on every run (hash-derived, not RNG). Rate form: a subset of
    the population, roughly cap-sized groups."""
    docs = load_table(spark, SF_SMOKE, "documents")
    cap = 5
    s1 = sampling.sample_per_group_exact(
        docs, id_col="doc_id", group_col="lang", cap=cap
    )
    sizes = {
        r["lang"]: r["n"]
        for r in s1.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    pop = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert sizes == {g: min(cap, n) for g, n in pop.items()}
    ids1 = {r["doc_id"] for r in s1.select("doc_id").collect()}
    ids2 = {
        r["doc_id"]
        for r in sampling.sample_per_group_exact(
            docs, id_col="doc_id", group_col="lang", cap=cap
        ).select("doc_id").collect()
    }
    assert ids1 == ids2  # deterministic
    rate_ids = {
        r["doc_id"]
        for r in sampling.sample_per_group_rate(
            docs, id_col="doc_id", group_col="lang", cap=cap
        ).select("doc_id").collect()
    }
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert rate_ids <= all_ids
    assert 0 < len(rate_ids) < len(all_ids)


def test_temperature_mix_upweights_tail_groups(spark):
    """Temperature (alpha=0.5) sampling keeps a HIGHER fraction of tail
    groups than of the head group (that's the whole point of tempering),
    is deterministic, and never exceeds the population."""
    docs = load_table(spark, SF_SMOKE, "documents")
    pop = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total_target = sum(pop.values()) // 2
    s = sampling.sample_temperature(
        docs, id_col="doc_id", group_col="lang", total_target=total_target
    )
    kept = {
        r["lang"]: r["n"]
        for r in s.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    head = max(pop, key=pop.get)
    tail = min(pop, key=pop.get)
    head_rate = kept.get(head, 0) / pop[head]
    tail_rate = kept.get(tail, 0) / pop[tail]
    assert tail_rate >= head_rate  # sqrt-tempering favors the tail
    ids2 = {
        r["doc_id"]
        for r in sampling.sample_temperature(
            docs, id_col="doc_id", group_col="lang", total_target=total_target
        ).select("doc_id").collect()
    }
    assert ids2 == {r["doc_id"] for r in s.select("doc_id").collect()}


def test_upsample_reaches_parity_and_caps(spark):
    """Upsampled group volumes land within [orig, max_factor*orig] and the
    repeat factor never exceeds the cap; copy indexes are dense 1..k."""
    docs = load_table(spark, SF_SMOKE, "documents")
    pop = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    up = sampling.upsample_to_parity(docs, group_col="lang", max_factor=3)
    out = {
        r["lang"]: (r["n"], r["mx"])
        for r in up.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.max("copy_idx").alias("mx"))
        .collect()
    }
    import math

    mx_pop = max(pop.values())
    for lang, n in pop.items():
        k = min(3, math.ceil(mx_pop / n))
        assert out[lang] == (n * k, k)


def test_top_share_prefix_is_minimal(spark):
    """take_top_share keeps the minimal descending-score prefix reaching
    the share: dropping its last-ranked row falls below the threshold,
    and every kept rank is contiguous from 1."""
    docs = load_table(spark, SF_SMOKE, "documents")
    kept = sampling.take_top_share(
        docs, id_col="doc_id", group_col="source",
        score_col="n_chars", share_pct=60,
    ).select("source", "n_chars", "pick_rank").collect()
    by_src: dict[str, list] = {}
    for r in kept:
        by_src.setdefault(r["source"], []).append(r)
    totals = {
        r["source"]: r["tot"]
        for r in docs.groupBy("source")
        .agg(F.sum("n_chars").alias("tot"))
        .collect()
    }
    for src, rows in by_src.items():
        rows.sort(key=lambda r: r["pick_rank"])
        assert [r["pick_rank"] for r in rows] == list(range(1, len(rows) + 1))
        mass = sum(r["n_chars"] for r in rows)
        assert mass * 100 >= 60 * totals[src]  # reaches the share
        mass_wo_last = mass - rows[-1]["n_chars"]
        assert mass_wo_last * 100 < 60 * totals[src]  # and is minimal


def test_contamination_report_flags_planted_leaks(spark):
    """A verbatim eval copy in training must report overlap 1.0; a
    half-prefix copy must report a partial overlap; an unrelated doc must
    not appear (5-grams have no incidental cross-doc overlap here)."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    evals = docs.filter(F.col("doc_id") == 7)
    leak_full = evals.select(F.lit(900_001).cast("long").alias("doc_id"), "text")
    leak_half = evals.select(
        F.lit(900_002).cast("long").alias("doc_id"),
        F.substring("text", 1, 80).alias("text"),
    )
    train = (
        docs.filter(F.col("doc_id") % 2 == 0)  # excludes doc 7 itself
        .unionByName(leak_full)
        .unionByName(leak_half)
    )
    got = {
        r["doc"]: r
        for r in dedup.contamination_report(
            train,
            evals,
            id_col="doc_id",
            text_col="text",
            eval_id_col="doc_id",
            eval_text_col="text",
            n=5,
            min_overlap=0.1,
        ).collect()
    }
    assert got[900_001]["overlap_frac"] == 1.0
    assert 0.1 <= got[900_002]["overlap_frac"] < 1.0
    assert set(got) == {900_001, 900_002}


def test_multimodal_plumbing_matches_python(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(50)
    media = multimodal.documents_as_media(docs)
    feats = {
        r["media_id"]: r
        for r in multimodal.extract_features(media, dim=8).collect()
    }
    for row in docs.collect():
        payload = row["text"].encode("utf-8")
        got = feats[row["doc_id"]]
        assert got["n_bytes"] == len(payload)
        assert got["sha256"] == hashlib.sha256(payload).hexdigest()
        want_feat = multimodal.fake_decode_features(payload, 8)
        assert got["feat"] == pytest.approx(want_feat)


def test_decode_stub_raises(spark):
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG")


def test_frame_sampling(spark):
    import pandas as pd

    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [1, 2],
                "payload": [b"a", b"b"],
                "media_type": ["video", "image"],
                "meta": [
                    {"width": 0, "height": 0, "sample_rate": 0, "n_frames": 25},
                    {"width": 0, "height": 0, "sample_rate": 0, "n_frames": 25},
                ],
            }
        ),
        schema=multimodal.MEDIA_SCHEMA,
    )
    frames = multimodal.sample_frames(media, every_n=10).collect()
    assert {(r["media_id"], r["frame_idx"]) for r in frames} == {
        (1, 0), (1, 10), (1, 20)
    }


def test_resize_plumbing(spark):
    """resize_images keeps only images, rewrites metadata to the target
    dims, and its payload matches the kernel applied driver-side; output
    size scales with the target area."""
    import pandas as pd

    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [1, 2, 3],
                "payload": [b"imgdata1", b"vid", b"imgdata3"],
                "media_type": ["image", "video", "image"],
                "meta": [
                    {"width": 640, "height": 480, "sample_rate": 0, "n_frames": 0},
                    {"width": 0, "height": 0, "sample_rate": 0, "n_frames": 25},
                    {"width": 1920, "height": 1080, "sample_rate": 0, "n_frames": 0},
                ],
            }
        ),
        schema=multimodal.MEDIA_SCHEMA,
    )
    out = {r["media_id"]: r for r in multimodal.resize_images(
        media, width=224, height=224).collect()}
    assert set(out) == {1, 3}  # video dropped
    for mid, src in ((1, b"imgdata1"), (3, b"imgdata3")):
        r = out[mid]
        assert r["meta"]["width"] == 224 and r["meta"]["height"] == 224
        assert bytes(r["payload"]) == multimodal.fake_resize_payload(src, 224, 224)
        assert len(r["payload"]) == (224 * 224) // 64


def test_connected_components_chain(spark):
    """A-B, B-C, C-D chains must collapse into one component (pairs alone
    under-merge transitive duplicates)."""
    import pandas as pd

    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_a": [1, 2, 3, 10], "doc_b": [2, 3, 4, 11]})
    )
    comp = {
        r["doc"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert comp[1] == comp[2] == comp[3] == comp[4] == 1
    assert comp[10] == comp[11] == 10


def test_lsh_band_params_solver():
    b, r = dedup.lsh_band_params(0.6, 64)
    assert b * r == 64
    midpoint = (1.0 / b) ** (1.0 / r)
    assert abs(midpoint - 0.6) < 0.15
    # high thresholds want more rows per band; low thresholds more bands
    b_lo, _ = dedup.lsh_band_params(0.3, 64)
    b_hi, _ = dedup.lsh_band_params(0.9, 64)
    assert b_lo >= b and b_hi <= b
    with pytest.raises(RuntimeError, match="num_perm=0"):
        dedup.lsh_band_params(0.5, 0)


def test_kmeans_converges_and_is_deterministic(spark):
    from stock_streaming_data_pipeline_spark.operators import similarity
    from stock_streaming_data_pipeline_spark.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    n = emb.count()
    prof = similarity.kmeans_profile(emb, k=4, iters=3).collect()
    assert sum(r["size"] for r in prof) == n
    assert len(prof) == 4 and all(r["size"] > 0 for r in prof)
    # deterministic: same seeds, same tie-breaks, same result
    again = similarity.kmeans_profile(emb, k=4, iters=3).collect()
    assert prof == again
    # Lloyd refinement: total inertia after 3 iterations is no worse than
    # after the first assignment against the raw seeds
    seed_inertia = sum(
        r["inertia"] for r in similarity.kmeans_profile(emb, k=4, iters=0).collect()
    )
    assert sum(r["inertia"] for r in prof) <= seed_inertia + 1e-6


def test_minhash_cross_finds_planted_overlap(spark):
    """Every verbatim eval doc planted into training must surface as a
    jaccard-1.0 cross pair pointing back at its eval source."""
    from pyspark.sql import functions as F

    from stock_streaming_data_pipeline_spark.operators import dedup
    from stock_streaming_data_pipeline_spark.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    evals = docs.filter(F.col("doc_id") % 41 == 0).select("doc_id", "text")
    planted = evals.filter(F.col("doc_id") % 82 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    train = (
        docs.filter(F.col("doc_id") % 41 != 0)
        .select("doc_id", "text")
        .unionByName(planted)
    )
    pairs = dedup.minhash_lsh_pairs_cross(
        train, evals, id_col="doc_id", text_col="text",
        n=3, num_perm=64, bands=16, threshold=0.6,
    ).collect()
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs}
    expected = {
        (r["doc_id"] + 2_000_000, r["doc_id"])
        for r in evals.filter(F.col("doc_id") % 82 == 0).collect()
    }
    assert expected, "fixture must plant at least one copy"
    for pair in expected:
        assert got.get(pair) == 1.0, pair


def test_kmeans_retains_empty_clusters(spark):
    """A degenerate corpus (2 distinct points, k=4) forces clusters to go
    empty during the Lloyd update; the trainer must still return exactly
    k centroids (empty ones retain their previous position) rather than
    silently shrinking — the round-2 ADVICE regression."""
    from stock_streaming_data_pipeline_spark.operators import similarity

    rows = [(i, ([1.0, 1.0] if i % 2 else [9.0, 9.0])) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = similarity.ivf_train(emb, nlist=4, iters=3).collect()
    assert len(cents) == 4
    assert sorted(r["_cid"] for r in cents) == [0, 1, 2, 3]
    prof = similarity.kmeans_profile(emb, k=4, iters=3).collect()
    # every vector is still accounted for even with empty clusters around
    assert sum(r["size"] for r in prof) == 40


def test_opq_rotation_reduces_quantization_error(spark):
    """The learned rotation must be orthogonal and must cut the mean
    squared quantization error vs identity-rotation PQ at the same
    (num_sub, ksub) budget — the OPQ objective itself."""
    import numpy as np

    from stock_streaming_data_pipeline_spark.operators import similarity
    from stock_streaming_data_pipeline_spark.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    R, cb = similarity.opq_train(emb, num_sub=8, ksub=16, iters=2, pq_iters=2)
    d = R.shape[0]
    assert float(np.abs(R @ R.T - np.eye(d)).max()) < 1e-9
    _, cb_id = similarity.opq_train(emb, num_sub=8, ksub=16, iters=0, pq_iters=2)
    mse_id = similarity.pq_reconstruction_error(emb, np.eye(d), cb_id, num_sub=8)
    mse_opq = similarity.pq_reconstruction_error(emb, R, cb, num_sub=8)
    assert mse_opq < mse_id, f"opq {mse_opq} !< identity {mse_id}"


def test_opq_recall_vs_brute_force(spark):
    from pyspark.sql import functions as F

    from stock_streaming_data_pipeline_spark.operators import similarity
    from stock_streaming_data_pipeline_spark.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(emb, queries, k=5).collect()
    }
    opq_rows = similarity.opq_topk(emb, queries, k=5, rerank=32, iters=2).collect()
    opq = {(r["query_id"], r["neighbor_id"]) for r in opq_rows}
    recall = len(exact & opq) / len(exact)
    assert recall >= 0.55, f"OPQ recall {recall:.2f}"
    # re-rank cosines are exact (raw vectors), ranks well-formed
    for r in opq_rows:
        assert 1 <= r["rank"] <= 5


def test_split_train_eval_stability_properties(spark):
    """Deterministic split: rerun-identical, append-stable (old rows keep
    their split when new rows arrive), and close to the target rate."""
    from stock_streaming_data_pipeline_spark.operators import sampling

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    a = {
        r["doc_id"]: r["split"]
        for r in sampling.split_train_eval(df, id_col="doc_id").collect()
    }
    b = {
        r["doc_id"]: r["split"]
        for r in sampling.split_train_eval(
            df.repartition(13), id_col="doc_id"
        ).collect()
    }
    assert a == b
    bigger = spark.createDataFrame([(i,) for i in range(4000)], "doc_id long")
    c = {
        r["doc_id"]: r["split"]
        for r in sampling.split_train_eval(bigger, id_col="doc_id").collect()
    }
    assert all(c[k] == v for k, v in a.items())  # append-stable
    n_eval = sum(1 for v in a.values() if v == "eval")
    assert abs(n_eval - 200) < 4 * (2000 * 0.1 * 0.9) ** 0.5


def test_fuzzy_pairs_blocking_and_distance(spark):
    from stock_streaming_data_pipeline_spark.operators import fuzzy

    df = spark.createDataFrame(
        [
            (1, "red widget", "A"),
            (2, "red widgot", "A"),   # dist 1, same block
            (3, "red widget", "B"),   # identical text, DIFFERENT block
            (4, "blue cable", "A"),   # too far from everything
            (5, "red widget", "A"),   # exact dup of 1
        ],
        "id long, name string, grp string",
    )
    out = fuzzy.fuzzy_pairs(
        df, id_col="id", text_col="name", block_cols=("grp",), max_dist=2
    ).collect()
    pairs = {(r["id_a"], r["id_b"]): r["edit_dist"] for r in out}
    assert pairs == {(1, 2): 1, (1, 5): 0, (2, 5): 1}
    # cross-block pair (1,3) absent by design; (4,*) beyond max_dist


def test_minhash_xxh64_variant_precision_and_recall(spark, near_dup_corpus):
    """The fast-hash variant must keep precision 1.0 (verification is
    exact regardless of the hash family) and high recall vs the exact
    pair set — the same contract the portable build pins."""
    from stock_streaming_data_pipeline_spark.operators import dedup as dd

    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dd.ngram_jaccard_pairs(
            near_dup_corpus, id_col="doc_id", text_col="text", n=3, threshold=0.6
        ).collect()
    }
    bands, _ = dd.lsh_band_params(0.6, num_perm=64)
    fast = {
        (r["doc_a"], r["doc_b"])
        for r in dd.minhash_lsh_pairs(
            near_dup_corpus, id_col="doc_id", text_col="text", n=3,
            num_perm=64, bands=bands, threshold=0.6, portable=False,
        ).collect()
    }
    assert fast <= exact  # precision 1.0
    assert len(fast & exact) / max(1, len(exact)) >= 0.9


def test_weighted_es_sampling_properties(spark):
    """ES sampling: deterministic across partitionings; higher-weight
    rows win materially more often (checked over many salt draws); zero
    weight never wins."""
    from stock_streaming_data_pipeline_spark.operators import sampling

    rows = [(i, 10.0 if i < 20 else 1.0) for i in range(200)] + [(999, 0.0)]
    df = spark.createDataFrame(rows, "id long, w double")
    a = sorted(
        r["id"] for r in sampling.sample_weighted_es(
            df, id_col="id", weight_col="w", k=30
        ).collect()
    )
    b = sorted(
        r["id"] for r in sampling.sample_weighted_es(
            df.repartition(7), id_col="id", weight_col="w", k=30
        ).collect()
    )
    assert a == b
    assert 999 not in a  # zero weight never wins
    heavy_wins = 0
    for s in range(8):  # fresh draws via salts
        win = {
            r["id"]
            for r in sampling.sample_weighted_es(
                df, id_col="id", weight_col="w", k=30, salt=f"s{s}"
            ).collect()
        }
        heavy_wins += len([i for i in win if i < 20])
    # 20 heavy rows (w=10) vs 180 light (w=1): heavy inclusion must far
    # exceed its 10% population share in a 30-row sample
    assert heavy_wins / (8 * 30) > 0.3


def test_kcenter_coreset_spreads_over_planted_clusters(spark):
    """Three tight planted clusters + k=3: the greedy coreset must pick
    one representative from EACH cluster (diversity), never two from
    the same one — and the selection is partitioning-invariant."""
    import numpy as np

    from stock_streaming_data_pipeline_spark.operators import coreset

    rng = np.random.default_rng(13)
    centers = np.array([[10, 0, 0, 0], [0, 10, 0, 0], [0, 0, 10, 0]], float)
    vecs = []
    for ci, c in enumerate(centers):
        for j in range(8):
            vecs.append((ci * 8 + j, (c + 0.05 * rng.normal(size=4)).tolist()))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = coreset.kcenter_greedy(df, k=3).collect()
    clusters = {r["vec_id"] // 8 for r in out}
    assert clusters == {0, 1, 2}
    again = coreset.kcenter_greedy(df.repartition(5), k=3).collect()
    assert sorted((r["vec_id"], r["rank"]) for r in out) == sorted(
        (r["vec_id"], r["rank"]) for r in again
    )


def test_kcenter_rounds_scan_checkpoint_not_source(spark):
    """The greedy rounds must rescan ONE materialized corpus
    (localCheckpoint), never replay the upstream lineage: a round's plan
    shows a checkpointed-RDD scan and zero parquet scans even when the
    input is a parquet-backed view."""
    from stock_streaming_data_pipeline_spark.operators import coreset as cs
    from stock_streaming_data_pipeline_spark.operators.similarity import (
        as_double,
        cosine,
    )
    from stock_streaming_data_pipeline_spark.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    vecs = emb.select(
        F.col("vec_id").alias("vid"), as_double(F.col("embedding")).alias("v")
    ).localCheckpoint(eager=True)
    # reproduce one greedy round's scored plan over the checkpointed corpus
    ch = vecs.limit(1).select(F.col("vid").alias("cid"), F.col("v").alias("cv"))
    scored = (
        vecs.crossJoin(F.broadcast(ch))
        .withColumn("sim", F.round(cosine(F.col("v"), F.col("cv")), 6))
        .groupBy("vid")
        .agg(F.max("sim").alias("maxsim"))
    )
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    assert "parquet" not in plan.lower()
    # and the operator's output is unchanged by the checkpoint
    out = cs.kcenter_greedy(emb, k=3).collect()
    assert len(out) == 3


def test_c4_gopher_filters_rules_and_reasons(spark):
    """Rule order + reason semantics: hand-built docs hit each rule."""
    from stock_streaming_data_pipeline_spark.operators import text as t

    docs = spark.createDataFrame(
        [
            (1, "the a of and to in is that it for " + "word " * 30),  # keep
            (2, "the a short doc"),                                    # too few
            (3, ("supercalifragilisticexpialidociousxx ok go "
                 + "word " * 12
                 + "the a of and to in is that it for")),              # max_word_len
            (4, ("zz " * 30) + "the a"),                               # mean_word_len < 3
            (5, "nice clean words without function terms " * 5),       # stopword_count
            (6, "the a of lorem ipsum " + "word " * 30),               # boilerplate
        ],
        "doc_id long, text string",
    )
    out = {r["doc"]: r for r in t.c4_gopher_filters(
        docs, id_col="doc_id", text_col="text").collect()}
    assert out[1]["keep"] and out[1]["reject_reason"] is None
    assert out[2]["reject_reason"] == "too_few_words"
    assert out[3]["reject_reason"] == "max_word_len"
    assert out[4]["reject_reason"] == "mean_word_len"
    assert out[5]["reject_reason"] == "stopword_count"
    assert out[6]["reject_reason"] == "boilerplate"


def test_quality_lr_classifier_learns_past_base_rate(spark):
    """The distilled LR must beat the majority-class baseline on its own
    training labels (8 steps, lr 0.1 — 0.80 vs 0.62 measured), i.e. the
    gradient loop genuinely moves the weights."""
    from stock_streaming_data_pipeline_spark.plans import catalog

    from tests.conftest import SF_CORRECT

    df = catalog.catalog()["quality_lr_classifier"].build(spark, SF_CORRECT)
    r = df.agg(
        F.avg((F.col("pred").cast("int") == F.col("label")).cast("double")).alias("acc"),
        F.avg("label").alias("base"),
    ).first()
    base_majority = max(r["base"], 1 - r["base"])
    assert r["acc"] >= base_majority + 0.1


def test_lrquality_frozen_sigmoid_pinned(spark):
    """Pin the frozen integer-exp sigmoid (operators/lrquality.py) against
    a literal vector: the round-8 fix for the sf1 libm-ulp finding only
    retires the class if the table product itself can never drift. Three
    layers: (1) spot literal values of the frozen tables (a rebuilt table
    from a different libm would fail here), (2) the Spark expression on a
    literal z vector equals hand-frozen micro outputs, (3) DuckDB renders
    the identical outputs from the same expression text."""
    import duckdb

    from stock_streaming_data_pipeline_spark.operators import lrquality as lrq

    # (1) frozen table spot pins — literal doubles, not math.exp calls.
    assert lrq._EXP_1[0] == 1.0
    assert lrq._EXP_1[1] == 2.718281828459045
    assert lrq._EXP_1[15] == 3269017.3724721107
    assert lrq._EXP_2[1] == 1.010050167084168
    assert lrq._EXP_2[99] == 2.691234472349262
    assert lrq._EXP_4[1] == 1.0001000050001667
    assert lrq._EXP_6[1] == 1.0000010000005
    assert lrq._EXP_6[99] == 1.0000990049006617
    assert (len(lrq._EXP_1), len(lrq._EXP_2), len(lrq._EXP_4), len(lrq._EXP_6)) == (
        16, 100, 100, 100,
    )

    # (2)+(3) sigmoid on a literal z-micro vector: saturation boundaries,
    # sign symmetry, and interior points — expected values FROZEN here.
    cases = [
        (-123_456_789, 0),
        (-16_000_000, 0),
        (-15_999_999, 0),
        (-2_718_281, 61903),
        (-1_000_000, 268941),
        (-500_000, 377541),
        (-1, 500000),
        (0, 500000),
        (1, 500000),
        (314_159, 577900),
        (693_147, 666667),  # sigmoid(ln 2) = 2/3
        (1_000_000, 731059),
        (4_200_000, 985226),
        (15_999_999, 1000000),
        (16_000_000, 1000000),
        (123_456_789, 1000000),
    ]
    df = spark.createDataFrame([(z, e) for z, e in cases], "z LONG, want LONG")
    got = df.select(
        "z", "want", F.expr(lrq.sigmoid_micro_sql("z", spark=True)).alias("p")
    ).collect()
    bad = [(r["z"], r["p"], r["want"]) for r in got if r["p"] != r["want"]]
    assert not bad, f"spark sigmoid drifted from frozen vector: {bad}"

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT unnest(?::BIGINT[]) AS z, unnest(?::BIGINT[]) AS want",
        [[z for z, _ in cases], [e for _, e in cases]],
    )
    rows = con.sql(
        f"SELECT z, want, {lrq.sigmoid_micro_sql('z', spark=False)} AS p FROM t"
    ).fetchall()
    bad = [(z, p, w) for z, w, p in rows if p != w]
    assert not bad, f"duckdb sigmoid drifted from frozen vector: {bad}"


def test_ivf2_topk_finds_planted_neighbor(spark):
    """Two-level IVF with a planted near-copy: the copy shares both the
    query's coarse cell and its sub-cell (cosine ~1), so even 2x2 probes
    must find and top-rank it."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    base = emb.filter(F.col("vec_id") == 3).select(
        F.lit(900_000).cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.001).alias("embedding"),
        F.lit(99).alias("label"),
    )
    corpus = emb.select("vec_id", "embedding", "label").unionByName(base)
    queries = emb.filter(F.col("vec_id") == 3)
    got = similarity.ivf2_topk(
        corpus, queries, k=1, nlist1=4, nlist2=4, nprobe1=1, nprobe2=1
    ).collect()
    assert got and got[0]["neighbor_id"] == 900_000
    assert got[0]["cosine"] >= 0.999999


def test_ivf2_recall_vs_brute_force(spark):
    """Descending 2 of 4 cells x 2 of 4 sub-cells (1/4 of the leaves)
    must keep useful top-5 recall at test scale."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(emb, queries, k=5).collect()
    }
    ivf2 = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf2_topk(
            emb, queries, k=5, nlist1=4, nlist2=4, nprobe1=2, nprobe2=2
        ).collect()
    }
    recall = len(exact & ivf2) / len(exact)
    assert recall >= 0.5, f"IVF2 recall {recall:.2f}"


def test_rrf_fusion_properties(spark):
    """RRF: a doc ranked #1 by BOTH rankers must outrank any single-list
    doc; fused scores equal the hand-computed 1/(60+r) micro sums;
    partitioning-invariant."""
    from stock_streaming_data_pipeline_spark.operators import retrieval

    rows = [
        (0, "vector hash join vector hash join query fuse"),  # both-lists hit
        (1, "vector vector vector unrelated filler words here"),
        (2, "hash hash hash other filler words entirely"),
        (3, "join join join unrelated content words here"),
    ] + [(10 + i, f"noise only tokens w{i} x{i} y{i}") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = retrieval.rrf_fusion(
        df, ("vector", "hash", "join"), id_col="doc_id", text_col="text",
        k=5, pool=5, dim=32,
    ).collect()
    assert out[0]["doc"] == 0  # best in both lists → best fused
    for r in out:
        expect = 0
        for rank in (r["bm25_rank"], r["cos_rank"]):
            if rank is not None:
                expect += math.floor(round(1.0 / (60 + rank), 6) * 1e6 + 0.5)
        assert r["rrf"] == round(expect / 1e6, 6)
    out2 = retrieval.rrf_fusion(
        df.repartition(7), ("vector", "hash", "join"),
        id_col="doc_id", text_col="text", k=5, pool=5, dim=32,
    ).collect()
    assert [(r["doc"], r["rrf"]) for r in out] == [
        (r["doc"], r["rrf"]) for r in out2
    ]


def test_dsir_importance_separates_domains(spark):
    """DSIR: raw docs written in the target domain's vocabulary score
    positive (kept), vocabulary-disjoint docs score negative (dropped);
    target rows never appear in the output; partitioning-invariant."""
    from stock_streaming_data_pipeline_spark.operators import sampling
    import pyspark.sql.functions as F

    target = [(i, "alpha beta gamma delta epsilon zeta", "tgt") for i in range(12)]
    in_domain = [(100 + i, "alpha beta gamma delta", "raw") for i in range(5)]
    off_domain = [(200 + i, "xray yankee zulu quebec oscar", "raw") for i in range(5)]
    df = spark.createDataFrame(
        target + in_domain + off_domain, "doc_id long, text string, src string"
    )
    out = {
        r["doc"]: r
        for r in sampling.dsir_importance(
            df, id_col="doc_id", text_col="text",
            target_pred=F.col("src") == "tgt", n_buckets=32,
        ).collect()
    }
    assert set(out) == {100 + i for i in range(5)} | {200 + i for i in range(5)}
    for i in range(5):
        assert out[100 + i]["importance"] > 0 and out[100 + i]["keep"]
        assert out[200 + i]["importance"] < 0 and not out[200 + i]["keep"]
    out2 = {
        r["doc"]: r["importance"]
        for r in sampling.dsir_importance(
            df.repartition(5), id_col="doc_id", text_col="text",
            target_pred=F.col("src") == "tgt", n_buckets=32,
        ).collect()
    }
    assert {d: r["importance"] for d, r in out.items()} == out2


def test_golden_record_rule_cascade(spark, tmp_path):
    """Survivorship: longest text wins, ties break on source then
    doc_id; singletons are their own component; merged stats cover the
    whole cluster."""
    import pandas as pd

    docs = pd.DataFrame(
        {
            # 1,2,3 near-identical (one cluster); 9 is a singleton
            "doc_id": [1, 2, 3, 9],
            "text": [
                "alpha beta gamma delta epsilon zeta",
                "alpha beta gamma delta epsilon zeta eta",
                "alpha beta gamma delta epsilon zeta eta",  # tie with 2
                "completely different words entirely here now",
            ],
            "lang": ["en"] * 4,
            "source": ["srcB", "srcB", "srcA", "srcC"],
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype("int64")
    d = str(tmp_path / "sf")
    import os

    os.makedirs(d)
    docs.to_parquet(os.path.join(d, "documents.parquet"))
    from stock_streaming_data_pipeline_spark.plans.catalog import queries

    rows = {
        r["component"]: r
        for r in queries()["golden_record_consolidation"](spark, d).collect()
    }
    assert set(rows) == {1, 9}
    g = rows[1]
    # 2 and 3 tie on length (longest); srcA < srcB -> doc 3 survives
    assert g["survivor_doc_id"] == 3 and g["survivor_source"] == "srcA"
    assert g["n_members"] == 3
    assert g["total_chars"] == int(docs[docs.doc_id.isin([1, 2, 3])].n_chars.sum())
    s = rows[9]
    assert s["n_members"] == 1 and s["survivor_doc_id"] == 9


def test_sorted_neighborhood_blocks_have_fixed_budget(spark, tmp_path):
    """SNM finds the planted near-dup pair whose shared tokens sort
    adjacently, and the candidate budget is bounded by docs*(window-1)
    even when one shingle is corpus-hot (the inverted-index killer)."""
    import os

    import pandas as pd

    from stock_streaming_data_pipeline_spark.operators import dedup

    hot = "zebra yak xylophone"  # hot trigram in EVERY doc
    docs = pd.DataFrame(
        {
            "doc_id": list(range(20)),
            "text": [
                f"alpha beta gamma doc{i} filler words {hot}" for i in range(18)
            ]
            + [
                f"aardvark abacus abbey unique one two three four {hot}",
                f"aardvark abacus abbey unique one two three five {hot}",
            ],
            "lang": ["en"] * 20,
            "source": ["s"] * 20,
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype("int64")
    d = str(tmp_path / "sf")
    os.makedirs(d)
    docs.to_parquet(os.path.join(d, "documents.parquet"))
    df = spark.read.parquet(os.path.join(d, "documents.parquet"))
    out = dedup.sorted_neighborhood_pairs(
        df, id_col="doc_id", text_col="text", window=4, n=3, threshold=0.5
    ).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in out}
    assert (18, 19) in got  # the planted neighbors (blocking key 'aardvark abacus abbey')
    # determinism under repartition
    out2 = dedup.sorted_neighborhood_pairs(
        df.repartition(7), id_col="doc_id", text_col="text",
        window=4, n=3, threshold=0.5,
    ).collect()
    assert {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in out} == {
        (r["doc_a"], r["doc_b"], r["jaccard"]) for r in out2
    }


def test_rake_degree_rewards_phrase_members(spark, tmp_path):
    """'deep learning' (always a 2-word phrase) must outscore 'cat'
    (same frequency, always alone): degree/freq = 2.0 vs 1.0."""
    rows = [
        (1, "deep learning is the cat", "en", "s", 24),
        (2, "deep learning and a cat", "en", "s", 23),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    from stock_streaming_data_pipeline_spark.plans.llmdata import text_keywords_rake

    out = {r["word"]: r for r in text_keywords_rake(spark, str(tmp_path)).collect()}
    assert out["deep"]["freq"] == 2 and out["deep"]["degree"] == 4
    assert out["deep"]["score_micro"] == 2_000_000
    assert out["cat"]["score_micro"] == 1_000_000
    assert "the" not in out and "is" not in out  # stopwords excluded


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_values_oracles_match_cte_oracles(sf_dir):
    """The round-8 bounded-memory literal-VALUES oracles (pagerank / IVF —
    the sf1-disk-bound CTE replays' replacements) must produce EXACTLY the
    rows of the unrolled-CTE oracles they replace, at every testdata tier:
    same DuckDB engine, two independent derivations of the same defined
    arithmetic."""
    from stock_streaming_data_pipeline_spark.operators import graph, similarity
    from stock_streaming_data_pipeline_spark.plans.llmdata import _PR_EDGES_SQL
    from stock_streaming_data_pipeline_spark.tables import duck_connection

    con = duck_connection(sf_dir)

    old_pr = con.sql(
        graph.sql_pagerank(_PR_EDGES_SQL, iters=3, damping=0.85)
    ).fetchall()
    new_pr = con.sql(
        graph.sql_pagerank_expected(sf_dir, _PR_EDGES_SQL, iters=3, damping=0.85)
    ).fetchall()
    assert sorted(old_pr) == sorted(new_pr)
    assert len(new_pr) > 0

    old_ivf = con.sql(
        similarity.sql_ivf_topk(query_pred="vec_id < 10", k=5, nlist=8, nprobe=3, iters=2)
    ).fetchall()
    new_ivf = con.sql(
        similarity.sql_ivf_topk_expected(
            sf_dir, query_pred="vec_id < 10", k=5, nlist=8, nprobe=3, iters=2
        )
    ).fetchall()
    assert sorted(old_ivf) == sorted(new_ivf)
    assert len(new_ivf) > 0


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_ewma_values_oracle_matches_cte(sf_dir):
    """streaming_ewma_state's round-8 literal-VALUES oracle must equal the
    recursive-CTE form it replaced (the CTE is O(rows * key-depth) in
    DuckDB at the sf1 tier), at every testdata tier."""
    from stock_streaming_data_pipeline_spark.plans import catalog as cat

    cat._load_all()  # plan modules register in dependency order
    from stock_streaming_data_pipeline_spark.plans.streaming_queries import (
        EWMA_CTE_SQL,
        sql_ewma_expected,
    )
    from stock_streaming_data_pipeline_spark.tables import duck_connection

    con = duck_connection(sf_dir)
    old = sorted(con.sql(EWMA_CTE_SQL).fetchall())
    new = sorted(con.sql(sql_ewma_expected(sf_dir)).fetchall())
    assert len(old) > 0
    assert old == new

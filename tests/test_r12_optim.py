"""Round-12 optimization pins.

Each test freezes the EXACT semantics of a round-12 restructure against an
independent reference, so a future refactor that drifts the optimized path
fails here before it reaches the differential oracle sweep.
"""

from __future__ import annotations

import hashlib
import math
from fractions import Fraction

import pytest
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.operators import lrquality as lrq


def _py_portable_hash(tok: str, salt: str) -> int:
    """Pure-Python replica of operators.dedup.portable_hash (top 60 bits
    of md5 as a BIGINT)."""
    return int(hashlib.md5((salt + tok).encode()).hexdigest()[:15], 16)


def _py_sigmoid_micro(zm: int) -> int:
    if zm >= lrq.SIG_SAT_MICRO:
        return 1_000_000
    if zm <= -lrq.SIG_SAT_MICRO:
        return 0
    am = abs(zm)
    eabs = (
        (lrq._EXP_1[am // 1_000_000] * lrq._EXP_2[(am // 10_000) % 100])
        * lrq._EXP_4[(am // 100) % 100]
    ) * lrq._EXP_6[am % 100]
    enegz = 1.0 / eabs if zm >= 0 else eabs
    return int(math.floor((1.0 / (1.0 + enegz)) * 1000000.0 + 0.5))


def _py_train_score(
    texts: dict[int, str], labels: dict[int, int], iters: int, lr: str
) -> dict[int, tuple[int, float, bool]]:
    """Independent pure-Python replay of the full training loop on the
    sparse feature definition (token hash counts + bias), kept deliberately
    in the ROUND-11 shape (per-doc sparse dicts, per-bucket gradient sums)
    so it cross-checks the round-12 dense/driver-update restructure."""
    lr_frac = Fraction(lr)
    feats: dict[int, dict[int, int]] = {}
    for doc, text in texts.items():
        if doc not in labels:
            continue
        fv: dict[int, int] = {lrq.DIM: 1}
        norm = " ".join(text.lower().split())
        for tok in (norm.split(" ") if norm else []):
            idx = _py_portable_hash(tok, "lrq_") % lrq.DIM
            fv[idx] = fv.get(idx, 0) + 1
        feats[doc] = fv
    n = len(labels)
    w = [0] * (lrq.DIM + 1)
    for _ in range(iters):
        s = [0] * (lrq.DIM + 1)
        for doc, fv in feats.items():
            z = sum(cnt * w[i] for i, cnt in fv.items())
            p = _py_sigmoid_micro(z)
            r = labels[doc] * 1_000_000 - p
            for i, cnt in fv.items():
                s[i] += r * cnt
        for i in range(lrq.DIM + 1):
            g = lrq.half_up_py(s[i], 1, n)
            w[i] += lrq.half_up_py(g, lr_frac.numerator, lr_frac.denominator)
    out = {}
    for doc, fv in feats.items():
        z = sum(cnt * w[i] for i, cnt in fv.items())
        out[doc] = (z, _py_sigmoid_micro(z) / 1_000_000.0, z >= 0)
    return out


TEXTS = {
    1: "the quick brown fox jumps over the lazy dog",
    2: "spark spark spark shuffle exchange partition",
    3: "",
    4: "a",
    5: "one two three four five six seven eight nine ten",
    6: "lorem ipsum dolor sit amet consectetur adipiscing elit sed do",
    7: "THE THE the tHe  extra   whitespace\t\ttabs",
    8: "zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll kk jj ii hh gg",
    9: "repeated repeated repeated repeated repeated repeated repeated",
    10: "mixed CASE Tokens With Some punctuation, attached! tokens?",
}
LABELS = {1: 1, 2: 0, 3: 0, 4: 0, 5: 1, 6: 1, 7: 0, 8: 1, 9: 0, 10: 1}


def test_train_score_matches_pure_python_reference(spark):
    """End-to-end pin of the round-12 train_score (dense features, literal
    weights, driver-side exact-integer update) against an independent
    pure-Python replay of the ROUND-11 sparse formulation — bit-identical
    weights imply bit-identical probs/preds."""
    docs = spark.createDataFrame(
        [(k, v) for k, v in TEXTS.items()], "doc_id long, text string"
    )
    labels = spark.createDataFrame(
        [(k, v) for k, v in LABELS.items()], "doc long, label long"
    )
    got = {
        r["doc"]: r
        for r in lrq.train_score(
            docs, labels, id_col="doc_id", text_col="text", iters=4, lr=0.5
        ).collect()
    }
    want = _py_train_score(TEXTS, LABELS, iters=4, lr="0.5")
    assert set(got) == set(want)
    for doc, (_, prob, pred) in want.items():
        assert got[doc]["prob"] == prob, doc
        assert got[doc]["pred"] == pred, doc


def test_dense_features_equal_sparse_features(spark):
    """The dense (doc, label, c0..c64) pivot must be exactly the sparse
    _features ⋈ labels relation with absent buckets densified to zero."""
    docs = spark.createDataFrame(
        [(k, v) for k, v in TEXTS.items()], "doc_id long, text string"
    )
    labels = spark.createDataFrame(
        [(k, v) for k, v in LABELS.items()], "doc long, label long"
    )
    dense = lrq._dense_features(
        docs, labels, id_col="doc_id", text_col="text"
    ).collect()
    sparse = (
        lrq._features(docs, id_col="doc_id", text_col="text")
        .join(labels, "doc")
        .collect()
    )
    want: dict[tuple[int, int], dict[int, int]] = {}
    for r in sparse:
        want.setdefault((r["doc"], r["label"]), {})[r["idx"]] = r["cnt"]
    got = {
        (r["doc"], r["label"]): {
            i: r[f"c{i}"] for i in range(lrq.DIM + 1) if r[f"c{i}"] != 0
        }
        for r in dense
    }
    assert got == want


@pytest.mark.parametrize(
    "x,num,den",
    [
        (0, 1, 7),
        (1, 1, 2),
        (-1, 1, 2),
        (3, 1, 2),
        (-3, 1, 2),
        (999_999, 1, 1_000_000),
        (-999_999, 1, 1_000_000),
        (123_456_789, 3, 7),
        (-123_456_789, 3, 7),
        (10**15, 1, 3),
        (-(10**15), 1, 3),
    ],
)
def test_half_up_py_matches_sql_rendering(x, num, den):
    """The driver-side weight-update arithmetic must equal the DuckDB
    rendering of half_up_div_sql (the oracle's expression text)."""
    import duckdb

    expr = lrq.half_up_div_sql("x", num, den, spark=False)
    got = duckdb.sql(
        f"SELECT {expr} FROM (SELECT {x}::BIGINT AS x)"
    ).fetchone()[0]
    assert lrq.half_up_py(x, num, den) == got


def test_configure_session_honors_cpus_env(spark, monkeypatch):
    """The driver-handed session path sizes shuffle partitions from
    SPARK_GRAFT_CPUS like get_spark does when the variable is set
    (round-11 verdict: _BASE_CONF re-applied a hardcoded 32), and leaves
    the handed-in session's value alone when it is not: the driver host's
    core count says nothing about the session's executor fleet."""
    from stock_streaming_data_pipeline_spark import session as S

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
        S.configure_session(spark)
        assert spark.conf.get(key) == "7"
        spark.conf.set(key, "13")
        monkeypatch.delenv("SPARK_GRAFT_CPUS")
        S.configure_session(spark)
        assert spark.conf.get(key) == "13"
    finally:
        spark.conf.set(key, old)


def test_driver_memory_default_fits_the_host(monkeypatch, tmp_path):
    """The default heap is half of MemTotal (15 GiB → 7680m), never a
    fixed size past the host's RAM; SPARK_GRAFT_DRIVER_MEM still wins."""
    from stock_streaming_data_pipeline_spark import session as S

    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       15728640 kB\nMemFree:  1 kB\n")
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert S._driver_memory(str(meminfo)) == "7680m"
    assert S._driver_memory(str(tmp_path / "missing")) == "4g"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert S._driver_memory(str(meminfo)) == "3g"


def test_no_cachemanager_survivors(spark):
    """Round-12 persist-hygiene sweep: every intra-query reuse
    materialization is a localCheckpoint (released by the ContextCleaner
    on frame GC), so running the formerly-persisting queries must leave
    the session CacheManager EMPTY — nothing squats waiting for a
    clearCache the driver contract never promises (round-11 verdict #4 /
    advice). Exercises all five swapped sites."""
    if getattr(spark, "_jsparkSession", None) is None:
        pytest.skip("needs the py4j JVM session (not under Spark Connect)")
    from stock_streaming_data_pipeline_spark.plans import catalog

    from tests.conftest import SF_CORRECT

    spark.catalog.clearCache()
    cat = catalog.catalog()
    for name in (
        "curation_pipeline",
        "dedup_cdc_chunks",
        "itemset_pair_lift",
        "dedup_longest_shared_substring",
    ):
        cat[name].build(spark, SF_CORRECT).write.format("noop").mode(
            "overwrite"
        ).save()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_train_score_empty_labels(spark):
    """n_docs == 0 skips the gradient loop entirely (the round-11 path
    evaluated a DIV-by-n expression on zero rows); output stays an empty
    frame with the contract schema."""
    docs = spark.createDataFrame(
        [(k, v) for k, v in TEXTS.items()], "doc_id long, text string"
    )
    labels = spark.createDataFrame([], "doc long, label long")
    out = lrq.train_score(
        docs, labels, id_col="doc_id", text_col="text", iters=3, lr=0.5
    )
    assert [f.name for f in out.schema.fields] == ["doc", "label", "prob", "pred"]
    assert out.count() == 0


def test_train_score_doc_in_labels_but_not_docs(spark):
    """A label row whose doc is absent from the docs relation counts
    toward n_docs (the gradient divisor) but never appears in the scored
    output — the sparse-era inner-join semantics."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon")],
        "doc_id long, text string",
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 0), (99, 1)], "doc long, label long"
    )
    out = lrq.train_score(
        docs, labels, id_col="doc_id", text_col="text", iters=2, lr=0.5
    )
    rows = {r["doc"] for r in out.collect()}
    assert rows == {1, 2}
    # and the reference with n = 3 (not 2) agrees on the probabilities
    want = _py_train_score(
        {1: "alpha beta gamma", 2: "delta epsilon"},
        {1: 1, 2: 0, 99: 1},
        iters=2,
        lr="0.5",
    )
    got = {r["doc"]: r for r in out.collect()}
    for doc in (1, 2):
        assert got[doc]["prob"] == want[doc][1]

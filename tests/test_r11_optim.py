"""Round-11 optimization pins: every operator whose INTERNALS changed in
the optimization round gets a focused equivalence witness here, so the
faster formulation can never silently drift from the proven one.

- bpe._merge_fold (per-word array fold) vs bpe._merge_round (the
  relational gaps-and-islands formulation the trainer still uses) on
  adversarial and random symbol sequences — including overlapping
  a==b runs, where greedy keeps exactly the even offsets.
- phash_from_docs BIGINT pivot pipeline vs an independent pure-Python
  integer DCT replay (same frozen tables, exact arithmetic).
- similarity._argmin_code(carry_sub=True) returns the same assignments
  as the plain path plus the row's own subvector.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F


def _py_greedy_merge(syms: list[str], a: str, b: str) -> list[str]:
    """Reference greedy left-to-right merge (independent of both Spark
    formulations)."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def test_merge_fold_equals_merge_round(spark):
    from stock_streaming_data_pipeline_spark.operators import bpe

    rng = random.Random(1107)
    words = ["aaaa", "aaa", "abab", "aba", "xaay", "aabb"] + [
        "".join(rng.choice("ab c")[0] or "a" for _ in range(rng.randint(1, 8)))
        for _ in range(40)
    ]
    words = sorted({w.replace(" ", "a") for w in words if w})
    rules = [("a", "a"), ("a", "b"), ("b", "a"), ("aa", "b"), ("ab", bpe.EOW)]

    df = spark.createDataFrame([(w,) for w in words], "w string")
    arr = F.concat(
        F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
        F.array(F.lit(bpe.EOW)),
    )
    cur = arr
    expected = {w: list(w) + [bpe.EOW] for w in words}
    for a, b in rules:
        cur = bpe._merge_fold(cur, a, b)
        expected = {w: _py_greedy_merge(s, a, b) for w, s in expected.items()}
    got = {r["w"]: list(r["syms"]) for r in df.select("w", cur.alias("syms")).collect()}
    assert got == expected

    # And the relational trainer-side formulation agrees rule-by-rule.
    from pyspark.sql import Window

    syms = df.select(
        "w",
        F.lit(1).cast("long").alias("wc"),
        F.posexplode(arr).alias("p0", "sym"),
    ).select("w", "wc", (F.col("p0") + 1).alias("pos"), "sym")
    wn = Window.partitionBy("w").orderBy("pos")
    for a, b in rules:
        p = syms.withColumn("nxt", F.lead("sym").over(wn)).withColumn(
            "idx", F.row_number().over(wn)
        )
        rule = spark.createDataFrame([(a, b)], "a string, b string")
        syms = bpe._merge_round(p, rule).localCheckpoint(eager=True)
    rel = {}
    for r in syms.orderBy("w", "pos").collect():
        rel.setdefault(r["w"], []).append(r["sym"])
    assert rel == expected


def _py_phash(text: str) -> int:
    """Independent integer DCT replay with the frozen micro-cosine
    tables — the exact spec of the relational pipeline."""
    from stock_streaming_data_pipeline_spark.plans.llmdata import (
        _DCT_TAB,
        _PHASH_PAR,
    )

    raw = text.encode("utf-8")[:64].ljust(64, b" ")
    px = list(raw)
    ct = {}
    for u, x, c in _DCT_TAB:
        ct[(u, x)] = c
    s = {}
    for u in range(4):
        for v in range(4):
            s[(u, v)] = sum(
                px[i] * ct[(u, i % 8)] * ct[(v, i // 8)] for i in range(64)
            )
    sp = sum(px)
    assert s[(0, 0)] == sp * 10**12  # the DC identity the pipeline relies on
    h = 0
    for u, v, _bit, w, cc in _PHASH_PAR:
        if 64 * s[(u, v)] - sp * cc > 0:
            h += w
    return h


def test_phash_bigint_pipeline_matches_integer_replay(spark):
    from stock_streaming_data_pipeline_spark.plans.llmdata import phash_from_docs

    rng = random.Random(42)
    texts = [
        "",
        "a",
        "abcdefgh" * 8,
        "The quick brown fox jumps over the lazy dog",
    ] + [
        "".join(chr(rng.randint(32, 126)) for _ in range(rng.randint(0, 90)))
        for _ in range(20)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )
    got = {
        r["media_id"]: r["phash"]
        for r in phash_from_docs(spark, docs).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _py_phash(t), f"doc {i}: {t!r}"


def test_viterbi_fold_matches_bruteforce(spark):
    """The folded per-word Viterbi DP must pick, for every word, the
    segmentation maximizing the integer score sum, with ties broken to
    the LONGEST last piece at every cell (the relational formulation's
    (sc desc, pos asc) rule) — pinned against exhaustive enumeration."""
    from stock_streaming_data_pipeline_spark.operators import unigram

    rng = random.Random(2024)
    words = ["a", "ab", "abc", "abab", "aaaa", "abcdefgh"] + [
        "".join(rng.choice("abc") for _ in range(rng.randint(1, 8)))
        for _ in range(30)
    ]
    words = sorted(set(words))
    pieces = sorted(
        {w[s : s + l] for w in words for s in range(len(w)) for l in (1, 2, 3, 4)}
        - {""}
    )
    lp = {p: -rng.randint(1, 30) * 1_000_000 for p in pieces}
    # Drop some multi-char pieces so not everything is in vocab.
    vocab_rows = [
        (p, lp[p]) for p in pieces if len(p) == 1 or rng.random() < 0.6
    ]
    vocab_lp = dict(vocab_rows)

    def brute(w: str) -> list[str]:
        # DP identical to the spec: best[i] = max over l=1..4 of
        # best[i-l] + lp(piece), ties -> smallest predecessor (longest
        # last piece); deterministic reconstruction.
        best = {0: (0, [])}
        for i in range(1, len(w) + 1):
            cand = []
            for l in range(1, 5):
                p = i - l
                if p < 0 or p not in best:
                    continue
                piece = w[p:i]
                if piece not in vocab_lp:
                    continue
                cand.append((best[p][0] + vocab_lp[piece], -p, best[p][1] + [piece]))
            if cand:
                sc, _np, seg = max(cand, key=lambda c: (c[0], c[1]))
                best[i] = (sc, seg)
        return best[len(w)][1]

    wdf = spark.createDataFrame([(w, 1) for w in words], "w string, wc long")
    vdf = spark.createDataFrame(vocab_rows, "piece string, lp long")
    got = {
        r["w"]: r["seg"].split(" ")
        for r in unigram._viterbi_segment(wdf, vdf).collect()
    }
    for w in words:
        assert got[w] == brute(w), f"word {w!r}"


def test_piece_len_guard_is_a_real_exception(monkeypatch):
    from stock_streaming_data_pipeline_spark.operators import unigram

    monkeypatch.setattr(unigram, "MAX_PIECE_LEN", 10)
    with pytest.raises(ValueError, match="MAX_PIECE_LEN"):
        unigram._check_piece_len()


def test_argmin_code_carry_sub(spark):
    from stock_streaming_data_pipeline_spark.operators.similarity import (
        _argmin_code,
    )

    rng = random.Random(7)
    rows = spark.createDataFrame(
        [
            (k, m, [round(rng.uniform(-1, 1), 3) for _ in range(4)])
            for k in range(12)
            for m in range(2)
        ],
        "vec_id long, m int, sub array<double>",
    )
    cb = spark.createDataFrame(
        [
            (m, c, [round(rng.uniform(-1, 1), 3) for _ in range(4)])
            for m in range(2)
            for c in range(4)
        ],
        "m int, code int, cbvec array<double>",
    )
    plain = {
        (r["vec_id"], r["m"]): r["code"]
        for r in _argmin_code(rows, cb, key_col="vec_id").collect()
    }
    carried = _argmin_code(rows, cb, key_col="vec_id", carry_sub=True).collect()
    assert {(r["vec_id"], r["m"]): r["code"] for r in carried} == plain
    subs = {(r["vec_id"], r["m"]): list(r["sub"]) for r in rows.collect()}
    for r in carried:
        assert list(r["sub"]) == subs[(r["vec_id"], r["m"])]


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-q"]))

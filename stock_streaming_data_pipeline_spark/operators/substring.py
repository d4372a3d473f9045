"""Longest-shared-substring dedup — contiguous-plagiarism detection.

Shingle-set dedup (n-gram Jaccard, MinHash) DILUTES a single long shared
passage across the whole document's shingle set: two long docs sharing one
verbatim 200-char paragraph have near-zero Jaccard. The operator class that
catches contiguous plagiarism keys on the SHARED SUBSTRING itself:

1. candidates — pairs sharing any L-gram. Sharing an L-gram is EXACTLY the
   predicate "longest common substring >= L" (an L-gram of one doc equal to
   an L-gram of the other IS a common substring of length L; conversely a
   common substring of length >= L contains one), so the candidate stage is
   not a heuristic: it is the predicate, computed as a map-side position
   explode that collapses to (doc, gram-hash) fingerprints and one
   posting-list equi-join — the exact-dedup plan shape (a hot fingerprint
   means true mass duplication, same remedy as exact dedup). Bandwidth at
   the 100 TB tier can be cut ~w-fold by winnowing the fingerprints
   (Schleimer et al., SIGMOD 2003) at the cost of the selection logic; the
   exact explode keeps the oracle contract sharp and its row count is the
   same O(total chars) the CDC chunker already carries.
2. verify — the exact longest-common-substring LENGTH per candidate pair,
   via a suffix automaton (Blumer et al. 1985): build on text_a in O(|a|),
   stream text_b through it in O(|b|) — no O(n*m) DP. Runs Arrow-batched
   (mapInPandas) over the bounded candidate relation only; the DuckDB-side
   oracle recomputes the same lengths with an INDEPENDENT algorithm
   (binary search over exact gram-set intersections), so the two engines
   cross-check the algorithm, not just the plumbing.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.operators.checkpoint import materialize
from stock_streaming_data_pipeline_spark.operators.dedup import (
    portable_hash,
    sql_portable_hash,
)
from stock_streaming_data_pipeline_spark.tables import duck_connection, values_sql


def lcs_length(a: str, b: str) -> int:
    """Exact longest-common-substring length via the suffix automaton of
    ``a`` (textbook online construction), streaming ``b`` through it.
    O(|a| + |b|) time, O(|a|) states."""
    # suffix automaton of a
    sa_len = [0]
    sa_link = [-1]
    trans: list[dict[str, int]] = [{}]
    last = 0
    for ch in a:
        cur = len(sa_len)
        sa_len.append(sa_len[last] + 1)
        sa_link.append(-1)
        trans.append({})
        p = last
        while p != -1 and ch not in trans[p]:
            trans[p][ch] = cur
            p = sa_link[p]
        if p == -1:
            sa_link[cur] = 0
        else:
            q = trans[p][ch]
            if sa_len[p] + 1 == sa_len[q]:
                sa_link[cur] = q
            else:
                clone = len(sa_len)
                sa_len.append(sa_len[p] + 1)
                sa_link.append(sa_link[q])
                trans.append(dict(trans[q]))
                while p != -1 and trans[p].get(ch) == q:
                    trans[p][ch] = clone
                    p = sa_link[p]
                sa_link[q] = clone
                sa_link[cur] = clone
        last = cur
    # stream b: longest match ending at each position
    v = 0
    cur_len = 0
    best = 0
    for ch in b:
        while v and ch not in trans[v]:
            v = sa_link[v]
            cur_len = sa_len[v]
        if ch in trans[v]:
            v = trans[v][ch]
            cur_len += 1
        else:
            v = 0
            cur_len = 0
        if cur_len > best:
            best = cur_len
    return best


def lgram_fingerprints(
    df: DataFrame, *, id_col: str, text_col: str, gram: int
) -> DataFrame:
    """Distinct ``(doc, fp)`` where fp ranges over the md5-family hashes
    of every ``gram``-length substring. Docs shorter than ``gram`` emit
    nothing (sequence() would otherwise step -1 — the CDC lesson)."""
    docs = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("txt")).filter(
        F.length("txt") >= gram
    )
    return (
        docs.select(
            "doc",
            F.explode(F.sequence(F.lit(gram), F.length("txt"))).alias("pos"),
            "txt",
        )
        .select(
            "doc",
            portable_hash(
                F.expr(f"substring(txt, pos - {gram - 1}, {gram})"), salt="lss_"
            ).alias("fp"),
        )
        .distinct()
    )


def longest_shared_substring_pairs(
    df: DataFrame, *, id_col: str, text_col: str, min_len: int
) -> DataFrame:
    """``(doc_a, doc_b, lcs_len)`` for every pair whose longest common
    substring is at least ``min_len`` characters, with the EXACT length.

    Candidate pairs (shared ``min_len``-gram — exactly the target
    predicate) come from one posting-list equi-join over the fingerprint
    relation; the suffix-automaton verify then touches candidates only.
    The fingerprint relation is materialized once for the self-join (the
    CDC lesson: without it the corpus re-scans once per join side)."""
    fps = materialize(
        lgram_fingerprints(df, id_col=id_col, text_col=text_col, gram=min_len),
        eager=True,
    )
    a = fps.select(F.col("doc").alias("doc_a"), "fp")
    b = fps.select(F.col("doc").alias("doc_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    docs = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("txt"))
    joined = (
        pairs.join(docs.withColumnRenamed("doc", "doc_a"), "doc_a")
        .withColumnRenamed("txt", "txt_a")
        .join(docs.withColumnRenamed("doc", "doc_b"), "doc_b")
        .withColumnRenamed("txt", "txt_b")
    )

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            lens = [
                lcs_length(ta, tb)
                for ta, tb in zip(pdf["txt_a"], pdf["txt_b"])
            ]
            out = pdf[["doc_a", "doc_b"]].copy()
            out["lcs_len"] = pd.array(lens, dtype="int64")
            yield out

    return (
        joined.mapInPandas(
            verify, schema="doc_a long, doc_b long, lcs_len long"
        )
        .filter(F.col("lcs_len") >= min_len)
    )


def lcs_length_gramsets(a: str, b: str, *, lo: int) -> int:
    """INDEPENDENT exact LCS length for the oracle side: binary search on
    the answer, testing each length by exact string-set intersection of
    all n-grams (no hashing, no automaton — different failure modes from
    :func:`lcs_length` by construction). ``lo`` is a known-feasible
    length (candidates share a ``lo``-gram). Returns 0 if even ``lo``
    fails."""

    def shares(n: int) -> bool:
        if n > min(len(a), len(b)):
            return False
        grams = {a[i : i + n] for i in range(len(a) - n + 1)}
        return any(b[i : i + n] in grams for i in range(len(b) - n + 1))

    if not shares(lo):
        return 0
    lo_ok, hi = lo, min(len(a), len(b))
    while lo_ok < hi:
        mid = (lo_ok + hi + 1) // 2
        if shares(mid):
            lo_ok = mid
        else:
            hi = mid - 1
    return lo_ok


def sql_lgram_candidate_pairs(*, corpus_select: str, gram: int) -> str:
    """DuckDB replay of the candidate stage only (shared ``gram``-gram
    pairs): used by tests; the full query oracle computes exact lengths
    in Python and freezes a VALUES literal."""
    gh = sql_portable_hash(f"substr(txt, p.pos - {gram - 1}, {gram})", salt="lss_")
    return f"""
WITH corpus AS ({corpus_select}),
fp AS (
  SELECT DISTINCT doc, {gh} AS fp
  FROM corpus, unnest(range({gram}, length(txt) + 1)) AS p(pos)
)
SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc < b.doc
"""


def sql_longest_shared_substring_expected(
    sf_dir: str,
    *,
    corpus_select_duck: str,
    min_len: int,
) -> str:
    """Literal-VALUES oracle for :func:`longest_shared_substring_pairs`.

    Candidates come from DuckDB running the same exact shared-L-gram
    predicate (:func:`sql_lgram_candidate_pairs` — a predicate, not a
    heuristic, so engine-shared by construction); the LENGTH of each
    pair's longest common substring is then recomputed with the
    INDEPENDENT gram-set binary search (:func:`lcs_length_gramsets`),
    giving the automaton a cross-algorithm check on every driver run.
    Cost is bounded by the corpus the driver checks at; production runs
    never call this. ``corpus_select_duck`` must yield (doc, txt) and
    may reference the testdata tables by name."""
    con = duck_connection(sf_dir)
    cand_sql = sql_lgram_candidate_pairs(
        corpus_select=corpus_select_duck, gram=min_len
    )
    pairs = con.execute(cand_sql).fetchall()
    texts = dict(con.execute(corpus_select_duck).fetchall())
    con.close()

    out: list[tuple[int, int, int]] = []
    for a, b in sorted(pairs):
        n = lcs_length_gramsets(texts[a], texts[b], lo=min_len)
        if n >= min_len:
            out.append((a, b, n))
    return values_sql("doc_a BIGINT, doc_b BIGINT, lcs_len BIGINT", out)

"""Document deduplication operators (exact, n-gram Jaccard, MinHash-LSH,
SimHash) — the LLM-training-data surface (BASELINE.json north star).

All hashing uses an engine-portable primitive — the top 60 bits of
``md5(salt || token)`` as a signed BIGINT — so every signature computed
here is bit-reproducible in any engine that has md5 (the DuckDB oracles
recompute them independently).

Scale design (100 TB):
- exact dedup: one hash-groupBy, fully partial-aggregatable.
- n-gram Jaccard / containment similarity joins: EXACT, one
  inverted-index count join (posting lists → pair counts) — see
  _pair_counts.
- MinHash-LSH: linear signature pass + band-bucket equi-join + exact
  verification of candidates only. The scale path; recall < 1 by design,
  so it carries no SQL oracle (driver records rows-only).
- SimHash: linear signature pass; pair search is pigeonhole-banded
  (4 chunks of 15 bits → complete for hamming <= 3), so the pair set is
  EXACT and oracle-checkable.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.operators.checkpoint import materialize
from stock_streaming_data_pipeline_spark.tables import (
    duck_connection,
    fan_out,
    spark_round,
    values_sql,
)

MERSENNE31 = 2_147_483_647  # 2^31 - 1, fingerprint modulus


def portable_hash(col: Column, salt: str = "") -> Column:
    """Top 60 bits of md5 as BIGINT — identical in Spark and DuckDB."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), col)), 1, 15), 16, 10
    ).cast("long")


def sql_portable_hash(expr: str, salt: str = "") -> str:
    return f"('0x' || substr(md5('{salt}' || {expr}), 1, 15))::BIGINT"


def py_portable_hash(value, salt: str = "") -> int:
    """The same hash in Python, over ``str(value)``."""
    return int(hashlib.md5(f"{salt}{value}".encode()).hexdigest()[:15], 16)


def _norm_text(text: Column) -> Column:
    """Lowercased, whitespace-collapsed, trimmed text."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def tokens(text: Column) -> Column:
    """Whitespace tokenization, lowercased, empties dropped.

    Built from native expressions only (normalize-then-split) — a
    higher-order ``F.filter`` lambda would drop the whole expression out
    of whole-stage codegen into per-element interpreted evaluation
    (measured ~30x slower on the shingling pipeline)."""
    norm = _norm_text(text)
    return F.when(norm == "", F.array().cast("array<string>")).otherwise(
        F.split(norm, " ")
    )


SQL_TOKENS = "list_filter(regexp_split_to_array(lower({text}), '\\s+'), t -> t <> '')"


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the text (empty when < n tokens).

    Implemented as ONE native regex pass: a token-anchored lookahead
    ``(?<![^ ])(?=(tok tok tok))`` over the normalized text emits every
    overlapping n-gram without materializing token arrays or running
    per-element lambdas — the whole expression stays inside whole-stage
    codegen (the previous transform/slice/concat_ws formulation was
    interpreted per shingle: ~28us/shingle, the dominant cost of every
    dedup query)."""
    gram = " ".join(["[^ ]+"] * n)
    pattern = f"(?<![^ ])(?=({gram}))"
    return F.array_distinct(F.regexp_extract_all(_norm_text(text), F.lit(pattern), 1))


def all_shingles(text: Column, n: int = 3) -> Column:
    """Every overlapping word n-gram occurrence (NOT deduplicated — the
    repetition-analysis form of :func:`shingles`; same single-regex-pass
    codegen shape)."""
    gram = " ".join(["[^ ]+"] * n)
    pattern = f"(?<![^ ])(?=({gram}))"
    return F.regexp_extract_all(_norm_text(text), F.lit(pattern), 1)


def sql_all_shingles(text: str, n: int = 3) -> str:
    toks = SQL_TOKENS.format(text=text)
    return (
        f"list_transform(range(1, len({toks}) - {n - 1} + 1), "
        f"i -> array_to_string(({toks})[i : i + {n - 1}], ' '))"
    )


def sql_shingles(text: str, n: int = 3) -> str:
    toks = SQL_TOKENS.format(text=text)
    return (
        f"list_distinct(list_transform(range(1, len({toks}) - {n - 1} + 1), "
        f"i -> array_to_string(({toks})[i : i + {n - 1}], ' ')))"
    )


def exact_duplicates(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup via content hash: one row per distinct content with the
    keeper (min id) and the number of copies."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _pair_counts(
    df: DataFrame, *, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(doc_b, doc_a, common, n_a, n_b) for every ordered doc pair
    (doc_a < doc_b) sharing at least one distinct n-gram shingle:
    ``common`` = |A∩B|, ``n_a``/``n_b`` = |A|, |B|. The shared front half
    of the exact shingle-overlap joins; callers only score.

    Inverted index via posting lists: explode shingles, ONE groupBy on
    the shingle string into per-shingle posting lists, generate ordered
    doc pairs map-side from each list, COUNT common per pair
    (partial-aggregated). The shingle STRINGS cross the wire exactly once
    (the posting groupBy); the pair stream is pure (long, long) rows.
    Measured 1.7× faster than the previous string-keyed self-join at the
    sf1 tier (2.3 s vs 3.9 s) with bit-identical output, and 3× faster
    than PPJoin-style prefix filtering on this corpus (SCALE.md). Task
    memory is bounded by the hottest shingle's document frequency
    (8 bytes/doc-id in one posting list); the (df choose 2) pair blowup
    is inherent to EXACT overlap whatever the join strategy.
    """
    df = fan_out(df)  # shingling is CPU-bound: spread a 1-file scan wide
    # One shingle computation total: sizes derive from the SAME exploded
    # rows (a size()+explode() pair would inline the shingle subtree
    # twice after projection collapse — measured 2.5x slower).
    sh = df.select(
        F.col(id_col).alias("doc"),
        F.explode(shingles(F.col(text_col), n)).alias("sh"),
    )
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    # Posting lists: the shingle strings shuffle ONCE; singleton shingles
    # (most of the vocabulary) die here and never produce a pair row.
    # Pair generation is two chained generators — map-side, no wide rows
    # — and the pair-count shuffle carries (long, long) keys only.
    posting = (
        sh.groupBy("sh")
        .agg(F.collect_list("doc").alias("docs"))
        .filter(F.size("docs") > 1)
        .select("docs")
    )
    common = (
        posting.select(F.explode("docs").alias("doc_a"), "docs")
        .select("doc_a", F.explode("docs").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return common.join(
        sizes.withColumnsRenamed({"doc": "doc_a", "n_sh": "n_a"}), "doc_a"
    ).join(sizes.withColumnsRenamed({"doc": "doc_b", "n_sh": "n_b"}), "doc_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity join: every doc pair whose
    distinct-shingle Jaccard ``|A∩B| / |A∪B|`` clears ``threshold``,
    scored from :func:`_pair_counts`' overlap counts."""
    jaccard = F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))
    return (
        _pair_counts(df, id_col=id_col, text_col=text_col, n=n)
        .filter(jaccard >= threshold)
        .withColumn("jaccard", F.round(jaccard, 6))
        .select("doc_a", "doc_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Directional n-gram CONTAINMENT near-dup join: a pair qualifies when
    ``|A∩B| / min(|A|, |B|)`` clears the threshold — i.e. when one
    document's shingle set is (nearly) a subset of the other's. This is
    the asymmetric sibling of :func:`ngram_jaccard_pairs` and catches the
    case Jaccard structurally cannot: a short document embedded verbatim
    inside a much longer one (quote farms, boilerplate wrappers,
    truncated mirrors), where the union in Jaccard's denominator is
    dominated by the long side and the score collapses toward
    ``|A|/|B|`` no matter how complete the overlap is.

    Same overlap counts as the Jaccard join (:func:`_pair_counts`); only
    the final scoring arithmetic differs. Emits both directions
    (``cont_ab`` = fraction of A's shingles found in B, ``cont_ba``
    symmetric) so the consumer can tell container from contained; the
    filter is on the max of the two.
    """
    return (
        _pair_counts(df, id_col=id_col, text_col=text_col, n=n)
        .filter(
            F.greatest(
                F.col("common") / F.col("n_a"), F.col("common") / F.col("n_b")
            )
            >= threshold
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("common") / F.col("n_a"), 6).alias("cont_ab"),
            F.round(F.col("common") / F.col("n_b"), 6).alias("cont_ba"),
        )
    )


def _hashed_shingle_rows(
    df: DataFrame, *, id_col: str, text_col: str, n: int, portable: bool
) -> DataFrame:
    """(doc, h): one 64-bit hash per distinct shingle occurrence-set row.

    portable=False swaps md5 for JVM-native xxhash64 (~2x faster linear
    pass) — fine whenever cross-engine reproducibility isn't required
    (the LSH pair search has no SQL oracle anyway)."""
    df = fan_out(df)  # shingle+hash passes are CPU-bound: use every core
    sh_rows = df.select(
        F.col(id_col).alias("doc"),
        F.explode(shingles(F.col(text_col), n)).alias("sh"),
    )
    base_hash = (
        portable_hash(F.col("sh"), salt="mh_") if portable else F.xxhash64("sh")
    )
    return sh_rows.select("doc", base_hash.alias("h"))


def _minhash_aggs(num_perm: int) -> list[Column]:
    """K MIN aggregates over a universal-hash family derived from one base
    hash: mask to 31 bits, then h_k(x) = (a_k*x + b_k) mod (2^31-1) —
    odd multipliers, values stay far below 2^63 (ANSI overflow-safe),
    engine-portable arithmetic.

    Grouped by doc over :func:`_hashed_shingle_rows`, these are the
    signatures: each shingle is hashed ONCE by a native expression and
    the K permutations are plain integer-mixing columns, so one
    partial-aggregated groupBy computes all K MIN buffers inside
    whole-stage codegen (an array_min(transform(...)) form runs K
    interpreted lambda passes per document, measured ~10x slower).
    Deliberately NO collect_set next to these MINs: one
    TypedImperativeAggregate forces the whole aggregate onto the
    non-codegen ObjectHashAggregate path (minhash_lsh_pairs builds the
    hashed sets in a separate agg)."""
    h31 = F.col("h").bitwiseAND(F.lit(0x7FFFFFFF))
    return [
        # Plain % instead of pmod (round 12): the operand is provably
        # non-negative (h31 < 2^31, k < num_perm ⇒ h31*(2k+1)+b_k <
        # 2^31·129 + 2^36 < 2^39), where % == pmod value-for-value but
        # costs one modulo instead of two — this runs num_perm times per
        # shingle row in the hottest aggregate. The DuckDB oracle already
        # renders the same arithmetic with %.
        F.min(
            (h31 * F.lit(2 * k + 1) + F.lit(k * 2654435761)) % F.lit(MERSENNE31)
        ).alias(f"mh_{k}")
        for k in range(num_perm)
    ]


_BUCKET_P = 1_000_003  # chained-fold multiplier for band compaction


def _band_bucket(mh_cols: list[Column]) -> Column:
    """Compact a band's minhash row values into one BIGINT join key with a
    chained modular fold ``acc = (acc * P + mh) mod M31`` — plain integer
    arithmetic (portable to any engine; never overflows: acc < 2^31,
    acc*P < 2^51) instead of Spark's murmur ``F.hash``, so the DuckDB
    oracle reproduces the bucket assignment bit-for-bit. Collisions merge
    buckets identically in both engines and are removed by the exact
    verification step either way."""
    acc: Column = F.lit(0).cast("long")
    for c in mh_cols:
        # % == pmod here (acc < 2^31 and mh >= 0 ⇒ operand in [0, 2^51)),
        # one modulo cheaper per fold step; the oracle renders %.
        acc = (acc * F.lit(_BUCKET_P) + c) % F.lit(MERSENNE31)
    return acc


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """MinHash + LSH banding + exact verification of candidates.

    bands=16 × rows=4 over 64 perms → P(candidate) ≈ 1-(1-s^4)^16, steep
    around s≈0.5-0.6. Output = candidate pairs whose Jaccard over the
    HASHED shingle sets clears the threshold — verification compares
    64-bit shingle hashes instead of the raw strings (cheaper
    array_intersect, smaller shuffle); a cross-doc hash collision could
    in principle nudge a Jaccard by 1/|set| (P ~ |vocab|^2 / 2^64 —
    negligible), which sits inside this operator's documented
    approximate-recall contract anyway. False positives are eliminated;
    false negatives are the LSH tradeoff.
    """
    # The hashed shingle rows feed the signature aggregate (banding side)
    # AND the hashed-set aggregate (verification side). Deliberately NOT
    # persisted: the exploded relation is ~10× the input size, and
    # caching it (serialize + store + read) measured SLOWER than just
    # running the cheap scan→explode→hash projection twice (sf0.1:
    # 2.27 s persisted vs 1.87 s recomputed) — and at cluster scale a
    # 10×-inflated cache is exactly the memory hog that evicts hotter
    # data. Recompute is deterministic (md5/xxh64 of the same rows).
    hashed = _hashed_shingle_rows(
        df, id_col=id_col, text_col=text_col, n=n, portable=portable
    )
    sigs = hashed.groupBy("doc").agg(*_minhash_aggs(num_perm))
    # Bucket join carries ONLY (doc, band, bucket) — the (potentially large)
    # shingle arrays are re-attached after candidate-pair dedup, so the
    # shuffle volume is O(docs*bands) ids, not O(docs*bands*shingles).
    buckets = _band_buckets(sigs, num_perm=num_perm, bands=bands)
    a, b = buckets.alias("a"), buckets.alias("b")
    # Materialized once (tiny: id pairs) so the candidate relation can
    # prune the verification pass below without re-running the
    # signature/banding subtree.
    cands = materialize(
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"]),
        eager=True,
    )
    # Verification-side pruning (round 12, guide §3.2): only docs that
    # appear in a candidate pair ever reach the exact-Jaccard join, so the
    # second shingle+hash+collect_set pass runs over the candidate docs
    # only — verification cost scales with the near-dup candidate count,
    # not the corpus (sf0.1: 521 of 5000 docs). The semi-join's right side
    # is the checkpointed candidate ids; AQE sees its true (small) size
    # and picks a broadcast semi-join, degrading gracefully to a shuffle
    # if a pathological parameterization makes candidates huge. Results
    # are unchanged: sets rows for non-candidate docs were dropped by the
    # inner joins below anyway.
    cand_docs = (
        cands.select(F.col("doc_a").alias("doc"))
        .union(cands.select(F.col("doc_b")))
        .distinct()
        .withColumnRenamed("doc", id_col)
    )
    hashed_v = _hashed_shingle_rows(
        df.join(cand_docs, id_col, "left_semi"),
        id_col=id_col,
        text_col=text_col,
        n=n,
        portable=portable,
    )
    # Hashed sets in their own tiny aggregate (collect_set is a
    # TypedImperativeAggregate — kept away from the 64-min codegen agg).
    # No sort: array_intersect sizes are order-independent, and the
    # per-doc sort was measured ~10% of the whole query.
    sets = hashed_v.groupBy("doc").agg(F.collect_set("h").alias("hset"))
    cands = (
        cands.join(
            sets.withColumnsRenamed({"doc": "doc_a", "hset": "hs_a"}), "doc_a"
        ).join(sets.withColumnsRenamed({"doc": "doc_b", "hset": "hs_b"}), "doc_b")
    )
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size("hs_a") + F.size("hs_b") - inter
    return (
        # Filter on the RAW ratio (matching every SQL oracle's WHERE);
        # rounding happens only for the output column — a rounded-first
        # filter would admit pairs in [threshold - 5e-7, threshold).
        cands.filter(inter / union >= threshold)
        .withColumn("jaccard", F.round(inter / union, 6))
        .select("doc_a", "doc_b", "jaccard")
    )


def _band_buckets(sigs: DataFrame, *, num_perm: int, bands: int) -> DataFrame:
    """(doc, band, bucket) rows from a minhash-signature relation — the
    shared banding step of the single- and cross-corpus LSH variants."""
    rows_per_band = num_perm // bands
    band_cols = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                _band_bucket(
                    [F.col(f"mh_{j * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("bucket"),
            )
            for j in range(bands)
        ]
    )
    return sigs.select("doc", F.explode(band_cols).alias("b")).select(
        "doc", "b.band", "b.bucket"
    )


def minhash_lsh_pairs_cross(
    left: DataFrame,
    right: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    portable: bool = True,
) -> DataFrame:
    """Cross-corpus MinHash-LSH near-dup pairs ``(doc_a from left, doc_b
    from right, jaccard)`` — the incremental-ingest / train-vs-eval form
    of :func:`minhash_lsh_pairs`: a new batch (left) is checked against
    an existing corpus (right) without ever comparing right-vs-right.

    Same scale shape as the single-corpus form: linear signature passes
    per side (identical salt → comparable signatures), band buckets carry
    only (doc, band, bucket) ids into the cross equi-join, and only
    bucket-colliding cross pairs are exact-verified on their hashed
    shingle sets. At 100 TB the right corpus's signatures/buckets are
    computed once and reused across ingest batches."""
    # Not persisted / not sorted for the same measured reasons as
    # minhash_lsh_pairs: recomputing the cheap hash projection beats
    # caching a 10×-inflated exploded relation, and intersect sizes are
    # order-independent.
    hashed_l = _hashed_shingle_rows(
        left, id_col=id_col, text_col=text_col, n=n, portable=portable
    )
    hashed_r = _hashed_shingle_rows(
        right, id_col=id_col, text_col=text_col, n=n, portable=portable
    )
    bk_l = _band_buckets(
        hashed_l.groupBy("doc").agg(*_minhash_aggs(num_perm)),
        num_perm=num_perm,
        bands=bands,
    )
    bk_r = _band_buckets(
        hashed_r.groupBy("doc").agg(*_minhash_aggs(num_perm)),
        num_perm=num_perm,
        bands=bands,
    )
    a, b = bk_l.alias("a"), bk_r.alias("b")
    cands = materialize(
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"]),
        eager=True,
    )
    # Same verification-side pruning as minhash_lsh_pairs (round 12,
    # guide §3.2): each side's exact-verification pass re-shingles only
    # its candidate docs, not its whole corpus.
    def _cand_side(src: DataFrame, col: str) -> DataFrame:
        ids = cands.select(F.col(col).alias(id_col)).distinct()
        return src.join(ids, id_col, "left_semi")

    hashed_vl = _hashed_shingle_rows(
        _cand_side(left, "doc_a"),
        id_col=id_col, text_col=text_col, n=n, portable=portable,
    )
    hashed_vr = _hashed_shingle_rows(
        _cand_side(right, "doc_b"),
        id_col=id_col, text_col=text_col, n=n, portable=portable,
    )
    sets_l = hashed_vl.groupBy("doc").agg(F.collect_set("h").alias("hs_a"))
    sets_r = hashed_vr.groupBy("doc").agg(F.collect_set("h").alias("hs_b"))
    cands = cands.join(
        sets_l.withColumnRenamed("doc", "doc_a"), "doc_a"
    ).join(sets_r.withColumnRenamed("doc", "doc_b"), "doc_b")
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size("hs_a") + F.size("hs_b") - inter
    return (
        # Filter on the RAW ratio (matching every SQL oracle's WHERE);
        # rounding happens only for the output column — a rounded-first
        # filter would admit pairs in [threshold - 5e-7, threshold).
        cands.filter(inter / union >= threshold)
        .withColumn("jaccard", F.round(inter / union, 6))
        .select("doc_a", "doc_b", "jaccard")
    )


def sql_minhash_lsh_pairs(
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    table: str = "documents",
) -> str:
    """DuckDB mirror of :func:`minhash_lsh_pairs` with ``portable=True``:
    replays the md5 base hash, the (a_k*x+b_k) mod M31 permutation family,
    the chained-modular band buckets, candidate generation, and the exact
    hashed-set Jaccard verification — the full LSH pipeline, independently
    recomputed, so the 'approximate' operator still gets a hash-exact
    differential check (both engines make identical banding decisions)."""
    rows_per_band = num_perm // bands
    sh = sql_shingles(text_col, n)
    base = sql_portable_hash("s", salt="mh_")
    mh_exprs = ",\n    ".join(
        f"min((h31 * {2 * k + 1} + {k * 2654435761}) % {MERSENNE31}) AS mh_{k}"
        for k in range(num_perm)
    )

    def bucket_expr(j: int) -> str:
        acc = "0"
        for r in range(rows_per_band):
            acc = f"(({acc}) * {_BUCKET_P} + mh_{j * rows_per_band + r}) % {MERSENNE31}"
        return acc

    band_structs = ",\n      ".join(
        f"struct_pack(band := {j}, bucket := {bucket_expr(j)})"
        for j in range(bands)
    )
    return f"""
WITH sh AS (
  SELECT {id_col} AS doc, unnest({sh}) AS s FROM {table}
),
h AS (
  SELECT doc, {base} & 2147483647 AS h31, {base} AS h FROM sh
),
sig AS (
  SELECT doc,
    {mh_exprs}
  FROM h GROUP BY doc
),
bk AS (
  SELECT doc, b.band AS band, b.bucket AS bucket
  FROM (
    SELECT doc, unnest([
      {band_structs}
    ]) AS b
    FROM sig
  )
),
cands AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b
  FROM bk a JOIN bk b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
  GROUP BY 1, 2
),
hset AS (
  SELECT doc, list(DISTINCT h) AS hs FROM h GROUP BY doc
)
SELECT doc_a, doc_b,
       round(CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
             / (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs))),
             6) AS jaccard
FROM cands
JOIN hset ha ON ha.doc = doc_a
JOIN hset hb ON hb.doc = doc_b
WHERE CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
      / (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs)))
      >= {threshold}
"""


def sql_minhash_lsh_pairs_cross(
    left_select: str,
    right_select: str,
    *,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> str:
    """DuckDB mirror of :func:`minhash_lsh_pairs_cross`. ``left_select`` /
    ``right_select`` must yield columns ``(doc, txt)``."""
    rows_per_band = num_perm // bands
    sh = sql_shingles("txt", n)
    base = sql_portable_hash("s", salt="mh_")
    mh_exprs = ",\n    ".join(
        f"min((h31 * {2 * k + 1} + {k * 2654435761}) % {MERSENNE31}) AS mh_{k}"
        for k in range(num_perm)
    )

    def bucket_expr(j: int) -> str:
        acc = "0"
        for r in range(rows_per_band):
            acc = f"(({acc}) * {_BUCKET_P} + mh_{j * rows_per_band + r}) % {MERSENNE31}"
        return acc

    band_structs = ",\n      ".join(
        f"struct_pack(band := {j}, bucket := {bucket_expr(j)})"
        for j in range(bands)
    )

    def side(tag: str, select: str) -> str:
        return f"""sh_{tag} AS (
  SELECT doc, unnest({sh}) AS s FROM ({select})
),
h_{tag} AS (
  SELECT doc, {base} & 2147483647 AS h31, {base} AS h FROM sh_{tag}
),
sig_{tag} AS (
  SELECT doc,
    {mh_exprs}
  FROM h_{tag} GROUP BY doc
),
bk_{tag} AS (
  SELECT doc, b.band AS band, b.bucket AS bucket
  FROM (
    SELECT doc, unnest([
      {band_structs}
    ]) AS b
    FROM sig_{tag}
  )
),
hset_{tag} AS (
  SELECT doc, list(DISTINCT h) AS hs FROM h_{tag} GROUP BY doc
)"""

    return f"""
WITH {side('l', left_select)},
{side('r', right_select)},
cands AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b
  FROM bk_l a JOIN bk_r b
    ON a.band = b.band AND a.bucket = b.bucket
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
             / (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs))),
             6) AS jaccard
FROM cands
JOIN hset_l ha ON ha.doc = doc_a
JOIN hset_r hb ON hb.doc = doc_b
WHERE CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
      / (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs)))
      >= {threshold}
"""


def sql_minhash_lsh_pairs_xxh64_expected(
    sf_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    table: str = "documents",
) -> str:
    """Literal-VALUES oracle for :func:`minhash_lsh_pairs` with
    ``portable=False`` (JVM-native ``xxhash64`` base hash). DuckDB has
    no Spark-compatible xxhash64, so the expected pairs are recomputed
    HERE at SQL-generation time — the OPQ learned-rotation precedent —
    from three independent pieces:

    - shingling via the already-differentially-trusted DuckDB tokenizer
      mirror (:func:`sql_shingles`, green in ``dedup_minhash_lsh``);
    - base hashing via the dependency-free pure-Python XXH64 reference
      (functions/xxh64_ref.py, pinned bit-equal to ``F.xxhash64``);
    - the permutation family / banding / hashed-set verification in
      numpy, replicating Spark's semantics exactly (pmod arithmetic,
      raw-ratio filter at the threshold, BigDecimal-style half-up
      rounding on the shortest decimal repr).

    Cost is bounded by the corpus the DRIVER checks at (sf0.01: 500
    docs, ~25k shingle rows — a second or two); production runs never
    call this."""
    from stock_streaming_data_pipeline_spark.functions.xxh64_ref import (
        spark_xxhash64_str,
    )

    rows_per_band = num_perm // bands
    con = duck_connection(sf_dir)
    rows = con.execute(
        f"SELECT {id_col} AS doc, unnest({sql_shingles(text_col, n)}) AS s "
        f"FROM {table}"
    ).fetchall()
    con.close()

    memo: dict[str, int] = {}
    hsets: dict[int, set[int]] = {}
    for doc, s in rows:
        h = memo.get(s)
        if h is None:
            h = memo[s] = spark_xxhash64_str(s)
        hsets.setdefault(doc, set()).add(h)

    # Signature pass (numpy over the per-doc hash sets): h31 = h & (2^31-1)
    # on the two's-complement value — identical to Spark's bitwiseAND on a
    # signed long — then mh_k = min((h31*(2k+1) + k*2654435761) mod M31).
    import numpy as np

    mults = np.array([2 * k + 1 for k in range(num_perm)], dtype=np.int64)
    adds = np.array([k * 2654435761 for k in range(num_perm)], dtype=np.int64)
    buckets: dict[tuple[int, int], list[int]] = {}
    for doc, hs in hsets.items():
        h31 = np.fromiter((h & 0x7FFFFFFF for h in hs), dtype=np.int64, count=len(hs))
        sig = (h31[:, None] * mults[None, :] + adds[None, :]) % MERSENNE31
        mins = sig.min(axis=0)
        for j in range(bands):
            acc = 0
            for r in range(rows_per_band):
                acc = (acc * _BUCKET_P + int(mins[j * rows_per_band + r])) % MERSENNE31
            buckets.setdefault((j, acc), []).append(doc)

    cands: set[tuple[int, int]] = set()
    for docs in buckets.values():
        if len(docs) < 2:
            continue
        ds = sorted(docs)
        for i_, a in enumerate(ds):
            for b in ds[i_ + 1 :]:
                if a != b:
                    cands.add((a, b))

    out: list[tuple[int, int, float]] = []
    for a, b in sorted(cands):
        inter = len(hsets[a] & hsets[b])
        union = len(hsets[a]) + len(hsets[b]) - inter
        j = inter / union
        # filter on the RAW ratio (round-10 parity fix: Spark and every
        # SQL oracle filter unrounded, rounding only the output column)
        if j < threshold:
            continue
        out.append((a, b, spark_round(j, 6)))
    return values_sql("doc_a BIGINT, doc_b BIGINT, jaccard DOUBLE", out)


def lsh_band_params(threshold: float, num_perm: int = 64) -> tuple[int, int]:
    """Derive (bands, rows) for MinHash-LSH so the S-curve midpoint
    ``(1/b)^(1/r)`` sits closest to the target Jaccard threshold —
    replaces hand-tuned band counts."""
    best: tuple[float, int, int] | None = None
    for b in range(1, num_perm + 1):
        if num_perm % b:
            continue
        r = num_perm // b
        midpoint = (1.0 / b) ** (1.0 / r)
        cand = (abs(midpoint - threshold), b, r)
        if best is None or cand < best:
            best = cand
    if best is None:
        raise RuntimeError(f"no LSH band split for num_perm={num_perm}")
    return best[1], best[2]


def simhash_bits() -> int:
    return 60  # portable_hash yields 60 bits


def simhash(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash over term-frequency-weighted token hashes: per bit,
    sign of the +1/-1 vote sum; linear pass + one groupBy."""
    df = fan_out(df)
    tok = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens(F.col(text_col))).alias("t")
    ).withColumn("h", portable_hash(F.col("t"), salt="sh_"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(simhash_bits())
    ]
    voted = tok.groupBy("doc").agg(*votes)
    acc = F.lit(0).cast("long")
    for b in range(simhash_bits()):
        acc = acc + F.when(F.col(f"v{b}") > 0, F.lit(2**b).cast("long")).otherwise(0)
    return voted.select("doc", acc.alias("simhash"))


def sql_simhash(id_col: str, text_col: str, table: str = "documents") -> str:
    """DuckDB mirror of :func:`simhash` (independent recomputation)."""
    toks = SQL_TOKENS.format(text=text_col)
    bits = simhash_bits()
    votes = ",\n    ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    acc = " + ".join(
        f"CASE WHEN v{b} > 0 THEN {2**b}::BIGINT ELSE 0 END" for b in range(bits)
    )
    return f"""
WITH tok AS (
  SELECT {id_col} AS doc, {sql_portable_hash('t.t', 'sh_')} AS h
  FROM {table}, unnest({toks}) AS t(t)
),
votes AS (SELECT doc, {votes} FROM tok GROUP BY doc)
SELECT doc, {acc} AS simhash FROM votes
"""


def contamination_report(
    train: DataFrame,
    evals: DataFrame,
    *,
    id_col: str,
    text_col: str,
    eval_id_col: str,
    eval_text_col: str,
    n: int = 5,
    min_overlap: float = 0.2,
) -> DataFrame:
    """Benchmark decontamination: for every (training doc, eval doc) pair,
    the fraction of the eval doc's distinct word n-grams that appear in
    the training doc — the standard n-gram-overlap contamination check a
    training pipeline runs against held-out eval suites before training.

    EXACT and fully relational: shingle both sides (one native regex pass
    each), equi-join on the n-gram, count matches per pair. The eval side
    is small by construction (benchmark suites are ~10^4-10^5 docs vs
    ~10^9 training docs), so its shingle index is broadcast — the training
    corpus never shuffles, making this a map-side scan at 100 TB. Output:
    ``(doc, eval_id, matched_ngrams, eval_ngrams, overlap_frac)`` for
    pairs clearing ``min_overlap``.
    """
    t_sh = fan_out(train).select(
        F.col(id_col).alias("doc"),
        F.explode(shingles(F.col(text_col), n)).alias("sh"),
    )
    e_sh = evals.select(
        F.col(eval_id_col).alias("eval_id"),
        F.explode(shingles(F.col(eval_text_col), n)).alias("sh"),
    )
    e_sizes = e_sh.groupBy("eval_id").agg(F.count(F.lit(1)).alias("eval_ngrams"))
    matched = (
        t_sh.join(F.broadcast(e_sh), "sh")
        .groupBy("doc", "eval_id")
        .agg(F.count_distinct("sh").alias("matched_ngrams"))
    )
    return (
        matched.join(F.broadcast(e_sizes), "eval_id")
        .withColumn(
            "overlap_frac", F.round(F.col("matched_ngrams") / F.col("eval_ngrams"), 6)
        )
        .filter(F.col("overlap_frac") >= min_overlap)
        .select("doc", "eval_id", "matched_ngrams", "eval_ngrams", "overlap_frac")
    )


def sql_contamination_report(
    *,
    train_select: str,
    eval_select: str,
    n: int = 5,
    min_overlap: float = 0.2,
) -> str:
    """DuckDB mirror of :func:`contamination_report` (independent
    recomputation over the same parquet). ``train_select`` must yield
    columns ``(doc, txt)``; ``eval_select`` must yield ``(eval_id, txt)``."""
    sh = sql_shingles("txt", n)
    return f"""
WITH t_sh AS (
  SELECT doc, sh.sh AS sh
  FROM ({train_select}), unnest({sh}) AS sh(sh)
),
e_sh AS (
  SELECT eval_id, sh.sh AS sh
  FROM ({eval_select}), unnest({sh}) AS sh(sh)
),
e_sizes AS (SELECT eval_id, count(*) AS eval_ngrams FROM e_sh GROUP BY eval_id),
matched AS (
  SELECT t.doc, e.eval_id, count(DISTINCT t.sh) AS matched_ngrams
  FROM t_sh t JOIN e_sh e USING (sh)
  GROUP BY t.doc, e.eval_id
)
SELECT m.doc, m.eval_id, m.matched_ngrams, s.eval_ngrams,
       round(m.matched_ngrams / s.eval_ngrams::DOUBLE, 6) AS overlap_frac
FROM matched m JOIN e_sizes s USING (eval_id)
WHERE round(m.matched_ngrams / s.eval_ngrams::DOUBLE, 6) >= {min_overlap}
"""


def connected_components(
    pairs: DataFrame,
    *,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over the near-duplicate pair graph: every node
    labeled with the minimum node id reachable from it — the transitive
    dup-cluster assignment a real dedup stage needs (pairs alone
    under-merge: A~B, B~C must collapse to one cluster).

    Iterative min-label propagation: each round, every node takes the min
    of its own label and its neighbors' labels; converges in O(diameter)
    rounds (dup-graph components are tiny in practice — diameter is single
    digits even at web scale). Each round is one shuffle; lineage is cut
    with a materialization to keep plans bounded. Driver-side work is one
    convergence counter per round — scale-safe.
    """
    # Checkpoint the symmetrized edge relation ONCE (optimization round
    # 11): it is re-read by every propagation round, and without the cut
    # each round re-executed the ENTIRE upstream pair-generation subtree
    # (shingle explode + LSH/Jaccard self-join — the expensive part of
    # every caller) — O(rounds) recomputations of the heaviest stage.
    edges = materialize(
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct(),
        eager=True,
    )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.b == labels.node)
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = materialize(
            labels.join(neighbor_min, labels.node == neighbor_min.a, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            ),
            # eager=False: the convergence count below is the first
            # action over the round's labels, so materialization rides
            # that job instead of paying a separate one per round.
            eager=False,
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("node").alias("doc"), F.col("label").alias("component"))


def duplicated_spans(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_docs: int = 2,
    k: int = 50,
) -> DataFrame:
    """Most-duplicated word n-gram spans across the corpus — the exact
    repeated-substring signal that drives span-level dedup (the
    "deduplicate repeated passages, not whole documents" recipe; fixed
    window n approximates the suffix-array pass relationally): for each
    distinct span appearing in >= min_docs docs, its document frequency,
    total occurrences, and the lowest carrying doc id; top-k by df with
    span tie-break.

    Scale shape: one shingle explode (single-regex codegen pass) ->
    partial-aggregated groupBy(span) -> TakeOrderedAndProject(k). The
    span text itself rides the aggregation only until the top-k cut; at
    petabyte scale hash the span and join the text back for the k
    winners only.
    """
    spans = df.select(
        F.col(id_col).alias("doc"),
        F.explode(all_shingles(F.col(text_col), n)).alias("span"),
    )
    per_doc = spans.groupBy("span", "doc").agg(
        F.count(F.lit(1)).alias("occ")
    )
    return (
        per_doc.groupBy("span")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("occ").cast("long").alias("n_occurrences"),
            F.min("doc").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), F.asc("span"))
        .limit(k)
    )


def sql_duplicated_spans(
    *,
    id_col: str,
    text_col: str,
    table: str = "documents",
    n: int = 8,
    min_docs: int = 2,
    k: int = 50,
) -> str:
    """DuckDB mirror of :func:`duplicated_spans` (every overlapping
    occurrence, not distinct-per-doc)."""
    toks = SQL_TOKENS.format(text=text_col)
    return f"""
WITH sp AS (
  SELECT {id_col} AS doc,
         unnest(list_transform(range(1, len(tk) - {n - 1} + 1),
                i -> array_to_string(tk[i : i + {n - 1}], ' '))) AS span
  FROM (SELECT {id_col}, {toks} AS tk FROM {table})
),
pd AS (
  SELECT span, doc, count(*) AS occ FROM sp GROUP BY 1, 2
)
SELECT span, count(*)::BIGINT AS n_docs,
       sum(occ)::BIGINT AS n_occurrences,
       min(doc) AS first_doc
FROM pd GROUP BY span
HAVING count(*) >= {min_docs}
ORDER BY n_docs DESC, n_occurrences DESC, span ASC
LIMIT {k}
"""


def sorted_neighborhood_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    window: int = 8,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Sorted-neighborhood dedup blocking — the third candidate-
    generation family beside LSH banding and posting-list joins. Sort
    the corpus ONCE on a permutation-invariant blocking key (the three
    lexicographically smallest tokens, so word order and truncation
    don't scatter near-dups), then only rank-neighbors within ``window``
    positions become candidates: a FIXED candidate budget of
    docs x (window-1) pairs regardless of how skewed shingle frequency
    is — the property that makes SNM the standard fallback when a
    corpus has pathological hot shingles.

    Distributed shape: the global sort is :func:`global_rank` (range
    partitions + bounded offsets window — never a single-task window);
    neighbor pairing is an equi-join on rank blocks of size window-1
    (each left row also probes the next block, the classic two-bucket
    trick), so the pairing shuffles on block id, skew-free by
    construction. Candidates verify with the exact hashed-shingle
    Jaccard, same as every other blocking family here.
    """
    from stock_streaming_data_pipeline_spark.operators.running import global_rank

    w = window
    keyed = df.select(
        F.col(id_col).alias("doc"),
        F.col(text_col).alias("_txt"),
        F.concat_ws(
            " ", F.slice(F.array_sort(tokens(F.col(text_col))), 1, 3)
        ).alias("snm_key"),
    )
    ranked = global_rank(
        keyed, order_col="snm_key", id_col="doc", out="rnk"
    ).select("doc", "rnk")
    blk = F.floor((F.col("rnk") - 1) / (w - 1))
    right = ranked.select(
        F.col("doc").alias("doc_b"), F.col("rnk").alias("rnk_b"), blk.alias("blk")
    )
    left = ranked.select(
        F.col("doc").alias("doc_a"),
        F.col("rnk").alias("rnk_a"),
        F.explode(F.array(blk, blk + 1)).alias("blk"),
    )
    cands = (
        left.join(right, "blk")
        .filter(
            (F.col("rnk_b") > F.col("rnk_a"))
            & (F.col("rnk_b") - F.col("rnk_a") <= w - 1)
        )
        .select("doc_a", "doc_b")
    )
    hashed = _hashed_shingle_rows(
        df, id_col=id_col, text_col=text_col, n=n, portable=True
    )
    sets = hashed.groupBy("doc").agg(F.collect_set("h").alias("hset"))
    cands = cands.join(
        sets.withColumnsRenamed({"doc": "doc_a", "hset": "hs_a"}), "doc_a"
    ).join(sets.withColumnsRenamed({"doc": "doc_b", "hset": "hs_b"}), "doc_b")
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size("hs_a") + F.size("hs_b") - inter
    return (
        # Filter on the RAW ratio (matching every SQL oracle's WHERE);
        # rounding happens only for the output column — a rounded-first
        # filter would admit pairs in [threshold - 5e-7, threshold).
        cands.filter(inter / union >= threshold)
        .withColumn("jaccard", F.round(inter / union, 6))
        .select("doc_a", "doc_b", "jaccard")
    )


def snm_idf_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    window: int = 8,
    key_len: int = 4,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Sorted-neighborhood dedup with IDF-WEIGHTED MULTI-PASS blocking
    keys: each document enters the global sort TWICE, under its
    ``key_len`` rarest corpus tokens (document frequency ascending, ties
    by token string) and under the same key shifted one rank down
    (ranks 2..key_len+1). Rarity ranking needs no float IDF = log(N/df):
    the order is identical under raw df ascending, so keys stay
    exact-integer/string end to end. Two design points matter on real
    corpora (both measured on the synthetic near-dup corpus here):

    - df >= 2 floor: a df=1 token is shared with NO other doc, so it
      carries zero blocking signal — sorting on one scatters a doc away
      from every potential partner;
    - the shifted second pass (the classic multi-pass SNM remedy): a
      near-dup transformation that INJECTS or DROPS one rare token
      shifts every rank by one, so single-key SNM separates exactly the
      pairs it should find; with the shifted key the original's pass-1
      entry collides with the duplicate's pass-2 entry.

    Distributed shape, same as :func:`sorted_neighborhood_pairs`: the
    df table is ONE token-exploded groupBy (vocabulary-bounded); the
    per-doc rarest-token election is a doc-partitioned window (bounded
    by doc length); the global sort is the range-partitioned
    :func:`global_rank` over 2 x docs entries; pairing keeps the fixed
    2 x docs x (window-1) candidate budget; verification is the exact
    hashed-shingle Jaccard.
    """
    from stock_streaming_data_pipeline_spark.operators.running import global_rank

    w = window
    tok = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("t"),
    )
    dfreq = tok.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    ).filter(F.col("df") >= 2)
    w_doc = Window.partitionBy("doc").orderBy("df", "t")
    rk = (
        tok.join(dfreq, "t")
        .withColumn("rn", F.row_number().over(w_doc))
        .filter(F.col("rn") <= key_len + 1)
    )

    def _key(lo: int) -> Column:
        return F.concat_ws(
            " ",
            *[
                F.max(F.when(F.col("rn") == lo + i, F.col("t")))
                for i in range(key_len)
            ],
        ).alias("snm_key")

    k1 = (
        rk.filter(F.col("rn") <= key_len)
        .groupBy("doc").agg(_key(1)).withColumn("pass", F.lit(1))
    )
    k2 = (
        rk.filter(F.col("rn") >= 2)
        .groupBy("doc").agg(_key(2)).withColumn("pass", F.lit(2))
    )
    entries = k1.unionByName(k2).withColumn(
        "eid", F.col("doc") * 2 + F.col("pass") - 1
    )
    ranked = global_rank(
        entries, order_col="snm_key", id_col="eid", out="rnk"
    ).select("doc", "rnk")
    blk = F.floor((F.col("rnk") - 1) / (w - 1))
    right = ranked.select(
        F.col("doc").alias("doc_y"), F.col("rnk").alias("rnk_b"), blk.alias("blk")
    )
    left = ranked.select(
        F.col("doc").alias("doc_x"),
        F.col("rnk").alias("rnk_a"),
        F.explode(F.array(blk, blk + 1)).alias("blk"),
    )
    cands = (
        left.join(right, "blk")
        .filter(
            (F.col("rnk_b") > F.col("rnk_a"))
            & (F.col("rnk_b") - F.col("rnk_a") <= w - 1)
            & (F.col("doc_x") != F.col("doc_y"))
        )
        .select(
            F.least("doc_x", "doc_y").alias("doc_a"),
            F.greatest("doc_x", "doc_y").alias("doc_b"),
        )
        .distinct()
    )
    hashed = _hashed_shingle_rows(
        df, id_col=id_col, text_col=text_col, n=n, portable=True
    )
    sets = hashed.groupBy("doc").agg(F.collect_set("h").alias("hset"))
    cands = cands.join(
        sets.withColumnsRenamed({"doc": "doc_a", "hset": "hs_a"}), "doc_a"
    ).join(sets.withColumnsRenamed({"doc": "doc_b", "hset": "hs_b"}), "doc_b")
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size("hs_a") + F.size("hs_b") - inter
    return (
        # Filter on the RAW ratio (matching every SQL oracle's WHERE);
        # rounding happens only for the output column — a rounded-first
        # filter would admit pairs in [threshold - 5e-7, threshold).
        cands.filter(inter / union >= threshold)
        .withColumn("jaccard", F.round(inter / union, 6))
        .select("doc_a", "doc_b", "jaccard")
    )


def sql_snm_idf_pairs(
    id_col: str,
    text_col: str,
    *,
    window: int = 8,
    key_len: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    table: str = "documents",
) -> str:
    """DuckDB replay of :func:`snm_idf_pairs`: same df-ascending rarest
    keys (df >= 2), same shifted second pass, same total order
    (key, doc*2+pass-1), same rank-distance pairing, same exact
    hashed-shingle Jaccard."""
    toks = SQL_TOKENS.format(text=text_col)
    sh = sql_shingles(text_col, n)
    base = sql_portable_hash("s", salt="mh_")
    slots1 = ", ".join(
        f"max(CASE WHEN rn = {1 + i} THEN t END)" for i in range(key_len)
    )
    slots2 = ", ".join(
        f"max(CASE WHEN rn = {2 + i} THEN t END)" for i in range(key_len)
    )
    return f"""
WITH tk AS (
  SELECT {id_col} AS doc, unnest(list_distinct({toks})) AS t FROM {table}
),
dfreq AS (
  SELECT t, CAST(count(*) AS BIGINT) AS df FROM tk GROUP BY t HAVING count(*) >= 2
),
rk AS (
  SELECT doc, t, row_number() OVER (PARTITION BY doc ORDER BY df, t) AS rn
  FROM tk JOIN dfreq USING (t)
),
keys AS (
  SELECT doc, 1 AS pass, concat_ws(' ', {slots1}) AS k
  FROM rk WHERE rn <= {key_len} GROUP BY doc
  UNION ALL
  SELECT doc, 2 AS pass, concat_ws(' ', {slots2}) AS k
  FROM rk WHERE rn >= 2 GROUP BY doc
),
r AS (
  SELECT doc, row_number() OVER (ORDER BY k, doc * 2 + pass - 1) AS rnk
  FROM keys
),
cand AS (
  SELECT DISTINCT least(a.doc, b.doc) AS doc_a, greatest(a.doc, b.doc) AS doc_b
  FROM r a JOIN r b
    ON b.rnk > a.rnk AND b.rnk - a.rnk <= {window - 1} AND a.doc <> b.doc
),
sh AS (
  SELECT {id_col} AS doc, unnest({sh}) AS s FROM {table}
),
hset AS (
  SELECT doc, list(DISTINCT {base}) AS hs FROM sh GROUP BY doc
)
SELECT doc_a, doc_b,
       round(CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
             / (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs))),
             6) AS jaccard
FROM cand
JOIN hset ha ON ha.doc = doc_a
JOIN hset hb ON hb.doc = doc_b
WHERE CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
      / (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs)))
      >= {threshold}
"""


def sql_sorted_neighborhood_pairs(
    id_col: str,
    text_col: str,
    *,
    window: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    table: str = "documents",
) -> str:
    """DuckDB replay of :func:`sorted_neighborhood_pairs`: same blocking
    key, same total order, same rank-distance pairing, same exact
    hashed-shingle Jaccard."""
    toks = SQL_TOKENS.format(text=text_col)
    sh = sql_shingles(text_col, n)
    base = sql_portable_hash("s", salt="mh_")
    return f"""
WITH t AS (
  SELECT {id_col} AS doc, {text_col} AS txt,
         array_to_string(list_sort({toks})[1:3], ' ') AS k
  FROM {table}
),
r AS (
  SELECT doc, row_number() OVER (ORDER BY k, doc) AS rnk FROM t
),
cand AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b
  FROM r a JOIN r b
    ON b.rnk > a.rnk AND b.rnk - a.rnk <= {window - 1}
),
sh AS (
  SELECT {id_col} AS doc, unnest({sh}) AS s FROM {table}
),
hset AS (
  SELECT doc, list(DISTINCT {base}) AS hs FROM sh GROUP BY doc
)
SELECT doc_a, doc_b,
       round(CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
             / (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs))),
             6) AS jaccard
FROM cand
JOIN hset ha ON ha.doc = doc_a
JOIN hset hb ON hb.doc = doc_b
WHERE CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
      / (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs)))
      >= {threshold}
"""


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) fingerprints
# ---------------------------------------------------------------------------


def cdc_chunk_fingerprints(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    gram: int = 8,
    mask: int = 64,
) -> DataFrame:
    """Content-defined chunk fingerprints per document: ``(doc, fp)``.

    The storage-dedup / incremental-ingest primitive (Muthitacharoen et
    al., LBFS, SOSP'01): chunk boundaries are declared wherever the hash
    of the trailing ``gram``-char window satisfies ``hash % mask == 0``
    (expected chunk length = ``mask``), plus a forced boundary at
    end-of-text. Because boundaries depend only on LOCAL content, an
    insertion near the front shifts every byte offset but the chunking
    RESYNCS at the next content boundary — the property fixed-size
    framing lacks, and the reason CDC survives header-prefixed
    re-ingests. Documents shorter than ``gram`` produce no chunks (they
    cannot anchor a window; exact dedup owns that regime).

    Plan shape: one map-side position explode (O(total chars) rows that
    immediately collapse to ~len/mask boundary rows inside the same
    stage — the text column never travels with the exploded rows), a
    doc-partitioned lag window over the boundary rows, one join back to
    the doc relation for chunk extraction. Hashes are the portable md5
    family, so the whole construction replays exactly in DuckDB
    (sql_cdc_chunk_fingerprints)."""
    # Enforce the documented short-doc contract BEFORE the explode:
    # Spark's sequence(start, stop) steps -1 when start > stop, so a doc
    # shorter than ``gram`` would otherwise get a DESCENDING position
    # list (a forced pos==len boundary plus out-of-range window hashes)
    # and emit chunks, while DuckDB's range(gram, len+1) is empty.
    docs = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("txt")).filter(
        F.length("txt") >= gram
    )
    bounds = (
        docs.select(
            "doc",
            F.length("txt").alias("len"),
            F.explode(F.sequence(F.lit(gram), F.length("txt"))).alias("pos"),
            F.col("txt"),
        )
        .filter(
            (
                F.pmod(
                    portable_hash(
                        F.expr(f"substring(txt, pos - {gram - 1}, {gram})"),
                        salt="cdc_",
                    ),
                    F.lit(mask),
                )
                == 0
            )
            | (F.col("pos") == F.col("len"))
        )
        .select("doc", "pos")
    )
    w = Window.partitionBy("doc").orderBy("pos")
    chunks = bounds.select(
        "doc",
        (F.coalesce(F.lag("pos").over(w), F.lit(0)) + 1).alias("start"),
        F.col("pos").alias("end"),
    )
    return (
        chunks.join(docs, "doc")
        .select(
            "doc",
            portable_hash(
                F.expr("substring(txt, start, end - start + 1)"), salt="cdcfp_"
            ).alias("fp"),
        )
    )


def cdc_shared_chunk_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    gram: int = 8,
    mask: int = 64,
    min_shared: int = 2,
) -> DataFrame:
    """Near-duplicate candidate pairs by shared CDC chunk fingerprints:
    ``(doc_a, doc_b, n_shared)`` with ``n_shared >= min_shared``. The
    fingerprint equi-join is the posting-list shape of exact dedup: a
    hot fingerprint means true mass duplication (same failure mode and
    remedy as exact dedup), not hash skew."""
    # Materialize the fingerprint relation (tiny: ~len/mask rows per
    # doc): without it the self-join recomputes the whole chunking
    # pipeline — and therefore re-scans the corpus — once per join side
    # (8 file scans measured at round 10; 2 corpus passes after the
    # materialization). eager=False: materialization rides the first
    # action — an eager checkpoint's separate copy-and-store job measured
    # +0.3 s on this tiny relation.
    fps = materialize(
        cdc_chunk_fingerprints(
            df, id_col=id_col, text_col=text_col, gram=gram, mask=mask
        ),
        eager=False,
    )
    a = fps.select(F.col("doc").alias("doc_a"), "fp")
    b = fps.select(F.col("doc").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def sql_cdc_shared_chunk_pairs(
    *,
    corpus_select: str,
    gram: int = 8,
    mask: int = 64,
    min_shared: int = 2,
) -> str:
    """DuckDB replay of :func:`cdc_shared_chunk_pairs`. ``corpus_select``
    must yield columns ``(doc, txt)``."""
    gh = sql_portable_hash(f"substr(txt, p.pos - {gram - 1}, {gram})", salt="cdc_")
    fph = sql_portable_hash("substr(txt, start, end_ - start + 1)", salt="cdcfp_")
    return f"""
WITH corpus AS ({corpus_select}),
b AS (
  SELECT doc, p.pos AS pos
  FROM corpus, unnest(range({gram}, length(txt) + 1)) AS p(pos)
  WHERE {gh} % {mask} = 0 OR p.pos = length(txt)
),
ch AS (
  SELECT doc,
         coalesce(lag(pos) OVER (PARTITION BY doc ORDER BY pos), 0) + 1
           AS start,
         pos AS end_
  FROM b
),
fp AS (
  SELECT c.doc, {fph} AS fp
  FROM ch c JOIN corpus USING (doc)
)
SELECT a.doc AS doc_a, b.doc AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc < b.doc
GROUP BY 1, 2
HAVING count(*) >= {min_shared}
"""


# ---------------------------------------------------------------------------
# Edit-distance record linkage (SNM blocking + native levenshtein verify)
# ---------------------------------------------------------------------------


def edit_distance_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    window: int = 8,
    key_len: int = 12,
    max_dist: int = 3,
) -> DataFrame:
    """Near-duplicate pairs under EDIT DISTANCE: ``(doc_a, doc_b, dist)``
    with ``levenshtein <= max_dist`` — the typo/OCR-noise linkage family,
    orthogonal to every set-overlap verifier here (jaccard/minhash/
    containment measure shared VOCABULARY; edit distance measures
    character-level corruption, catching the single-substitution /
    transposition dups whose shingle sets barely move).

    Candidate generation is the sorted-neighborhood discipline (fixed
    docs x (window-1) budget, hot-key-immune): one range-partitioned
    global sort on the first ``key_len`` characters, rank-block
    pairing, then the JVM-native ``levenshtein`` verifies candidates
    only — never all pairs. Both engines implement the classic
    unit-cost Wagner-Fischer distance (probed identical), so the SQL
    replay is exact."""
    from stock_streaming_data_pipeline_spark.operators.running import global_rank

    w = window
    keyed = df.select(
        F.col(id_col).alias("doc"),
        F.col(text_col).alias("txt"),
        F.substring(F.col(text_col), 1, key_len).alias("ed_key"),
    )
    ranked = global_rank(
        keyed, order_col="ed_key", id_col="doc", out="rnk"
    ).select("doc", "txt", "rnk")
    blk = F.floor((F.col("rnk") - 1) / (w - 1))
    right = ranked.select(
        F.col("doc").alias("doc_b"), F.col("txt").alias("txt_b"),
        F.col("rnk").alias("rnk_b"), blk.alias("blk"),
    )
    left = ranked.select(
        F.col("doc").alias("doc_a"), F.col("txt").alias("txt_a"),
        F.col("rnk").alias("rnk_a"),
        F.explode(F.array(blk, blk + 1)).alias("blk"),
    )
    return (
        left.join(right, "blk")
        .filter(
            (F.col("rnk_b") > F.col("rnk_a"))
            & (F.col("rnk_b") - F.col("rnk_a") <= w - 1)
        )
        .withColumn("dist", F.levenshtein("txt_a", "txt_b").cast("long"))
        .filter(F.col("dist") <= max_dist)
        .select("doc_a", "doc_b", "dist")
    )


def sql_edit_distance_pairs(
    *,
    corpus_select: str,
    window: int = 8,
    key_len: int = 12,
    max_dist: int = 3,
) -> str:
    """DuckDB replay of :func:`edit_distance_pairs`: same blocking key,
    same total order (the oracle may use the single-task window the
    engine avoids), same rank-distance pairing, same native levenshtein.
    ``corpus_select`` must yield ``(doc, txt)``."""
    return f"""
WITH corpus AS ({corpus_select}),
r AS (
  SELECT doc, txt,
         row_number() OVER (ORDER BY substr(txt, 1, {key_len}), doc) AS rnk
  FROM corpus
),
cand AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b,
         levenshtein(a.txt, b.txt) AS dist
  FROM r a JOIN r b
    ON b.rnk > a.rnk AND b.rnk - a.rnk <= {window - 1}
)
SELECT doc_a, doc_b, CAST(dist AS BIGINT) AS dist
FROM cand WHERE dist <= {max_dist}
"""

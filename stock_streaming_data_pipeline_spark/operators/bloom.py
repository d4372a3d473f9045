"""Portable Bloom-filter semi-join — the runtime-filter pattern made
explicit.

A semi-join against an SF-scaled key set can neither broadcast the keys
(they grow with the data — the repo's lint forbids that hint) nor avoid
shuffling the whole fact table under a plain shuffle semi-join. The
standard cluster answer is a RUNTIME FILTER: condense the key set into a
fixed-size Bloom bitmap (size chosen by the operator, NOT by the data),
ship the bitmap to every fact task, and drop non-matching fact rows
MAP-SIDE before the shuffle — then let the exact semi-join clear the
Bloom's false positives. Spark itself ships this as an optimizer rule
(``spark.sql.optimizer.runtimeFilter.bloomFilter.enabled``, off by
default and stats-gated); this operator makes the plan explicit,
deterministic, and engine-portable.

Hash family: the repo's portable md5 base hash (top 60 bits), folded to
31 bits, then k Carter-Wegman style derived positions
``(h31 * (2i+1) + i * GOLDEN) % M31 % m_bits`` — the same family the
MinHash tier uses (operators/dedup.py), so every bit decision is
reproducible in any engine with md5.

Exactness contract: a Bloom filter has NO false negatives, so
``bloom_semi_join`` returns exactly the rows a plain semi-join returns —
the DuckDB oracle for any query built on this operator is the plain
``WHERE EXISTS`` form, and the differential proves the pruning path
drops nothing.

Scale shape: building the bitmap is one distributed pass over the keys
(explode k positions → word/bit aggregation) and a driver collect
BOUNDED BY m_bits/64 words — a parameter, independent of SF (1 MiB of
bitmap covers ~10^6 keys at 10 bits/key). The fact-side membership test
is whole-stage-codegen JVM arithmetic against one folded array literal:
no UDF, no extra shuffle, no broadcast exchange. Size ``m_bits`` at
~10-16 bits per expected key; an undersized bitmap degrades recall of
the PRUNING only (more false positives survive to the exact join),
never correctness.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.operators.dedup import (
    MERSENNE31,
    portable_hash,
)

_GOLDEN = 2654435761  # Knuth's multiplicative-hash constant, also the
# minhash permutation family's offset step (operators/dedup.py)


def _h31(key: Column, salt: str) -> Column:
    return portable_hash(key.cast("string"), salt=salt).bitwiseAND(
        F.lit(2147483647).cast("long")
    )


def _positions(h31: Column, *, k_hashes: int, m_bits: int) -> list[Column]:
    return [
        ((h31 * F.lit(2 * i + 1) + F.lit(i * _GOLDEN)) % MERSENNE31) % F.lit(m_bits)
        for i in range(k_hashes)
    ]


def build_bloom_words(
    keys: DataFrame,
    key_col: str,
    *,
    m_bits: int = 1 << 18,
    k_hashes: int = 4,
    salt: str = "bf_",
) -> list[int]:
    """Distributed Bloom build: every key contributes k bit positions;
    positions aggregate into 64-bit words via bit_or; the collect is
    bounded by ``m_bits // 64`` rows (the bitmap size parameter), never
    by the data. Returns the dense word array (length m_bits/64)."""
    if m_bits % 64 != 0:
        raise ValueError("bloom: m_bits must be a multiple of 64")
    h = keys.select(_h31(F.col(key_col), salt).alias("h31"))
    pos = h.select(
        F.explode(F.array(*_positions(F.col("h31"), k_hashes=k_hashes, m_bits=m_bits))).alias(
            "pos"
        )
    )
    words = (
        pos.select(
            F.shiftright(F.col("pos"), 6).alias("w"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("pos") % 64).cast("int")
            ).alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
        .collect()  # bounded: <= m_bits/64 rows, a size PARAMETER
    )
    dense = [0] * (m_bits // 64)
    for r in words:
        dense[int(r["w"])] = int(r["word"])
    return dense


def bloom_might_contain(
    key: Column,
    words: list[int],
    *,
    k_hashes: int = 4,
    salt: str = "bf_",
) -> Column:
    """Membership predicate against the bitmap embedded as ONE array
    literal — constant-folded by Catalyst, k element_at lookups per row,
    all inside whole-stage codegen."""
    m_bits = len(words) * 64
    bloom = F.lit(words)
    h31 = _h31(key, salt)
    checks = []
    for pos in _positions(h31, k_hashes=k_hashes, m_bits=m_bits):
        word = F.element_at(bloom, F.shiftright(pos, 6).cast("int") + 1)
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int")
        )
        checks.append(word.bitwiseAND(mask) != 0)
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out


def bloom_semi_join(
    fact: DataFrame,
    keys: DataFrame,
    *,
    fact_key: str,
    dim_key: str,
    m_bits: int = 1 << 18,
    k_hashes: int = 4,
) -> DataFrame:
    """Exact semi-join with a Bloom pre-filter on the fact side: the
    bitmap prunes map-side BEFORE the join's shuffle; the left-semi join
    then removes Bloom false positives, so the result is bit-identical
    to ``fact WHERE EXISTS (keys)``. Join strategy for the residual is
    left to stats/AQE (the pruned fact side is what makes the shuffle
    cheap at scale)."""
    words = build_bloom_words(
        keys, dim_key, m_bits=m_bits, k_hashes=k_hashes
    )
    pruned = fact.filter(
        bloom_might_contain(F.col(fact_key), words, k_hashes=k_hashes)
    )
    return pruned.join(
        keys.select(dim_key), pruned[fact_key] == F.col(dim_key), "left_semi"
    )

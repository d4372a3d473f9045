"""Skew-mitigation join: salting for hot keys.

AQE's skew-join handling splits oversized SORT-MERGE partitions at runtime,
but it cannot help when the skew is structural (one key = 30% of the fact
table) and the join is key-colocated downstream. Salting is the classic
manual remedy: spread each hot fact key over S salt buckets and replicate
the (small) build side S times.

The join is inner, and its result is identical to the plain inner join;
the test suite pins equality.
Use when: fact⋈dim with a known/measured hot-key set, dim small enough to
replicate S-fold (it usually is — salting only makes sense when dim is the
small side anyway).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    *,
    fact_key: str,
    dim_key: str,
    salts: int = 8,
    salt_cols: Sequence[str],
) -> DataFrame:
    """Inner-join fact⋈dim on key with S-way salting of the fact side.

    fact gets a per-row salt in [0, S); dim is exploded to all S salt
    values. The join key becomes (key, salt) — the hot key's rows now
    land in S different shuffle partitions.

    ``salt_cols`` (REQUIRED, keyword-only): columns whose hash assigns
    the salt. Pass a NARROW subset the query reads anyway — the join key
    plus at least one varying discriminator column (a measure, a line
    number, a timestamp) — so the salt is a deterministic function of
    row content. Determinism matters under failure recovery: a salt from
    ``monotonically_increasing_id``/``rand`` depends on row order /
    partition placement, so a fact partition recomputed after a
    shuffle-fetch failure can re-salt the same rows differently and
    duplicate/drop join rows (the SPARK-23207 bug class — routine at
    100 TB where fetch failures are expected). That unsafe fallback was
    removed in round 10: there is no nondeterministic default, and the
    catalog-wide plan lint (tools/plan_lint.py: nondet_shuffle_keys)
    fails any query whose shuffle/join key derives from a
    nondeterministic expression. Hashing ALL fact columns instead would
    defeat parquet column pruning (the round-8 lint catch), hence
    caller-chosen columns. Passing ONLY the join key is rejected too:
    every row of a hot key would hash to the same bucket, silently
    disabling the spreading this operator exists for.
    """
    if not salt_cols:
        raise ValueError(
            "salted_join: salt_cols is required — pass the join key plus "
            "at least one varying discriminator column (a measure, line "
            "number, timestamp). A nondeterministic salt "
            "(monotonically_increasing_id/rand) re-salts rows differently "
            "when a task is recomputed after a shuffle-fetch failure and "
            "duplicates/drops join rows (SPARK-23207 class)."
        )
    if set(salt_cols) <= {fact_key}:
        raise ValueError(
            "salted_join: salt_cols must include a column beyond the join "
            f"key {fact_key!r} — a key-only salt maps every row of a hot "
            "key to ONE bucket, silently disabling the spreading."
        )
    # The join RESULT is salt-assignment-invariant (the dim side carries
    # every salt value, so any row joins its dim match under any salt —
    # equality to the plain join is pinned in tests/test_scale_ops.py);
    # determinism of the assignment matters for task-retry consistency,
    # per the docstring.
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(salts))
    salted_fact = fact.withColumn("_salt", salt)
    salted_dim = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(s) for s in range(salts)]))
    )
    out = salted_fact.join(
        salted_dim,
        (salted_fact[fact_key] == salted_dim[dim_key])
        & (salted_fact["_salt"] == salted_dim["_salt"]),
    )
    return out.drop("_salt")

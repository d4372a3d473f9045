"""Distributed unigram-LM tokenizer training (SentencePiece-style,
hard-EM/Viterbi variant) — the second tokenizer family next to BPE
(operators/bpe.py), as pure DataFrame ops.

Kudo's unigram language model (the SentencePiece default): every word is
segmented into the vocabulary pieces that maximize the sum of piece
log-probabilities, and training alternates segmentation (E) with
re-estimating piece probabilities from usage counts (M). This
implementation is the HARD-EM variant — the E-step keeps only the
single Viterbi-best segmentation per word instead of marginalizing over
all segmentations — with Laplace smoothing in the M-step; both
simplifications are standard and documented, and the machinery
(seed-vocab extraction, DP segmentation, count/re-score loop) is the
real thing.

Scale design (100 TB corpus): the ONLY corpus-scale pass is the initial
word-frequency aggregation (hash groupBy, partial-aggregated) — the
same sharding as the BPE trainer. Everything after runs on the
DISTINCT-WORD relation (vocabulary-bounded, independent of corpus row
count): the Viterbi DP is ``max_word_len`` relational steps, each a
join of a words-sized frontier against the piece table, and each EM
round adds one piece-count aggregate over the segmentations. Lineage is
cut per DP step with materialize (the BPE trainer's discipline).

Determinism / differential contract: piece log-probs are round-6 then
micro-snapped BIGINTs; DP scores are integer sums; the argmax at every
(word, position) breaks ties by (score desc, predecessor position asc —
i.e. the longest last piece wins), so the whole trainer — seed vocab,
every DP frame of every round, counts, smoothed re-scores — replays
bit-for-bit in DuckDB as chained CTEs (:func:`sql_unigram_ctes`), like
the BPE/Lloyd/PageRank/LR loops before it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.functions.scalars import half_away, round6
from stock_streaming_data_pipeline_spark.operators.checkpoint import materialize
from stock_streaming_data_pipeline_spark.operators.dedup import tokens
from stock_streaming_data_pipeline_spark.operators.retrieval import SQL_TOKENS

MAX_PIECE_LEN = 4  # longest candidate piece
MAX_WORD_LEN = 8  # DP horizon; longer words are excluded from training
MIN_SEED_COUNT = 5  # weighted occurrence floor for multi-char seed pieces


def _check_piece_len() -> None:
    """The DP's s*10+l map-key encoding needs l (and hence MAX_PIECE_LEN)
    to stay a single decimal digit; a raised constant would collide keys
    far from the cause (an ANSI duplicate-map-key error at best)."""
    if MAX_PIECE_LEN >= 10:
        raise ValueError(
            f"MAX_PIECE_LEN={MAX_PIECE_LEN}: the s*10+l map-key stride "
            "needs MAX_PIECE_LEN < 10"
        )


_check_piece_len()


def _word_counts(df: DataFrame, *, text_col: str) -> DataFrame:
    """(w, wc): distinct corpus words (length ≤ MAX_WORD_LEN) with
    frequencies — the one corpus-scale pass."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.length("w") <= MAX_WORD_LEN)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )


def _seed_vocab(words: DataFrame) -> DataFrame:
    """(piece, cnt, lp): all substrings up to MAX_PIECE_LEN with weighted
    occurrence counts; multi-char pieces below MIN_SEED_COUNT are
    dropped, single characters always stay (coverage guarantee).
    lp = micro(ln(cnt / total))."""
    subs = (
        words.select(
            "w",
            "wc",
            F.explode(F.sequence(F.lit(1), F.length("w"))).alias("s"),
        )
        .select(
            "w",
            "wc",
            "s",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(MAX_PIECE_LEN), F.length("w") - F.col("s") + 1),
                )
            ).alias("l"),
        )
        .select(F.expr("substring(w, s, l)").alias("piece"), "wc")
        .groupBy("piece")
        .agg(F.sum("wc").alias("cnt"))
        .filter(
            (F.col("cnt") >= MIN_SEED_COUNT) | (F.length("piece") == 1)
        )
    )
    total = subs.agg(F.sum("cnt").alias("t"))
    return subs.crossJoin(F.broadcast(total)).select(
        "piece",
        "cnt",
        half_away(round6(F.log(F.col("cnt").cast("double") / F.col("t"))), 6)
        .alias("lp"),
    )


def _viterbi_segment(words: DataFrame, vocab: DataFrame) -> DataFrame:
    """(w, wc, seg): Viterbi-best segmentation of every word under
    ``vocab`` (piece, lp). ``seg`` is the piece sequence joined by
    single spaces (tokens never contain whitespace).

    Shape (optimization round 11): the DP horizon is the compile-time
    constant MAX_WORD_LEN=8 with MAX_PIECE_LEN=4, so the whole DP
    UNROLLS into chained per-row struct expressions — one broadcast
    join attaches every in-vocab piece of every word (≤ 8×4 candidate
    slots per word), one map-combined groupBy folds them into a
    (s*10+l) → lp lookup map per word, and the 8 DP cells are computed
    as columns. The previous formulation ran 8 relational steps per
    call, each with its own broadcast join, shuffle and eager
    localCheckpoint (~16 jobs per call, ×3 calls per query).
    Determinism contract unchanged: integer micro scores, and each cell
    picks max score with ties to the SMALLEST predecessor position
    (longest last piece) via greatest(struct(sc, -pos, seg)) — (sc,
    -pos) is unique per candidate so seg never decides. Unreachable
    candidates carry a -2^60 sentinel score; single-character pieces
    are always in the vocabulary (the seed's coverage floor), so every
    true cell is reachable and a sentinel can never win."""
    vp = vocab.select("piece", "lp")
    slots = words.select(
        "w",
        "wc",
        F.explode(
            F.expr(
                f"""flatten(transform(sequence(1, length(w)), s ->
                  transform(sequence(1, least({MAX_PIECE_LEN},
                                              length(w) - s + 1)), l ->
                    struct(s AS s, l AS l,
                           substring(w, s, l) AS piece))))"""
            )
        ).alias("c"),
    ).select("w", "wc", F.col("c.s").alias("s"), F.col("c.l").alias("l"), F.col("c.piece").alias("piece"))
    cands = slots.join(F.broadcast(vp), "piece")
    # (s,l) keys are unique per word, so the map is order-independent.
    # The s*10+l key encoding needs MAX_PIECE_LEN < 10 (_check_piece_len,
    # at import) and `words` distinct per w, or keys collide.
    maps = cands.groupBy("w").agg(
        F.max("wc").alias("wc"),
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    (F.col("s") * 10 + F.col("l")).alias("k"),
                    F.col("lp").alias("v"),
                )
            )
        ).alias("m"),
    )
    # The DP itself is a runtime aggregate() fold over positions 1..len
    # with the dp table as the array accumulator — the lambda's
    # expression tree is CONSTANT-size (MAX_PIECE_LEN candidates), so
    # planning stays flat. (A fully column-unrolled variant was tried
    # first and abandoned: each cell's expression embeds its 4
    # predecessors', a ~4^8-node tree that stalls Catalyst.)
    sent = F.lit(-(1 << 60)).cast("long")
    init = F.array(
        F.struct(F.lit(0).cast("long").alias("sc"), F.lit("").alias("seg"))
    )

    def _step(acc, e):
        cands = []
        for l in range(1, MAX_PIECE_LEN + 1):
            p = e - F.lit(l)  # predecessor position, may be < 0
            prev = F.element_at(acc, F.greatest(p + 1, F.lit(1)))
            lp = F.when(
                p >= 0,
                F.coalesce(
                    F.element_at(F.col("m"), (p + 1) * 10 + F.lit(l)), sent
                ),
            ).otherwise(sent)
            piece = F.substring(F.col("w"), p + 1, F.lit(l))
            seg2 = F.when(p == 0, piece).otherwise(
                F.concat_ws(" ", prev["seg"], piece)
            )
            cands.append(
                F.struct(
                    (prev["sc"] + lp).alias("sc"),
                    (-p).cast("long").alias("np"),
                    seg2.alias("seg"),
                )
            )
        best = F.greatest(*cands)
        return F.array_append(
            acc, F.struct(best["sc"].alias("sc"), best["seg"].alias("seg"))
        )

    seg_col = F.aggregate(
        F.sequence(F.lit(1), F.length("w")),
        init,
        _step,
        lambda acc: F.element_at(acc, -1)["seg"],
    )
    return maps.select("w", "wc", seg_col.alias("seg"))


def _m_step(vocab: DataFrame, segs: DataFrame) -> DataFrame:
    """Laplace-smoothed re-score over the SAME piece universe:
    lp = micro(ln((cnt + 1) / (T + V))) with T = Σcnt, V = |vocab|."""
    counts = (
        segs.select("wc", F.explode(F.split("seg", " ")).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("wc").alias("cnt"))
    )
    joined = vocab.select("piece").join(counts, "piece", "left").select(
        "piece", F.coalesce("cnt", F.lit(0)).alias("cnt")
    )
    tot = joined.agg(
        F.sum("cnt").alias("t"), F.count(F.lit(1)).alias("v")
    )
    return joined.crossJoin(F.broadcast(tot)).select(
        "piece",
        "cnt",
        half_away(
            round6(
                F.log((F.col("cnt") + 1).cast("double") / (F.col("t") + F.col("v")))
            ),
            6,
        ).alias("lp"),
    )


def unigram_train(
    df: DataFrame, *, text_col: str, rounds: int = 2
) -> DataFrame:
    """Train the unigram LM: seed vocab → ``rounds`` × (Viterbi E-step,
    smoothed M-step). Returns (piece, cnt, logp) where cnt is the final
    round's weighted usage count and logp the smoothed log-prob."""
    words = materialize(_word_counts(df, text_col=text_col), eager=True)
    vocab = materialize(_seed_vocab(words), eager=True)
    for _ in range(rounds):
        segs = _viterbi_segment(words, vocab)
        vocab = materialize(_m_step(vocab, segs), eager=True)
    return vocab.select(
        "piece",
        "cnt",
        F.round(F.col("lp").cast("double") / F.lit(1e6), 6).alias("logp"),
    )


def unigram_segment(
    df: DataFrame, *, id_col: str, text_col: str, rounds: int = 2
) -> DataFrame:
    """Inference side: segment every document's words under the trained
    vocab and count pieces per doc — (doc, n_words, n_unigram_tokens).
    Words longer than MAX_WORD_LEN are outside the trained model and are
    excluded (inner join), mirrored exactly by the oracle."""
    words = materialize(_word_counts(df, text_col=text_col), eager=True)
    vocab = materialize(_seed_vocab(words), eager=True)
    for _ in range(rounds):
        segs = _viterbi_segment(words, vocab)
        vocab = materialize(_m_step(vocab, segs), eager=True)
    per_word = _viterbi_segment(words, vocab).select(
        "w", F.size(F.split("seg", " ")).alias("n_tokens")
    )
    toks = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens(F.col(text_col))).alias("w")
    )
    return (
        toks.join(per_word, "w")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tokens").alias("n_unigram_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# DuckDB oracle: the full trainer unrolled into chained CTEs.
# ---------------------------------------------------------------------------

_SQL_MICRO = (
    "CAST(CASE WHEN round({x}, 6) >= 0"
    " THEN floor(abs(round({x}, 6)) * 1000000.0 + 0.5)"
    " ELSE -floor(abs(round({x}, 6)) * 1000000.0 + 0.5) END AS BIGINT)"
)


def sql_unigram_ctes(*, text_col: str, table: str, rounds: int) -> list[str]:
    """CTE list replaying seed vocab + ``rounds`` EM rounds; the final
    vocab CTE is ``v{rounds}`` and the final segmentations CTE (under
    v{rounds-1}) is ``segs{rounds - 1}``."""
    toks = SQL_TOKENS.format(col=text_col)
    parts = [
        f"""words AS MATERIALIZED (
  SELECT w, count(*) AS wc FROM (
    SELECT unnest({toks}) AS w FROM {table}
  ) WHERE len(w) <= {MAX_WORD_LEN} GROUP BY w
)""",
        f"""subs AS MATERIALIZED (
  SELECT substr(w, CAST(s.i AS INT), CAST(l.j AS INT)) AS piece,
         CAST(sum(wc) AS BIGINT) AS cnt
  FROM words,
       unnest(range(1, len(w) + 1)) AS s(i),
       unnest(range(1, {MAX_PIECE_LEN} + 1)) AS l(j)
  WHERE s.i + l.j - 1 <= len(w)
  GROUP BY 1
  HAVING sum(wc) >= {MIN_SEED_COUNT} OR len(piece) = 1
)""",
        "subtot AS MATERIALIZED (SELECT sum(cnt) AS t FROM subs)",
        f"""v0 AS MATERIALIZED (
  SELECT piece, cnt,
         {_SQL_MICRO.format(x="ln(cnt::DOUBLE / t)")} AS lp
  FROM subs CROSS JOIN subtot
)""",
    ]
    for r in range(rounds):
        parts += _sql_viterbi_ctes(vocab=f"v{r}", tag=f"r{r}")
        parts += [
            f"""cnt{r} AS MATERIALIZED (
  SELECT p.piece, CAST(sum(s.wc) AS BIGINT) AS cnt
  FROM segs_r{r} s, unnest(string_split(s.seg, ' ')) AS p(piece)
  GROUP BY 1
)""",
            f"""joined{r} AS MATERIALIZED (
  SELECT v.piece, coalesce(c.cnt, 0) AS cnt
  FROM v{r} v LEFT JOIN cnt{r} c ON c.piece = v.piece
)""",
            f"tot{r} AS MATERIALIZED (SELECT sum(cnt) AS t, count(*) AS v FROM joined{r})",
            f"""v{r + 1} AS MATERIALIZED (
  SELECT piece, cnt,
         {_SQL_MICRO.format(x="ln((cnt + 1)::DOUBLE / (t + v))")} AS lp
  FROM joined{r} CROSS JOIN tot{r}
)""",
        ]
    return parts


def _sql_viterbi_ctes(*, vocab: str, tag: str) -> list[str]:
    """DP frames f{tag}_0..f{tag}_N + final segmentations segs_{tag},
    replaying :func:`_viterbi_segment` under the ``vocab`` CTE."""
    parts = [
        f"""f{tag}_0 AS MATERIALIZED (
  SELECT w, wc, 0 AS pos, 0::BIGINT AS sc, '' AS seg FROM words
)"""
    ]
    for i in range(1, MAX_WORD_LEN + 1):
        lo = max(0, i - MAX_PIECE_LEN)
        frontier = " UNION ALL ".join(
            f"SELECT * FROM f{tag}_{j}" for j in range(lo, i)
        )
        parts.append(
            f"""f{tag}_{i} AS MATERIALIZED (
  SELECT w, wc, {i} AS pos, sc2 AS sc, seg2 AS seg FROM (
    SELECT f.w, f.wc, f.sc + v.lp AS sc2,
           CASE WHEN f.seg = '' THEN v.piece
                ELSE f.seg || ' ' || v.piece END AS seg2,
           row_number() OVER (
             PARTITION BY f.w ORDER BY f.sc + v.lp DESC, f.pos ASC
           ) AS rn
    FROM ({frontier}) f
    JOIN {vocab} v
      ON v.piece = substr(f.w, f.pos + 1, {i} - f.pos)
    WHERE len(f.w) >= {i}
  ) WHERE rn = 1
)"""
        )
    finals = " UNION ALL ".join(
        f"SELECT w, wc, seg FROM f{tag}_{i} WHERE len(w) = {i}"
        for i in range(1, MAX_WORD_LEN + 1)
    )
    parts.append(f"segs_{tag} AS MATERIALIZED ({finals})")
    return parts


def sql_unigram_train(*, text_col: str, table: str, rounds: int = 2) -> str:
    ctes = sql_unigram_ctes(text_col=text_col, table=table, rounds=rounds)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT piece, cnt, round(lp::DOUBLE / 1000000.0, 6) AS logp
FROM v{rounds}
"""
    )


def sql_unigram_segment(
    *, id_col: str, text_col: str, table: str, rounds: int = 2
) -> str:
    toks = SQL_TOKENS.format(col=text_col)
    ctes = sql_unigram_ctes(text_col=text_col, table=table, rounds=rounds)
    ctes += _sql_viterbi_ctes(vocab=f"v{rounds}", tag="fin")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
per_word AS MATERIALIZED (
  SELECT w, len(string_split(seg, ' ')) AS n_tokens FROM segs_fin
),
toks AS (
  SELECT {id_col} AS doc, unnest({toks}) AS w FROM {table}
)
SELECT doc, count(*) AS n_words, CAST(sum(n_tokens) AS BIGINT) AS n_unigram_tokens
FROM toks JOIN per_word USING (w)
GROUP BY doc
"""
    )


def _prune(vocab: DataFrame, keep: int) -> DataFrame:
    """SentencePiece's shrink step in deterministic form: keep the
    ``keep`` highest-usage pieces (ties on piece asc) plus every single
    character (coverage guarantee). The rank window is unpartitioned but
    runs over the VOCAB relation — bounded by the piece count, never the
    corpus (same bounded-domain exemption as the BPE argmax)."""
    w = Window.orderBy(F.desc("cnt"), F.asc("piece"))
    return (
        vocab.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") <= keep) | (F.length("piece") == 1))
        .drop("rn")
    )


def unigram_train_pruned(
    df: DataFrame, *, text_col: str, rounds: int = 1, prune_to: int = 40
) -> DataFrame:
    """Train with a final shrink: ``rounds`` EM rounds on the seed vocab,
    prune to the top ``prune_to`` pieces (plus single chars), then one
    more EM round under the pruned vocabulary — the full SentencePiece
    lifecycle (seed → EM → shrink → EM) in hard-EM form."""
    words = materialize(_word_counts(df, text_col=text_col), eager=True)
    vocab = materialize(_seed_vocab(words), eager=True)
    for _ in range(rounds):
        segs = _viterbi_segment(words, vocab)
        vocab = materialize(_m_step(vocab, segs), eager=True)
    vocab = materialize(_prune(vocab, prune_to), eager=True)
    segs = _viterbi_segment(words, vocab)
    vocab = _m_step(vocab, segs)
    return vocab.select(
        "piece",
        "cnt",
        F.round(F.col("lp").cast("double") / F.lit(1e6), 6).alias("logp"),
    )


def sql_unigram_train_pruned(
    *, text_col: str, table: str, rounds: int = 1, prune_to: int = 40
) -> str:
    ctes = sql_unigram_ctes(text_col=text_col, table=table, rounds=rounds)
    ctes.append(
        f"""pr AS MATERIALIZED (
  SELECT piece, cnt, lp FROM (
    SELECT *, row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rn
    FROM v{rounds}
  ) WHERE rn <= {prune_to} OR len(piece) = 1
)"""
    )
    ctes += _sql_viterbi_ctes(vocab="pr", tag="pp")
    ctes += [
        """cntp AS MATERIALIZED (
  SELECT p.piece, CAST(sum(s.wc) AS BIGINT) AS cnt
  FROM segs_pp s, unnest(string_split(s.seg, ' ')) AS p(piece)
  GROUP BY 1
)""",
        """joinedp AS MATERIALIZED (
  SELECT v.piece, coalesce(c.cnt, 0) AS cnt
  FROM pr v LEFT JOIN cntp c ON c.piece = v.piece
)""",
        "totp AS MATERIALIZED (SELECT sum(cnt) AS t, count(*) AS v FROM joinedp)",
        f"""vp AS MATERIALIZED (
  SELECT piece, cnt,
         {_SQL_MICRO.format(x="ln((cnt + 1)::DOUBLE / (t + v))")} AS lp
  FROM joinedp CROSS JOIN totp
)""",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT piece, cnt, round(lp::DOUBLE / 1000000.0, 6) AS logp
FROM vp
"""
    )

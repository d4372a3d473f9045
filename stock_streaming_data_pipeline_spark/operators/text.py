"""Text analysis operators: language ID, quality scoring, token stats,
document fingerprinting. Pure built-in expressions (JVM-side, codegen'd) —
one linear pass each; the DuckDB oracles recompute the same arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.operators.checkpoint import materialize
from stock_streaming_data_pipeline_spark.operators.dedup import (
    MERSENNE31,
    SQL_TOKENS,
    portable_hash,
    sql_portable_hash,
    tokens,
)

# Minimal function-word lists per language (public, standard closed-class
# words). Order = tie-break precedence.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "mit"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "es", "los"),
    "fr": ("le", "la", "de", "et", "un", "une", "est", "que", "les", "dans"),
}


def _overlap(toks: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words))).cast("long")


def _sql_overlap(toks: str, words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({toks}, t -> t IN ({lst})))"


def language_id(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """Stopword-overlap language heuristic: count function-word hits per
    language (token-frequency weighted), pick the max; 'und' (undetermined)
    when nothing matches. Deterministic tie-break by the STOPWORDS order."""
    toks = tokens(F.col(text_col))
    scored = df.select(
        F.col(id_col).alias("doc"),
        *[_overlap(toks, ws).alias(f"hits_{lang}") for lang, ws in STOPWORDS.items()],
    )
    langs = list(STOPWORDS)
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # earlier langs win ties → apply last
        pred = F.when(
            (F.col(f"hits_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return scored.select(
        "doc", *[f"hits_{lang}" for lang in langs], pred.alias("pred_lang")
    )


def sql_language_id(id_col: str, text_col: str, table: str = "documents") -> str:
    toks = SQL_TOKENS.format(text=text_col)
    langs = list(STOPWORDS)
    hits = ",\n  ".join(
        f"{_sql_overlap(toks, ws)} AS hits_{lang}" for lang, ws in STOPWORDS.items()
    )
    best = f"greatest({', '.join(f'hits_{lang}' for lang in langs)})"
    # mirror the when-chain: earliest language in STOPWORDS wins ties
    case = "CASE "
    for lang in langs:
        case += f"WHEN hits_{lang} = {best} AND {best} > 0 THEN '{lang}' "
    case += "ELSE 'und' END"
    cols = ", ".join(f"hits_{lang}" for lang in langs)
    return f"""
WITH scored AS (SELECT {id_col} AS doc, {hits} FROM {table})
SELECT doc, {cols}, {case} AS pred_lang FROM scored
"""


def quality_expr(text_col: Column) -> Column:
    """The composite quality score as ONE per-row column expression —
    the exact expression `quality_scores` emits in its `quality` column
    (same rounding points), exposed so composed pipelines can filter on
    it directly instead of semi-joining against a full score frame
    (quality is per-row deterministic, so `df ⋉ scores.filter(q >= x)`
    ≡ `df.filter(quality_expr >= x)`). Drift between the two is caught
    by the composed pipelines' differential oracles."""
    toks = tokens(text_col)
    n_tok = F.size(toks).cast("long")
    distinct_ratio = F.round(F.size(F.array_distinct(toks)) / n_tok, 6)
    stop_ratio = F.round(_overlap(toks, STOPWORDS["en"]) / n_tok, 6)
    return F.round(
        F.least(n_tok / F.lit(100.0), F.lit(1.0)) * 0.4
        + distinct_ratio * 0.4
        + stop_ratio * 0.2,
        6,
    )


def quality_scores(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """Heuristic quality features: length, token stats, type-token ratio,
    alpha ratio, English-stopword ratio, composite score (the `quality`
    column must stay expression-identical to :func:`quality_expr`)."""
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks).cast("long")
    n_chars = F.length(text_col).cast("long")
    distinct_ratio = F.round(F.size(F.array_distinct(toks)) / n_tok, 6)
    avg_tok_len = F.round(
        F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)) / n_tok,
        6,
    )
    stop_ratio = F.round(_overlap(toks, STOPWORDS["en"]) / n_tok, 6)
    score = F.round(
        F.least(n_tok / F.lit(100.0), F.lit(1.0)) * 0.4
        + distinct_ratio * 0.4
        + stop_ratio * 0.2,
        6,
    )
    return df.select(
        F.col(id_col).alias("doc"),
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens"),
        distinct_ratio.alias("distinct_ratio"),
        avg_tok_len.alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality"),
    )


def sql_quality_scores(id_col: str, text_col: str, table: str = "documents") -> str:
    toks = SQL_TOKENS.format(text=text_col)
    stop = _sql_overlap("toks", STOPWORDS["en"])
    return f"""
WITH t AS (SELECT {id_col} AS doc, {text_col} AS txt, {toks} AS toks FROM {table})
SELECT doc,
  length(txt) AS n_chars,
  len(toks) AS n_tokens,
  round(len(list_distinct(toks)) / len(toks)::DOUBLE, 6) AS distinct_ratio,
  round(list_reduce(list_prepend(0::BIGINT, list_transform(toks, t -> length(t)::BIGINT)),
                    (a, x) -> a + x) / len(toks)::DOUBLE, 6) AS avg_token_len,
  round({stop} / len(toks)::DOUBLE, 6) AS stopword_ratio,
  round(least(len(toks) / 100.0, 1.0) * 0.4
        + round(len(list_distinct(toks)) / len(toks)::DOUBLE, 6) * 0.4
        + round({stop} / len(toks)::DOUBLE, 6) * 0.2, 6) AS quality
FROM t
"""


def fingerprint(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """Order-sensitive rolling document fingerprint: left fold
    ``acc = (acc * 131 + h(token)) mod (2^31-1)`` over the token sequence —
    a content+order signature that is stable under re-partitioning
    (per-row computation, no aggregation)."""
    toks = tokens(F.col(text_col))
    fp = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(
            acc * 131 + F.pmod(portable_hash(t, "fp_"), F.lit(MERSENNE31)),
            F.lit(MERSENNE31),
        ),
    )
    return df.select(F.col(id_col).alias("doc"), fp.alias("fingerprint"))


def sql_fingerprint(id_col: str, text_col: str, table: str = "documents") -> str:
    toks = SQL_TOKENS.format(text=text_col)
    h = sql_portable_hash("t", "fp_")
    return f"""
SELECT {id_col} AS doc,
  list_reduce(
    list_prepend(0::BIGINT, list_transform({toks}, t -> ({h}) % {MERSENNE31})),
    (acc, x) -> (acc * 131 + x) % {MERSENNE31}
  ) AS fingerprint
FROM {table}
"""


# BPE-ish pre-tokenization: letter runs, digit runs, punctuation runs,
# each optionally absorbing one leading space (the GPT-2 pre-tokenizer
# shape, restricted to RE2-safe syntax — no lookaheads — so the DuckDB
# oracle runs the IDENTICAL pattern).
BPE_PRETOKEN = " ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+"
_BPE_WORD = " ?[a-z]+"
_BPE_NUM = " ?[0-9]+"
_BPE_PUNCT = " ?[^ a-z0-9]+"


def bpe_token_counts(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """BPE-ish token counting per document: pre-tokenize (letter / digit /
    punctuation runs with leading-space merge, the GPT-2 pre-tokenizer
    shape) and estimate subword count as ceil(len/4) per pre-token — the
    budget number a training pipeline tracks per document. Three native
    regex passes plus one fold; no shuffle."""
    from stock_streaming_data_pipeline_spark.operators.dedup import _norm_text

    norm = _norm_text(F.col(text_col))
    pre = F.regexp_extract_all(norm, F.lit(BPE_PRETOKEN), 0)
    est = F.aggregate(
        pre,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.ceil(F.length(F.trim(t)) / 4.0).cast("long"),
    )
    return df.select(
        F.col(id_col).alias("doc"),
        F.size(pre).cast("long").alias("n_pretokens"),
        F.size(F.regexp_extract_all(norm, F.lit(_BPE_WORD), 0)).cast("long").alias("n_word_runs"),
        F.size(F.regexp_extract_all(norm, F.lit(_BPE_NUM), 0)).cast("long").alias("n_number_runs"),
        F.size(F.regexp_extract_all(norm, F.lit(_BPE_PUNCT), 0)).cast("long").alias("n_punct_runs"),
        est.alias("est_bpe_tokens"),
    )


def sql_bpe_token_counts(id_col: str, text_col: str, table: str = "documents") -> str:
    norm = f"trim(regexp_replace(lower({text_col}), '\\s+', ' ', 'g'))"
    return f"""
WITH t AS (SELECT {id_col} AS doc, {norm} AS norm FROM {table})
SELECT doc,
  len(regexp_extract_all(norm, '{BPE_PRETOKEN}')) AS n_pretokens,
  len(regexp_extract_all(norm, '{_BPE_WORD}')) AS n_word_runs,
  len(regexp_extract_all(norm, '{_BPE_NUM}')) AS n_number_runs,
  len(regexp_extract_all(norm, '{_BPE_PUNCT}')) AS n_punct_runs,
  list_reduce(
    list_prepend(0::BIGINT,
      list_transform(regexp_extract_all(norm, '{BPE_PRETOKEN}'),
                     t -> ceil(length(trim(t)) / 4.0)::BIGINT)),
    (a, x) -> a + x) AS est_bpe_tokens
FROM t
"""


def repetition_scores(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style intra-document repetition metrics: the fraction of all
    2-gram occurrences taken by the single most frequent 2-gram, and the
    fraction of 3-gram occurrences that are repeats of an already-seen
    3-gram. High values mark boilerplate/spam for quality filtering.

    Exact, one explode + grouped agg per n: n-gram occurrence rows (NOT
    deduplicated — repetition is the signal) partial-aggregate on
    (doc, gram), then per-doc max/sums; shuffle is keyed by doc+gram, so
    hot documents spread across their distinct grams."""
    from stock_streaming_data_pipeline_spark.operators.dedup import all_shingles

    out = df.select(F.col(id_col).alias("doc"))
    for n, label in ((2, "2gram"), (3, "3gram")):
        grams = df.select(
            F.col(id_col).alias("doc"),
            F.explode(all_shingles(F.col(text_col), n)).alias("g"),
        )
        per_gram = grams.groupBy("doc", "g").agg(F.count(F.lit(1)).alias("c"))
        per_doc = per_gram.groupBy("doc").agg(
            F.sum("c").alias(f"total_{label}s"),
            F.max("c").alias(f"top_{label}_count"),
            F.count(F.lit(1)).alias(f"distinct_{label}s"),
        )
        out = out.join(per_doc, "doc", "left")
    return out.select(
        "doc",
        F.coalesce("total_2grams", F.lit(0)).alias("total_2grams"),
        F.round(
            F.coalesce(F.col("top_2gram_count") / F.col("total_2grams"), F.lit(0.0)), 6
        ).alias("top_2gram_frac"),
        F.coalesce("total_3grams", F.lit(0)).alias("total_3grams"),
        F.round(
            F.coalesce(
                (F.col("total_3grams") - F.col("distinct_3grams"))
                / F.col("total_3grams"),
                F.lit(0.0),
            ),
            6,
        ).alias("dup_3gram_frac"),
    )


def sql_repetition_scores(id_col: str, text_col: str, table: str = "documents") -> str:
    from stock_streaming_data_pipeline_spark.operators.dedup import sql_all_shingles

    g2 = sql_all_shingles(text_col, 2)
    g3 = sql_all_shingles(text_col, 3)
    return f"""
WITH g2 AS (
  SELECT {id_col} AS doc, g.g AS g FROM {table}, unnest({g2}) AS g(g)
), g3 AS (
  SELECT {id_col} AS doc, g.g AS g FROM {table}, unnest({g3}) AS g(g)
),
p2 AS (SELECT doc, g, count(*) AS c FROM g2 GROUP BY doc, g),
p3 AS (SELECT doc, g, count(*) AS c FROM g3 GROUP BY doc, g),
d2 AS (SELECT doc, sum(c) AS total_2grams, max(c) AS top_2gram_count FROM p2 GROUP BY doc),
d3 AS (SELECT doc, sum(c) AS total_3grams, count(*) AS distinct_3grams FROM p3 GROUP BY doc)
SELECT t.{id_col} AS doc,
  coalesce(d2.total_2grams, 0)::BIGINT AS total_2grams,
  round(coalesce(d2.top_2gram_count / d2.total_2grams::DOUBLE, 0.0), 6) AS top_2gram_frac,
  coalesce(d3.total_3grams, 0)::BIGINT AS total_3grams,
  round(coalesce((d3.total_3grams - d3.distinct_3grams) / d3.total_3grams::DOUBLE, 0.0), 6) AS dup_3gram_frac
FROM {table} t LEFT JOIN d2 ON t.{id_col} = d2.doc LEFT JOIN d3 ON t.{id_col} = d3.doc
"""


# PII scrubbing patterns — RE2-safe (no lookarounds/backrefs) so the
# DuckDB oracle runs the IDENTICAL regexes.
PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
PII_LONG_DIGITS = "\\+?[0-9][0-9 -]{5,}[0-9]"


def redact_pii(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """PII scrubbing: replace email addresses and long digit sequences
    (phone/card-shaped) with typed sentinels, and count what was removed —
    the pre-training privacy pass. Pure per-row regex expressions
    (codegen'd, no shuffle); emails are redacted before digit runs so an
    address with digits counts once as an email."""
    raw = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(raw, F.lit(PII_EMAIL), 0)).cast("long")
    after_email = F.regexp_replace(raw, PII_EMAIL, "<EMAIL>")
    n_digits = F.size(
        F.regexp_extract_all(after_email, F.lit(PII_LONG_DIGITS), 0)
    ).cast("long")
    redacted = F.regexp_replace(after_email, PII_LONG_DIGITS, "<NUMBER>")
    return df.select(
        F.col(id_col).alias("doc"),
        n_emails.alias("n_emails"),
        n_digits.alias("n_number_seqs"),
        redacted.alias("redacted_text"),
    )


def sql_redact_pii(id_col: str, text_col: str, from_clause: str) -> str:
    """DuckDB mirror of :func:`redact_pii`. ``from_clause`` must yield
    columns ``({id_col}, {text_col})``."""
    return f"""
WITH t AS (SELECT {id_col}, {text_col} FROM {from_clause}),
s1 AS (
  SELECT {id_col},
    len(regexp_extract_all({text_col}, '{PII_EMAIL}')) AS n_emails,
    regexp_replace({text_col}, '{PII_EMAIL}', '<EMAIL>', 'g') AS after_email
  FROM t
)
SELECT {id_col} AS doc, n_emails,
  len(regexp_extract_all(after_email, '{PII_LONG_DIGITS}')) AS n_number_seqs,
  regexp_replace(after_email, '{PII_LONG_DIGITS}', '<NUMBER>', 'g') AS redacted_text
FROM s1
"""


def lm_perplexity(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """Bigram-LM perplexity per document (the CCNet-style quality
    filter): train add-one-smoothed bigram statistics on the corpus and
    score every document by its average log-probability,
    ``p(w2|w1) = (C(w1,w2)+1) / (C(w1)+V)``. High perplexity flags
    gibberish/boilerplate for curation.

    All native expressions: bigrams come from posexplode + lead() over
    the per-document token order (one shuffle keyed by doc, bounded by
    document length — no interpreted array lambdas in the hot path);
    count tables partial-aggregate on their keys; the vocabulary size is
    a 1-row aggregate cross-joined back (never a driver collect).

    ``bi`` feeds three consumers (the two count tables and the scoring
    join), so it is materialized once — otherwise
    the posexplode + per-doc window shuffle re-executes up to three
    times whenever Spark's exchange reuse doesn't kick in. The vocab
    branch deliberately hangs off ``tt`` (a plain explode scan), not the
    windowed lineage."""
    from pyspark.sql import Window

    from stock_streaming_data_pipeline_spark.operators.dedup import tokens

    t = df.select(F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("toks"))
    tt = t.filter(F.size("toks") >= 2)
    ex = tt.select("doc", F.posexplode("toks").alias("pos", "w1"))
    w = Window.partitionBy("doc").orderBy("pos")
    bi = materialize(
        ex.withColumn("w2", F.lead("w1").over(w))
        .filter(F.col("w2").isNotNull())
        .select("doc", "w1", "w2"),
        eager=False,
    )
    cb = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    cu = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    vocab = tt.select(F.explode("toks").alias("w1")).agg(
        F.countDistinct("w1").alias("v")
    )
    logp = F.log(
        (F.col("cb") + F.lit(1.0))
        / (F.col("cu").cast("double") + F.col("v").cast("double"))
    )
    scored = (
        bi.join(cb, ["w1", "w2"])
        .join(cu, "w1")
        .crossJoin(F.broadcast(vocab))
        .select("doc", logp.alias("logp"))
    )
    avg6 = F.round(F.avg("logp"), 6)
    return scored.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        avg6.alias("avg_logp"),
        F.round(F.exp(-avg6), 4).alias("ppl"),
    )


def sql_lm_perplexity(id_col: str, text_col: str, table: str = "documents") -> str:
    toks = f"list_filter(regexp_split_to_array(lower({text_col}), '\\s+'), t -> t <> '')"
    return f"""
WITH t AS (SELECT {id_col} AS doc, {toks} AS toks FROM {table}),
tt AS (SELECT doc, toks FROM t WHERE len(toks) >= 2),
b AS (
  SELECT doc, toks[i] AS w1, toks[i + 1] AS w2
  FROM tt, unnest(range(1, len(toks))) AS u(i)
),
cb AS (SELECT w1, w2, count(*) AS cb FROM b GROUP BY 1, 2),
cu AS (SELECT w1, count(*) AS cu FROM b GROUP BY 1),
v AS (SELECT count(DISTINCT tok) AS v
      FROM (SELECT unnest(toks) AS tok FROM tt)),
scored AS (
  SELECT b.doc, ln((cb.cb + 1.0) / (cu.cu + v.v)) AS logp
  FROM b JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v
)
SELECT doc, count(*) AS n_bigrams,
       round(avg(logp), 6) AS avg_logp,
       round(exp(-round(avg(logp), 6)), 4) AS ppl
FROM scored GROUP BY doc
"""


def token_stats(df: DataFrame, *, text_col: str, group_col: str) -> DataFrame:
    """Corpus-level token statistics per group (lang/source): documents,
    total/distinct tokens, avg doc length."""
    toks = tokens(F.col(text_col))
    per_doc = df.select(
        F.col(group_col).alias("grp"),
        F.size(toks).alias("n_tok"),
        toks.alias("toks"),
    )
    exploded = per_doc.select("grp", F.explode("toks").alias("t"))
    vocab = exploded.groupBy("grp").agg(
        F.countDistinct("t").alias("vocab_size"), F.count(F.lit(1)).alias("total_tokens")
    )
    docs = per_doc.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_tok"), 6).alias("avg_doc_tokens"),
    )
    return docs.join(vocab, "grp")


# ---------------------------------------------------------------------------
# Rule-based document filters (the C4 / Gopher curation recipes)
# ---------------------------------------------------------------------------

# Evaluation order is part of the contract: reject_reason is the FIRST
# failing rule in this order (both engines replay the same chain).
FILTER_RULES = (
    "too_few_words",       # n_words < 20
    "too_many_words",      # n_words > 100000
    "mean_word_len",       # mean word length outside [3, 10]
    "max_word_len",        # any token longer than 25 chars
    "alpha_frac",          # < 80% of tokens contain a letter
    "stopword_count",      # fewer than 2 distinct English stopwords
    "hash_frac",           # '#' chars > 10% of text
    "ellipsis_frac",       # '...' occurrences > 30% of tokens
    "boilerplate",         # contains 'lorem ipsum' or '{'
)


def c4_gopher_filters(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """Rule-based document filtering in the style of the public C4 and
    Gopher curation recipes (word-count bounds, mean/max word length,
    alpha-token fraction, stopword presence, symbol ratios, boilerplate
    markers): per-doc metrics, a keep flag, and the first failing rule.
    Pure native expressions — one linear codegen pass, map-only at any
    scale; thresholds are the standard published ones except the
    word-count floor (20, scaled to this corpus's short synthetic docs).
    """
    toks = tokens(F.col(text_col))
    n_words = F.size(toks).cast("long")
    sum_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
    )
    mean_wl = F.round(sum_len / n_words, 6)
    max_wl = F.array_max(F.transform(toks, F.length)).cast("long")
    alpha_cnt = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    alpha_frac = F.round(alpha_cnt / n_words, 6)
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in STOPWORDS["en"]]),
        )
    ).cast("long")
    text_len = F.length(text_col)
    hash_frac = F.round(
        (text_len - F.length(F.replace(F.col(text_col), F.lit("#"), F.lit(""))))
        / text_len,
        6,
    )
    ellipsis_cnt = F.coalesce(
        (
            text_len
            - F.length(F.replace(F.col(text_col), F.lit("..."), F.lit("")))
        )
        / 3,
        F.lit(0),
    )
    ellipsis_frac = F.round(ellipsis_cnt / n_words, 6)
    lower_txt = F.lower(F.col(text_col))
    boiler = lower_txt.contains("lorem ipsum") | lower_txt.contains("{")

    fails = {
        "too_few_words": n_words < 20,
        "too_many_words": n_words > 100_000,
        "mean_word_len": (mean_wl < 3.0) | (mean_wl > 10.0),
        "max_word_len": max_wl > 25,
        "alpha_frac": alpha_frac < 0.8,
        "stopword_count": n_stop < 2,
        "hash_frac": hash_frac > 0.1,
        "ellipsis_frac": ellipsis_frac > 0.3,
        "boilerplate": boiler,
    }
    reason = F.lit(None).cast("string")
    for rule in reversed(FILTER_RULES):  # first rule in order wins
        reason = F.when(fails[rule], F.lit(rule)).otherwise(reason)
    return df.select(
        F.col(id_col).alias("doc"),
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
        n_stop.alias("n_stopwords"),
        reason.isNull().alias("keep"),
        reason.alias("reject_reason"),
    )


def sql_c4_gopher_filters(
    id_col: str, text_col: str, table: str = "documents"
) -> str:
    """DuckDB mirror of :func:`c4_gopher_filters` (same rule order)."""
    toks = SQL_TOKENS.format(text=text_col)
    stops = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
WITH m AS (
  SELECT {id_col} AS doc,
         len(toks)::BIGINT AS n_words,
         round(list_reduce(list_prepend(0::BIGINT,
                 list_transform(toks, t -> length(t)::BIGINT)),
               (a, x) -> a + x)::DOUBLE / len(toks), 6) AS mean_word_len,
         list_max(list_transform(toks, t -> length(t)::BIGINT)) AS max_wl,
         round(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))::DOUBLE
               / len(toks), 6) AS alpha_frac,
         len(list_intersect(list_distinct(toks), [{stops}]))::BIGINT
           AS n_stopwords,
         round((length({text_col}) - length(replace({text_col}, '#', '')))::DOUBLE
               / length({text_col}), 6) AS hash_frac,
         round(((length({text_col})
                 - length(replace({text_col}, '...', ''))) / 3)::DOUBLE
               / len(toks), 6) AS ellipsis_frac,
         (contains(lower({text_col}), 'lorem ipsum')
          OR contains(lower({text_col}), '{{')) AS boiler
  FROM (SELECT {id_col}, {text_col}, {toks} AS toks FROM {table})
)
SELECT doc, n_words, mean_word_len, alpha_frac, n_stopwords,
       (CASE
          WHEN n_words < 20 THEN 'too_few_words'
          WHEN n_words > 100000 THEN 'too_many_words'
          WHEN mean_word_len < 3.0 OR mean_word_len > 10.0 THEN 'mean_word_len'
          WHEN max_wl > 25 THEN 'max_word_len'
          WHEN alpha_frac < 0.8 THEN 'alpha_frac'
          WHEN n_stopwords < 2 THEN 'stopword_count'
          WHEN hash_frac > 0.1 THEN 'hash_frac'
          WHEN ellipsis_frac > 0.3 THEN 'ellipsis_frac'
          WHEN boiler THEN 'boilerplate'
        END) IS NULL AS keep,
       CASE
          WHEN n_words < 20 THEN 'too_few_words'
          WHEN n_words > 100000 THEN 'too_many_words'
          WHEN mean_word_len < 3.0 OR mean_word_len > 10.0 THEN 'mean_word_len'
          WHEN max_wl > 25 THEN 'max_word_len'
          WHEN alpha_frac < 0.8 THEN 'alpha_frac'
          WHEN n_stopwords < 2 THEN 'stopword_count'
          WHEN hash_frac > 0.1 THEN 'hash_frac'
          WHEN ellipsis_frac > 0.3 THEN 'ellipsis_frac'
          WHEN boiler THEN 'boilerplate'
       END AS reject_reason
FROM m
"""

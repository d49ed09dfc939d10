"""Text-analysis operators over the `documents` table (SURVEY.md §2.10 /
north-star extensions): token counting, quality scoring, language ID,
document fingerprinting.

All hot-path expressions are built-in pyspark.sql.functions (JVM-side,
whole-stage-codegen) — no Python UDFs. Regexes restricted to the syntax
subset shared by Java regex (Spark) and RE2 (DuckDB oracle): classes,
alternation, \\b, \\s, \\w. Determinism notes: ratios are single double
divisions (exact given exact inputs); no transcendental functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.numeric import round_half_up, round_half_up_sql

# token regex: words OR single non-word-non-space symbols (BPE-ish split)
TOKEN_RE = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"
STOPWORD_RE = r"\b(the|a|an|of|to|and|in|is|it|for|on|with)\b"
PUNCT_RE = r"[^\w\s]"

LANG_STOPWORDS = {
    "en": r"\b(the|and|of|to|in|is|that|for)\b",
    "de": r"\b(der|die|das|und|ist|nicht|mit|ein)\b",
    "fr": r"\b(le|la|les|et|est|une|pour|dans)\b",
    "es": r"\b(el|los|las|y|es|una|por|para)\b",
    "zh": "[一-鿿]",
}
# deterministic tie order (first wins on equal scores)
LANG_PRIORITY = ["en", "de", "fr", "es", "zh"]


def _count_re(col, pattern: str):
    return F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0)))


# --- single-column signal builders (reused by training_corpus so the
# --- composed corpus filter stays ONE scan of documents) ------------------

def ws_tokens_col(t) -> F.Column:
    return F.size(F.split(F.trim(t), r"\s+")).cast("int")


def ws_words_col(t) -> F.Column:
    """Lowercased whitespace-word array — THE canonical word tokenization
    shared by every vocab/overlap/diversity/shingle/span consumer (SQL
    twin: string_split_regex(lower(trim(x)), '\\s+')). Centralized so a
    normalization tweak cannot silently diverge word sets between ops."""
    return F.split(F.lower(F.trim(t)), r"\s+")


def quality_score_col(t) -> F.Column:
    # Precondition: non-empty text (the ratios divide by n_chars/n_tokens;
    # an empty document is a DIVIDE_BY_ZERO under ANSI mode). The corpus
    # guarantees it; an ingest path that can't should filter length(t) > 0.
    n_chars = F.length(t).cast("double")
    n_tokens = F.size(F.split(F.trim(t), r"\s+")).cast("double")
    n_punct = _count_re(t, PUNCT_RE).cast("double")
    n_stop = _count_re(F.lower(t), STOPWORD_RE).cast("double")
    nonspace = F.length(F.regexp_replace(t, r"\s", "")).cast("double")
    score = F.least(
        F.lit(1.0),
        F.greatest(
            F.lit(0.0),
            F.lit(0.2)
            + F.lit(0.08) * (nonspace / n_tokens)
            - F.lit(2.0) * (n_punct / n_chars)
            + F.lit(0.5) * (n_stop / n_tokens),
        ),
    )
    return round_half_up(score, 4)


def predicted_lang_col(t) -> F.Column:
    lo = F.lower(t)
    scores = {k: _count_re(lo, pat).cast("int") for k, pat in LANG_STOPWORDS.items()}
    mx = F.greatest(*scores.values())
    pred = None
    for k in LANG_PRIORITY:
        cond = (scores[k] == mx) & (mx > 0)
        pred = F.when(cond, F.lit(k)) if pred is None else pred.when(cond, F.lit(k))
    return pred.otherwise(F.lit("und"))


# ---------------------------------------------------------------------------
# Token counting: whitespace tokens + BPE-ish regex tokens.
# ---------------------------------------------------------------------------

def token_counts(documents: DataFrame) -> DataFrame:
    t = F.col("text")
    return documents.select(
        "doc_id",
        ws_tokens_col(t).alias("ws_tokens"),
        _count_re(t, TOKEN_RE).cast("int").alias("re_tokens"),
        F.length(t).cast("int").alias("n_chars"),
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_counts(load_table(spark, sf_dir, "documents"))


SQL_TOKEN_COUNTS = f"""
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS INT) AS re_tokens,
       CAST(length(text) AS INT) AS n_chars
FROM documents
"""


# ---------------------------------------------------------------------------
# Quality scoring: length / punctuation / stopword-ratio heuristics.
# Score is a clamped linear combination (no exp/log → cross-engine exact).
# ---------------------------------------------------------------------------

def text_quality(documents: DataFrame) -> DataFrame:
    t = F.col("text")
    n_chars = F.length(t).cast("double")
    n_tokens = F.size(F.split(F.trim(t), r"\s+")).cast("double")
    n_punct = _count_re(t, PUNCT_RE).cast("double")
    n_stop = _count_re(F.lower(t), STOPWORD_RE).cast("double")
    nonspace = F.length(F.regexp_replace(t, r"\s", "")).cast("double")
    avg_tok = nonspace / n_tokens
    punct_ratio = n_punct / n_chars
    stop_ratio = n_stop / n_tokens
    return documents.select(
        "doc_id",
        round_half_up(avg_tok, 4).alias("avg_token_len"),
        round_half_up(punct_ratio, 4).alias("punct_ratio"),
        round_half_up(stop_ratio, 4).alias("stopword_ratio"),
        quality_score_col(t).alias("quality_score"),
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_quality(load_table(spark, sf_dir, "documents", spread=True))


# --- single-source SQL snippets for the quality signals (DuckDB twins of
# --- the column builders above; quality_deciles and any future consumer
# --- MUST use these rather than re-spelling the formula, so the Spark
# --- and SQL sides can never drift apart per-consumer) -------------------

_SQL_N_CHARS = "CAST(length({c}) AS DOUBLE)"
_SQL_N_TOKENS = "CAST(len(string_split_regex(trim({c}), '\\s+')) AS DOUBLE)"
_SQL_N_PUNCT = f"CAST(len(regexp_extract_all({{c}}, '{PUNCT_RE}')) AS DOUBLE)"
_SQL_N_STOP = f"CAST(len(regexp_extract_all(lower({{c}}), '{STOPWORD_RE}')) AS DOUBLE)"
_SQL_NONSPACE = "CAST(length(regexp_replace({c}, '\\s', '', 'g')) AS DOUBLE)"


def quality_score_sql(col: str = "text") -> str:
    """DuckDB scalar twin of quality_score_col — the ONE place the score
    formula exists on the SQL side."""
    n_tokens = _SQL_N_TOKENS.format(c=col)
    return (
        "floor(least(1.0, greatest(0.0,\n"
        f"      0.2 + 0.08 * ({_SQL_NONSPACE.format(c=col)} / {n_tokens})\n"
        f"          - 2.0 * ({_SQL_N_PUNCT.format(c=col)} / {_SQL_N_CHARS.format(c=col)})\n"
        f"          + 0.5 * ({_SQL_N_STOP.format(c=col)} / {n_tokens})\n"
        "      )) * 10000.0 + 0.5) / 10000.0"
    )


SQL_TEXT_QUALITY = f"""
WITH m AS (
  SELECT doc_id, text,
         {_SQL_N_CHARS.format(c='text')} AS n_chars,
         {_SQL_N_TOKENS.format(c='text')} AS n_tokens,
         {_SQL_N_PUNCT.format(c='text')} AS n_punct,
         {_SQL_N_STOP.format(c='text')} AS n_stop,
         {_SQL_NONSPACE.format(c='text')} AS nonspace
  FROM documents
)
SELECT doc_id,
       floor((nonspace / n_tokens) * 10000.0 + 0.5) / 10000.0 AS avg_token_len,
       floor((n_punct / n_chars) * 10000.0 + 0.5) / 10000.0 AS punct_ratio,
       floor((n_stop / n_tokens) * 10000.0 + 0.5) / 10000.0 AS stopword_ratio,
       {quality_score_sql('text')} AS quality_score
FROM m
"""


# ---------------------------------------------------------------------------
# Language ID: n-gram/stopword-hit heuristic, deterministic argmax.
# ---------------------------------------------------------------------------

def lang_id(documents: DataFrame) -> DataFrame:
    t = F.lower(F.col("text"))
    scores = {k: _count_re(t, pat).cast("int") for k, pat in LANG_STOPWORDS.items()}
    # CASE chain (inside predicted_lang_col): first language in priority
    # order hitting the max wins ties
    return documents.select(
        "doc_id",
        *[scores[k].alias(f"score_{k}") for k in LANG_PRIORITY],
        predicted_lang_col(F.col("text")).alias("predicted_lang"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(load_table(spark, sf_dir, "documents", spread=True))


def _lang_sql() -> str:
    score_cols = ",\n         ".join(
        f"CAST(len(regexp_extract_all(lower(text), '{pat}')) AS INT) AS score_{k}"
        for k, pat in LANG_STOPWORDS.items()
    )
    mx = "greatest(" + ", ".join(f"score_{k}" for k in LANG_PRIORITY) + ")"
    case = "CASE " + " ".join(
        f"WHEN score_{k} = {mx} AND {mx} > 0 THEN '{k}'" for k in LANG_PRIORITY
    ) + " ELSE 'und' END"
    return f"""
WITH s AS (
  SELECT doc_id,
         {score_cols}
  FROM documents
)
SELECT doc_id, {', '.join('score_' + k for k in LANG_PRIORITY)},
       {case} AS predicted_lang
FROM s
"""


SQL_LANG_ID = _lang_sql()


# ---------------------------------------------------------------------------
# Document fingerprinting: md5 of whitespace-normalized lowercased text
# (content-defined identity for exact dedup / provenance).
# ---------------------------------------------------------------------------

def fingerprints(documents: DataFrame) -> DataFrame:
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return documents.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        F.substring(F.md5(norm), 1, 8).alias("fp_prefix"),
    )


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprints(load_table(spark, sf_dir, "documents"))


SQL_FINGERPRINTS = """
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
       substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 8) AS fp_prefix
FROM documents
"""


# ---------------------------------------------------------------------------
# BPE pair-merge statistics: the first iteration of byte-pair-encoding
# tokenizer training — count adjacent token pairs corpus-wide, emit the
# top merges. At tokenizer-training scale this IS the distributed job (the
# merge loop re-runs it); one scan -> in-row pair expansion (no self-join,
# no posexplode position join) -> word-count-shaped hash agg (map-side
# partial combine bounds the shuffle by distinct pairs per partition, not
# rows) -> TakeOrdered top-k. Guard: sequence(1, n-1) would DESCEND for
# n=1 (Spark generates reversed ranges), hence the size >= 2 filter.
# ---------------------------------------------------------------------------

PAIR_TOPK = 20


def bpe_pair_stats(documents: DataFrame, k: int = PAIR_TOPK) -> DataFrame:
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), F.lit(0))
    pairs = (
        documents.select(toks.alias("t"))
        .filter(F.size("t") >= 2)
        # Spark [] subscript is 0-based (element_at is 1-based): t[i-1],t[i]
        .select(
            F.explode(
                F.expr("transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))")
            ).alias("pair")
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(k)
    )


def q_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_pair_stats(load_table(spark, sf_dir, "documents"))


SQL_BPE_PAIR_STATS = f"""
WITH toks AS (
  SELECT regexp_extract_all(lower(text), '{TOKEN_RE}') AS t FROM documents
),
pairs AS (
  SELECT t[i] || ' ' || t[i + 1] AS pair
  FROM toks, LATERAL unnest(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2
)
SELECT pair, CAST(count(*) AS BIGINT) AS cnt
FROM pairs
GROUP BY pair
ORDER BY cnt DESC, pair ASC
LIMIT {PAIR_TOPK}
"""


QUERIES = {
    "token_counts": q_token_counts,
    "text_quality": q_text_quality,
    "lang_id": q_lang_id,
    "fingerprints": q_fingerprints,
    "bpe_pair_stats": q_bpe_pair_stats,
}

ORACLES = {
    "token_counts": SQL_TOKEN_COUNTS,
    "text_quality": SQL_TEXT_QUALITY,
    "lang_id": SQL_LANG_ID,
    "fingerprints": SQL_FINGERPRINTS,
    "bpe_pair_stats": SQL_BPE_PAIR_STATS,
}


# ---------------------------------------------------------------------------
# Language-ID confusion matrix (r3): the supervised evaluation of lang_id
# against the corpus's labeled `lang` column — per (true, predicted) cell
# count plus the true-label recall share. The health check a real
# pipeline runs before trusting a heuristic classifier for mixture
# weighting. One scan + one tiny agg (<= 6x5 cells); recall is a window
# over per-label partitions of <= 6 rows.
# ---------------------------------------------------------------------------

def lang_id_confusion(documents: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    cells = documents.select(
        F.col("lang").alias("true_lang"),
        predicted_lang_col(F.col("text")).alias("predicted_lang"),
    ).groupBy("true_lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("true_lang")
    return cells.select(
        "true_lang",
        "predicted_lang",
        "n",
        F.floor(
            (F.col("n").cast("double") / F.sum("n").over(w).cast("double"))
            * F.lit(1_000_000.0)
            + F.lit(0.5)
        ).cast("long").alias("share_ppm"),
        (F.col("true_lang") == F.col("predicted_lang")).alias("correct"),
    )


def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id_confusion(load_table(spark, sf_dir, "documents"))


def _lang_confusion_sql() -> str:
    score = {
        k: f"len(regexp_extract_all(lower(text), '{pat}'))"
        for k, pat in LANG_STOPWORDS.items()
    }
    mx = "greatest(" + ", ".join(score[k] for k in LANG_PRIORITY) + ")"
    case = "CASE " + " ".join(
        f"WHEN {score[k]} = {mx} AND {mx} > 0 THEN '{k}'" for k in LANG_PRIORITY
    ) + " ELSE 'und' END"
    return f"""
WITH cells AS (
  SELECT lang AS true_lang, {case} AS predicted_lang,
         CAST(count(*) AS BIGINT) AS n
  FROM documents
  GROUP BY lang, {case}
)
SELECT true_lang, predicted_lang, n,
       CAST(floor((CAST(n AS DOUBLE)
                   / CAST(SUM(n) OVER (PARTITION BY true_lang) AS DOUBLE))
                  * 1000000.0 + 0.5) AS BIGINT) AS share_ppm,
       true_lang = predicted_lang AS correct
FROM cells
"""


SQL_LANG_ID_CONFUSION = _lang_confusion_sql()

QUERIES["lang_id_confusion"] = q_lang_id_confusion
ORACLES["lang_id_confusion"] = SQL_LANG_ID_CONFUSION


# ---------------------------------------------------------------------------
# Token Gini diversity (r3): vocabulary concentration per document,
# 1 - Σ (tf/total)² — the rational-arithmetic diversity signal (entropy
# without log, which is deliberately banned repo-wide: libm log differs
# across engines; squares and one division are IEEE-exact). Low diversity
# = repetitive/templated text — complements repetition_ratio (which
# detects repeated n-grams; this detects skewed unigram mass). Shape:
# explode → (doc, word) count → per-doc Σtf²/total² — two hash aggs, the
# word-level one map-side combined.
# ---------------------------------------------------------------------------

def token_gini_diversity(documents: DataFrame) -> DataFrame:
    words = documents.select(
        "doc_id",
        F.explode(ws_words_col(F.col("text"))).alias("word"),
    )
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    per_doc = tf.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.col("tf") * F.col("tf")).cast("long").alias("sum_tf2"),
    )
    gini = F.lit(1.0) - (
        F.col("sum_tf2").cast("double")
        / (F.col("n_tokens").cast("double") * F.col("n_tokens").cast("double"))
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        round_half_up(gini, 6).alias("gini_diversity"),
    )


def q_token_gini_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_gini_diversity(load_table(spark, sf_dir, "documents"))


SQL_TOKEN_GINI_DIVERSITY = """
WITH words AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
  FROM documents
),
tf AS (
  SELECT doc_id, word, count(*) AS tf FROM words GROUP BY doc_id, word
),
per_doc AS (
  SELECT doc_id,
         CAST(SUM(tf) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(SUM(tf * tf) AS BIGINT) AS sum_tf2
  FROM tf GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct,
       floor((1.0 - CAST(sum_tf2 AS DOUBLE)
              / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)))
             * 1000000.0 + 0.5) / 1000000.0 AS gini_diversity
FROM per_doc
"""

QUERIES["token_gini_diversity"] = q_token_gini_diversity
ORACLES["token_gini_diversity"] = SQL_TOKEN_GINI_DIVERSITY

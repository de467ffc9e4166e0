"""Text analysis operators (SURVEY.md §2C T1/T2/T8/T9 + the LLM-pipeline
text suite): sentiment, key phrases, language id, quality scoring, token
counting, document fingerprinting.

T1/T2 are the reference's declared-but-unimplemented Comprehend stage
(reference main.tf:100-104 grants comprehend:BatchDetectSentiment /
BatchDetectKeyPhrases; no code calls it — contrast main.py:39).  We
implement them natively on built-in expressions: sentiment as
per-document lexicon hit counts, key phrases as
split→explode→count→top-k.

All scoring is deterministic and lexicon-based so results are auditable
and oracle-checkable.  The Spark-side sentiment architecture follows the
pattern of "Large Scale Sentiment Analysis on Twitter with Spark" (EDBT
2016 — PAPERS.md): tweet-level lexicon scoring parallelized over
partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fanstats_producer_spark.functions.num import qint, sql_qint
from fanstats_producer_spark.io import load, spread
from fanstats_producer_spark.registry import query

# Deterministic lexicons over the fixture vocabulary.
POSITIVE = ("fast", "big", "value", "spark")
NEGATIVE = ("slow", "small", "dup")
STOPWORDS = ("a", "the")

_POS_SQL = "('fast', 'big', 'value', 'spark')"
_NEG_SQL = "('slow', 'small', 'dup')"
_STOP_SQL = "('a', 'the')"


# --- x01: sentiment (T1; Comprehend BatchDetectSentiment stand-in) ------------
@query(
    "x01_sentiment",
    oracle=f"""
    SELECT doc_id,
           {sql_qint(f'''CAST(len(list_filter(toks, x -> x IN {_POS_SQL}))
                 - len(list_filter(toks, x -> x IN {_NEG_SQL})) AS DOUBLE)
                 / len(toks)''')} AS sentiment_e6,
           CASE WHEN len(list_filter(toks, x -> x IN {_POS_SQL}))
                     > len(list_filter(toks, x -> x IN {_NEG_SQL})) THEN 'positive'
                WHEN len(list_filter(toks, x -> x IN {_POS_SQL}))
                     < len(list_filter(toks, x -> x IN {_NEG_SQL})) THEN 'negative'
                ELSE 'neutral' END AS label
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    """,
)
def x01_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    p = F.size(F.filter(toks, lambda x: x.isin(*POSITIVE)))
    n = F.size(F.filter(toks, lambda x: x.isin(*NEGATIVE)))
    return d.select(
        "doc_id",
        qint((p - n).cast("double") / F.size(toks)).alias("sentiment_e6"),
        F.when(p > n, "positive")
        .when(p < n, "negative")
        .otherwise("neutral")
        .alias("label"),
    )


# --- x02: key phrases (T2; BatchDetectKeyPhrases stand-in) ---------------------
@query(
    "x02_keyphrases",
    oracle=f"""
    SELECT source, term, n, CAST(rn AS INT) AS rn FROM (
      SELECT source, term, n,
             row_number() OVER (PARTITION BY source ORDER BY n DESC, term) AS rn
      FROM (SELECT source, term, COUNT(*) AS n
            FROM (SELECT source, unnest(string_split(text, ' ')) AS term
                  FROM documents)
            GROUP BY source, term)
      WHERE term NOT IN {_STOP_SQL})
    WHERE rn <= 3
    """,
)
def x02_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 non-stopword terms per source — split→explode→count→top-k,
    all built-ins (JVM-side; zero Python in the hot path)."""
    d = load(spark, sf_dir, "documents")
    terms = spread(d).select("source", F.explode(F.split("text", " ")).alias("term")).filter(
        ~F.col("term").isin(*STOPWORDS)
    )
    counts = terms.groupBy("source", "term").agg(F.count("*").alias("n"))
    w = Window.partitionBy("source").orderBy(F.col("n").desc(), F.col("term"))
    return counts.select("source", "term", "n", F.row_number().over(w).alias("rn")).filter(
        F.col("rn") <= 3
    )


# --- x08: language id (T9 generalized; n-gram/stopword heuristic) --------------
@query(
    "x08_langid",
    oracle=f"""
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN CAST(len(list_filter(toks, x -> x IN {_STOP_SQL})) AS DOUBLE)
                     / len(toks) > 0.05
                THEN 'en' ELSE 'unknown' END AS predicted_lang
    FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
    """,
)
def x08_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-density language heuristic (the fixture vocabulary is
    synthetic English-ish tokens, so the only separable signal is English
    function-word density; a real deployment would swap in a
    fastText-style model behind a pandas UDF)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    ratio = stop_hits.cast("double") / F.size(toks)
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.when(ratio > 0.05, "en").otherwise("unknown").alias("predicted_lang"),
    )


# --- x09: quality scoring -------------------------------------------------------
@query(
    "x09_quality",
    oracle=f"""
    SELECT doc_id,
           n_chars,
           len(toks) AS n_tokens,
           {sql_qint("CAST(n_chars AS DOUBLE) / len(toks)")} AS avg_token_len_e6,
           {sql_qint(f'''CAST(len(list_filter(toks, x -> x IN {_STOP_SQL}))
                 AS DOUBLE) / len(toks)''')} AS stopword_ratio_e6,
           {sql_qint("CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)")}
             AS type_token_ratio_e6,
           CASE WHEN len(toks) BETWEEN 10 AND 1000
                 AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) > 0.15
                THEN 1 ELSE 0 END AS passes_quality
    FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents)
    """,
)
def x09_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / stopword-ratio / type-token-ratio quality gates — the
    standard cheap pre-filters of an LLM training-data pipeline, all
    expression-level (codegen'd, pushdown-friendly)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    return d.select(
        "doc_id",
        "n_chars",
        n_tokens.cast("long").alias("n_tokens"),
        qint(F.col("n_chars").cast("double") / n_tokens).alias(
            "avg_token_len_e6"
        ),
        qint(
            F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast("double")
            / n_tokens
        ).alias("stopword_ratio_e6"),
        qint(ttr).alias("type_token_ratio_e6"),
        F.when((n_tokens.between(10, 1000)) & (ttr > 0.15), 1).otherwise(0).alias(
            "passes_quality"
        ),
    )


# --- x10: token counting (whitespace + BPE-ish regex) ----------------------------
@query(
    "x10_tokencount",
    oracle=r"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS re_tokens,
           CAST(ceil(CAST(n_chars AS DOUBLE) / 4) AS BIGINT) AS approx_bpe_tokens
    FROM documents
    """,
)
def x10_tokencount(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.regexp_count("text", F.lit("[a-z]+|[0-9]+")).cast("long").alias("re_tokens"),
        F.ceil(F.col("n_chars").cast("double") / 4).cast("long").alias("approx_bpe_tokens"),
    )


# --- x11: document fingerprinting (rolling hash) ----------------------------------
# Polynomial rolling hash over the token stream, pure integer arithmetic
# (base 131, mod 1e9+7) so Spark's higher-order `aggregate` and DuckDB's
# `list_reduce` produce identical values.  Content-defined fingerprints
# like this are the building block for shift-robust chunk dedup at scale.
@query(
    "x11_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                 x -> CAST(ascii(x) * 31 + length(x) AS BIGINT))),
             (a, b) -> (a * 131 + b) % 1000000007) AS fingerprint
    FROM documents
    """,
)
def x11_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok_vals = F.transform(
        F.split("text", " "),
        lambda x: (F.ascii(x) * 31 + F.length(x)).cast("long"),
    )
    rolling = F.aggregate(
        tok_vals,
        F.lit(0).cast("long"),
        lambda acc, v: (acc * 131 + v) % F.lit(1000000007).cast("long"),
    )
    return d.select("doc_id", rolling.alias("fingerprint"))

"""Relevance scoring operators (SURVEY.md §2C text-analysis family):
TF-IDF term weighting and BM25 ranked retrieval over `documents`.

The reference delegates all text analytics to managed services (its
Comprehend grants, main.tf:100-104, cover sentiment/key-phrases only);
a corpus engine additionally needs classic lexical relevance — TF-IDF
for feature extraction / keyword weighting and BM25 for query-time
ranking — so both are first-class operators here.

Scale design:
- One explode of the token stream feeds term frequencies; document
  frequencies and corpus size are tiny aggregates that Catalyst
  broadcasts to the scoring join (no shuffle of the corpus by term for
  the N / df side).
- All ranking keys are integers (tf, df, token) or decimal-quantized
  sums — no float-order nondeterminism anywhere, so results are
  bit-stable across partitionings and engines (the 1000-executor
  reproducibility property, same rationale as functions/num.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fanstats_producer_spark.functions.num import qint, sql_qint
from fanstats_producer_spark.io import load, spread
from fanstats_producer_spark.registry import query


def _doc_terms(docs: DataFrame) -> DataFrame:
    """(doc_id, token, tf, dl): term frequency + document length.

    The explicit repartition("doc_id") makes this the ONLY exchange in
    the x22/x23 plans: HashPartitioning(doc_id) satisfies the clustered
    distribution of the (doc_id, dl, token) aggregate (subset rule), of
    the per-doc ranking window, and of x23's per-doc score aggregate —
    so the downstream stages add sorts but never reshuffle.  (The
    default plan paid two exchanges: one for the aggregate keyed on all
    three columns, another to re-cluster by doc_id for the window.)
    """
    # Materialize the token array in its own projection (the dedup
    # with_shingles lesson): inlined, `dl = size(split(text))` would
    # re-run split once per EXPLODED row — O(tokens × doc_length) work,
    # measured 2.5x slower at sf0.1.  As a non-cheap multiply-referenced
    # alias, CollapseProject keeps the projections separate and each row
    # tokenizes exactly once.
    # spread BEFORE tokenizing (io.spread on doc_id): the raw docs — not
    # 1.5M exploded token rows — take the one exchange, the explode runs
    # N-way instead of inside the single scan task, and Generate/Project
    # preserve HashPartitioning(doc_id) so the aggregate/window chain
    # still adds no further exchange.
    toks = spread(docs, "doc_id").withColumn("__toks", F.split("text", " ")).select(
        "doc_id",
        F.size("__toks").alias("dl"),
        F.explode("__toks").alias("token"),
    )
    return toks.groupBy("doc_id", "dl", "token").agg(
        F.count("*").alias("tf")
    )


# --- x22: TF-IDF top terms per document ----------------------------------------
_X22_TOP = 3


@query(
    "x22_tfidf",
    oracle=f"""
    WITH terms AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl,
             unnest(string_split(text, ' ')) AS token
      FROM documents),
    tf AS (
      SELECT doc_id, dl, token, COUNT(*) AS tf
      FROM terms GROUP BY 1, 2, 3),
    df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, df.df,
             {sql_qint('''(CAST(tf.tf AS DOUBLE) / tf.dl)
                   * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0)''')} AS tfidf_e6,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf DESC, df.df ASC, tf.token ASC) AS rnk
      FROM tf JOIN df USING (token) CROSS JOIN n)
    SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           tfidf_e6, CAST(rnk AS INT) AS rnk
    FROM scored WHERE rnk <= {_X22_TOP}
    """,
)
def x22_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} TF-IDF terms per document.

    tfidf = (tf/dl) * (ln((N+1)/(df+1)) + 1) — smoothed idf.  The per-doc
    ranking deliberately orders by the INTEGER triple (tf desc, df asc,
    token) rather than the float score: the selected rows are then
    engine- and partitioning-independent, and the float column is just a
    deterministic annotation (identical double expression both sides).
    """
    docs = load(spark, sf_dir, "documents")
    tf = _doc_terms(docs)
    # tf already has exactly one row per (doc, token), so document
    # frequency is a plain count — no count-distinct expand.
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        # vocabulary ≪ corpus: broadcast the (token, df) aggregate so the
        # (doc, token) frame is not reshuffled by token for the join
        tf.join(F.broadcast(df_), "token")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf_e6",
            qint(
                (F.col("tf").cast("double") / F.col("dl"))
                * (
                    F.log(
                        (F.col("n_docs") + F.lit(1.0))
                        / (F.col("df") + F.lit(1.0))
                    )
                    + F.lit(1.0)
                )
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _X22_TOP)
        .select("doc_id", "token", "tf", "df", "tfidf_e6", "rnk")
    )


# --- x23: BM25 ranked retrieval -------------------------------------------------
_X23_QUERY = ("spark", "window", "vector")
_X23_K1 = 1.2
_X23_B = 0.75
_X23_TOP = 10


@query(
    "x23_bm25",
    oracle=f"""
    WITH terms AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl,
             unnest(string_split(text, ' ')) AS token
      FROM documents),
    tf AS (
      SELECT doc_id, dl, token, COUNT(*) AS tf
      FROM terms GROUP BY 1, 2, 3),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)
               / COUNT(*) AS avgdl
      FROM documents),
    df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM terms
      WHERE token IN {_X23_QUERY} GROUP BY 1),
    contrib AS (
      SELECT tf.doc_id,
             ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * ({_X23_K1} + 1.0))
             / (tf.tf + {_X23_K1} * (1.0 - {_X23_B}
                + {_X23_B} * tf.dl / stats.avgdl)) AS s
      FROM tf JOIN df USING (token) CROSS JOIN stats
      WHERE tf.token IN {_X23_QUERY}),
    scored AS (
      SELECT doc_id,
             CAST(SUM(CAST(s AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS bm25_e6
      FROM contrib GROUP BY 1)
    SELECT doc_id, bm25_e6
    FROM scored
    ORDER BY bm25_e6 DESC, doc_id ASC
    LIMIT {_X23_TOP}
    """,
)
def x23_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{k} documents for a fixed query (k1={k1}, b={b}).

    Per-term contributions are plain double expressions (identical on
    both engines); the per-doc SUM is decimal-quantized so the float
    accumulation order can't leak into the ranking (functions/num.py
    pattern).  N/avgdl/df are one-row aggregates broadcast into the
    scoring join — the corpus itself shuffles once, on (doc_id, token).
    """
    docs = load(spark, sf_dir, "documents")
    tf = _doc_terms(docs).filter(F.col("token").isin(*_X23_QUERY))
    stats = docs.agg(
        F.count("*").alias("n_docs"),
        (
            F.sum(F.size(F.split("text", " "))).cast("double")
            / F.count("*")
        ).alias("avgdl"),
    )
    df_ = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    contrib = (
        tf.join(F.broadcast(df_), "token")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "s",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            )
            * (F.col("tf") * F.lit(_X23_K1 + 1.0))
            / (
                F.col("tf")
                + F.lit(_X23_K1)
                * (
                    F.lit(1.0 - _X23_B)
                    + F.lit(_X23_B) * F.col("dl") / F.col("avgdl")
                )
            ),
        )
    )
    # Exact decimal sum scaled to integer micro-units — the output is a
    # BIGINT, so neither engine's float formatting/rounding ever touches
    # the ranking key or the driver's hash.
    scored = contrib.groupBy("doc_id").agg(
        (F.sum(F.col("s").cast("decimal(18,6)")) * 1000000)
        .cast("long")
        .alias("bm25_e6")
    )
    return scored.orderBy(F.col("bm25_e6").desc(), F.col("doc_id").asc()).limit(
        _X23_TOP
    )


# --- x48: token-distribution entropy (quality signal) ---------------------------
@query(
    "x48_token_entropy",
    oracle="""
    WITH terms AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents)
      GROUP BY 1, 2),
    agg AS (
      SELECT doc_id,
             SUM(tf) AS n_tokens,
             COUNT(*) AS n_types,
             SUM(tf * ln(tf)) AS s
      FROM terms GROUP BY 1)
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_types AS BIGINT) AS n_types,
           CAST(floor(CAST(n_types AS DOUBLE) / n_tokens * 1e6 + 0.5) AS BIGINT)
             AS ttr_e6,
           CAST(floor((ln(n_tokens) - s / n_tokens) * 1e4 + 0.5) AS BIGINT)
             AS entropy_e4
    FROM agg
    """,
)
def x48_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram entropy + type-token ratio — the
    distributional quality signals corpus filters gate on (low entropy =
    repetitive/templated text, the complement of x31's bigram repetition
    signals; C4/Gopher-class pipelines drop both tails).

    H = ln(n) - sum(tf·ln tf)/n over the per-doc term frequencies, so it
    reuses the x22/x23 token aggregate shape: ONE exchange (the spread on
    doc_id), map-side explode, integer tf everywhere until the final
    ln — emitted e4-quantized (a >1e10x margin over cross-engine libm
    noise at these magnitudes).  TTR is a pure integer ratio."""
    terms = _doc_terms(load(spark, sf_dir, "documents"))
    agg = terms.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.sum(F.col("tf") * F.log(F.col("tf").cast("double"))).alias("s"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_types",
        qint(F.col("n_types").cast("double") / F.col("n_tokens")).alias("ttr_e6"),
        qint(
            F.log(F.col("n_tokens").cast("double")) - F.col("s") / F.col("n_tokens"),
            4,
        ).alias("entropy_e4"),
    )


# --- x83: linear quality classifier (fasttext-style model filter) ---------------
# The fourth member of the quality-filtering family: x40 is hand rules,
# x30 is a unigram LM, x62 is importance reweighting — x83 is the
# MODEL-based gate every production pipeline runs (CCNet/fastText-style
# classifier scores deciding keep/drop).  The model here is a fixed
# linear stand-in (production would load trained weights the same way:
# a broadcast constant vector); what the operator demonstrates is the
# SCALE shape of classifier filtering: features and logit are one
# narrow per-doc projection + one (doc, token) aggregate, the decision
# is taken on an INTEGER logit (milli-units, floor division) so
# keep/drop is bit-exact on every engine — no sigmoid in the gate, as
# sigmoid is monotone and the threshold is calibrated on the logit.
# Weights calibrated to split the fixture ~50/50 (intercept = -840k
# milli ≈ the fixture's median logit) so both branches stay exercised.
_X83_W = {
    "intercept_m": -840_000,
    "wc": 2_000,  # longer docs score higher
    "mwl_m": 100,  # mean word length (milli)
    "uniq_m": 400,  # distinct-token ratio (milli)
    "stop_hits": 50_000,  # stopword evidence
}
_X83_STOPS = ("the", "a", "of", "to", "and")


@query(
    "x83_quality_classifier",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(replace(text, ' ', '')) AS alpha
      FROM documents),
    f AS (
      SELECT doc_id, len(t) AS wc,
             alpha * 1000 // len(t) AS mwl_m,
             len(list_distinct(t)) * 1000 // len(t) AS uniq_m,
             len(list_intersect(t, {list(_X83_STOPS)!r})) AS stop_hits
      FROM base)
    SELECT doc_id,
           CAST({_X83_W['intercept_m']}
                + {_X83_W['wc']} * wc
                + {_X83_W['mwl_m']} * mwl_m
                + {_X83_W['uniq_m']} * uniq_m
                + {_X83_W['stop_hits']} * stop_hits AS BIGINT) AS logit_m,
           CAST({_X83_W['intercept_m']}
                + {_X83_W['wc']} * wc
                + {_X83_W['mwl_m']} * mwl_m
                + {_X83_W['uniq_m']} * uniq_m
                + {_X83_W['stop_hits']} * stop_hits >= 0 AS BOOLEAN)
             AS keep
    FROM f
    """,
)
def x83_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    f = docs.selectExpr(
        "doc_id",
        "split(text, ' ') AS t",
        "length(replace(text, ' ', '')) AS alpha",
    ).selectExpr(
        "doc_id",
        "size(t) AS wc",
        "alpha * 1000 DIV size(t) AS mwl_m",
        "size(array_distinct(t)) * 1000 DIV size(t) AS uniq_m",
        f"size(array_intersect(t, array{_X83_STOPS!r})) AS stop_hits",
    )
    logit = (
        F.lit(_X83_W["intercept_m"])
        + F.lit(_X83_W["wc"]) * F.col("wc")
        + F.lit(_X83_W["mwl_m"]) * F.col("mwl_m")
        + F.lit(_X83_W["uniq_m"]) * F.col("uniq_m")
        + F.lit(_X83_W["stop_hits"]) * F.col("stop_hits")
    ).cast("long")
    return f.select(
        "doc_id", logit.alias("logit_m"), (logit >= 0).alias("keep")
    )


# --- x106: ROUGE-2 scoring of near-duplicate pairs -------------------------------
# The text-overlap EVAL metric (Lin 2004, public) the repo's dedup
# family reports decisions without: given candidate pairs, ROUGE-2 =
# clipped bigram-multiset overlap, reported as precision/recall/F1.
# Dedup diagnostics read it directly (how much of doc B is doc A?),
# and it is the same arithmetic an eval harness runs against
# references.  Exactness: overlap = Σ_g min(c_a, c_b) and totals are
# integers; P = ov/t_b, R = ov/t_a, and F1 reduces to the single
# rational 2·ov/(t_a + t_b) — each ONE IEEE division, e6-quantized.
#
# Scale shape: pair list = x04's exact-Jaccard survivors (LSH-bounded
# upstream, never corpus²); bigram counts are one narrow explode +
# groupBy; the overlap join touches only paired docs' bigrams.  The
# oracle composes x04's oracle verbatim as its pair source, so the
# two keys cannot drift.
from fanstats_producer_spark import registry as _registry


def _x106_oracle() -> str:
    pairs = _registry.ORACLE["x04_neardup_jaccard"]
    return f"""
    WITH pairs AS (SELECT id_a, id_b FROM ({pairs})),
    bg AS (
      SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS g, COUNT(*) AS c
      FROM (SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents),
           unnest(range(1, len(toks))) AS t(i)
      WHERE len(toks) >= 2
      GROUP BY 1, 2),
    tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS t FROM bg GROUP BY 1),
    ov AS (
      SELECT p.id_a, p.id_b,
             CAST(SUM(least(a.c, b.c)) AS BIGINT) AS ov
      FROM pairs p
      JOIN bg a ON a.doc_id = p.id_a
      JOIN bg b ON b.doc_id = p.id_b AND b.g = a.g
      GROUP BY 1, 2)
    SELECT p.id_a, p.id_b,
           CAST(floor(CAST(COALESCE(ov.ov, 0) AS DOUBLE) / tb.t * 1e6 + 0.5)
                AS BIGINT) AS rouge2_p_e6,
           CAST(floor(CAST(COALESCE(ov.ov, 0) AS DOUBLE) / ta.t * 1e6 + 0.5)
                AS BIGINT) AS rouge2_r_e6,
           CAST(floor(2.0 * COALESCE(ov.ov, 0) / (ta.t + tb.t) * 1e6 + 0.5)
                AS BIGINT) AS rouge2_f1_e6
    FROM pairs p
    JOIN tot ta ON ta.doc_id = p.id_a
    JOIN tot tb ON tb.doc_id = p.id_b
    LEFT JOIN ov ON ov.id_a = p.id_a AND ov.id_b = p.id_b
    """


@query("x106_rouge2_pairs", oracle=_x106_oracle())
def x106_rouge2_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x106: ROUGE-2 P/R/F1 for every exact-Jaccard near-dup pair —
    clipped bigram-multiset overlap, id_a as reference (recall side),
    id_b as candidate (precision side).

    The pair list is x04's exactly — threshold/k are imported from
    dedup.py so the engine arm and the composed oracle (which reuses
    x04's CTEs verbatim) cannot desync.  ``pairs``/``bg``/``tot`` each
    feed ≥2 downstream joins, so all three are localCheckpointed
    (the round-8 plan-reuse rule: without it Catalyst re-derives the
    explode+groupBy bigram scan once per consumer — four corpus scans
    in one plan)."""
    from fanstats_producer_spark.operators.dedup import (
        _X04_K,
        _X04_THRESHOLD,
        jaccard_pairs,
    )
    from fanstats_producer_spark.operators.llm_data import _GRAM_COLS, _word_grams

    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    pairs = (
        jaccard_pairs(docs, threshold=_X04_THRESHOLD, k=_X04_K)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    # bigram counts only for docs that appear in some pair (the x04b
    # semi-join pushdown, guide §2.2 "shuffle fewer bytes"): the pair
    # list bounds the bigram explode+groupBy, not the corpus size —
    # measured r13 at sf0.1 this removes ~90% of the shuffled bigrams
    # (25-pair fixture) with per-doc counts unchanged by construction.
    ids = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    sub = docs.join(F.broadcast(ids), "doc_id", "left_semi")
    bg = (
        _word_grams(sub, 2)
        .select("doc_id", F.concat_ws(" ", *_GRAM_COLS[:2]).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    tot = (
        bg.groupBy("doc_id")
        .agg(F.sum("c").alias("t"))
        .localCheckpoint(eager=True)
    )
    a = bg.select(F.col("doc_id").alias("id_a"), "g", F.col("c").alias("ca"))
    b = bg.select(F.col("doc_id").alias("id_b"), "g", F.col("c").alias("cb"))
    ov = (
        pairs.join(a, "id_a")
        .join(b, ["id_b", "g"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.least("ca", "cb")).alias("ov"))
    )
    ta = tot.select(F.col("doc_id").alias("id_a"), F.col("t").alias("ta"))
    tb = tot.select(F.col("doc_id").alias("id_b"), F.col("t").alias("tb"))
    return (
        pairs.join(ta, "id_a")
        .join(tb, "id_b")
        .join(ov, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            F.floor(
                F.coalesce(F.col("ov"), F.lit(0)).cast("double")
                / F.col("tb") * F.lit(1e6) + F.lit(0.5)
            ).cast("long").alias("rouge2_p_e6"),
            F.floor(
                F.coalesce(F.col("ov"), F.lit(0)).cast("double")
                / F.col("ta") * F.lit(1e6) + F.lit(0.5)
            ).cast("long").alias("rouge2_r_e6"),
            F.floor(
                F.lit(2.0) * F.coalesce(F.col("ov"), F.lit(0))
                / (F.col("ta") + F.col("tb")) * F.lit(1e6) + F.lit(0.5)
            ).cast("long").alias("rouge2_f1_e6"),
        )
    )

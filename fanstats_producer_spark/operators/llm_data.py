"""LLM training-data pipeline operators, batch 2 (SURVEY.md §2C "+"
rows): benchmark decontamination, vocabulary building, weighted dataset
mixing, unigram-LM quality scoring, and embedding quantization.

The reference's enrichment stage is declared but absent (Comprehend IAM
grants at main.tf:100-104 with no client in main.py); these operators —
like the x01-x26 family — are the compute that stage implies once the
corpus is training data rather than a dashboard feed.  All five follow
the house rules: RNG-free determinism (md5 buckets, digest ordering),
cross-engine-stable numerics (decimal-quantized partial sums before any
float aggregate), and one-shuffle plan shapes that survive a 1000×
scale-up.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fanstats_producer_spark.functions.num import qint, sql_qint
from fanstats_producer_spark.io import load, spread
from fanstats_producer_spark.operators.dedup import _shingles_sql, with_shingles
from fanstats_producer_spark.operators.sampling import hash_bucket
from fanstats_producer_spark.registry import query


# --- x27: benchmark decontamination (n-gram overlap train vs eval) --------------
# GPT-3-style decontamination: any training document sharing >= T distinct
# n-grams with an evaluation document is flagged.  Here the "benchmark" is
# a deterministic held-out slice (doc_id % _X27_EVAL_MOD == 0) so the op
# is closed over the fixtures; in production the eval side is the external
# benchmark suite.  Plan: shingle both sides once, explode, one shuffle on the
# shingle key, hash-aggregate the (train, eval) pair counts.  The eval
# side is tiny (a benchmark, not a corpus) — Catalyst broadcasts it, so
# the 100 TB train side is never shuffled by shingle; only its exploded
# postings stream through the broadcast-hash join.  At multi-billion-
# shingle scale, collapse shingle strings to xxhash64 first (the x04
# lever) so the probe key is 8 bytes.
_X27_K = 5
_X27_MIN_SHARED = 3
#: The held-out eval slice is doc_id % _X27_EVAL_MOD == 0 (x27 and s24).
_X27_EVAL_MOD = 50


@query(
    "x27_decontaminate",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_shingles_sql(_X27_K)} AS shingles
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
    post AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    hits AS (
      SELECT t.doc_id AS train_id, e.doc_id AS eval_id, COUNT(*) AS n_shared
      FROM post t JOIN post e ON t.shingle = e.shingle
      WHERE t.doc_id % {_X27_EVAL_MOD} <> 0 AND e.doc_id % {_X27_EVAL_MOD} = 0
      GROUP BY 1, 2)
    SELECT train_id, eval_id, n_shared
    FROM hits WHERE n_shared >= {_X27_MIN_SHARED}
    """,
)
def x27_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decontaminate_hits(load(spark, sf_dir, "documents"))


def decontaminate_hits(docs: DataFrame) -> DataFrame:
    """Inverted-index single pass (the x04 pattern): the corpus is
    shingle-exploded ONCE and grouped by shingle with the train and
    eval postings separated inside the aggregate; (train, eval) hits
    expand map-side from each posting pair.  The former two-branch
    broadcast join read and shingled the corpus twice — same plan
    semantics (eval lists are benchmark-sized: the per-shingle eval
    array stays tiny), half the scan work, and still exactly one
    shuffle on the shingle key."""
    # Collapse the ~50-char 5-gram strings to 8-byte xxhash64 keys BEFORE
    # the shuffle (the x04 lever): the exchange moves 6x less data, and a
    # collision merely co-groups two shingles (counted once per (train,
    # eval) pair either way — odds ~N²/2⁶⁵).
    post = (
        with_shingles(docs, k=_X27_K)
        .select("doc_id", F.explode("shingles").alias("sh"))
        .select("doc_id", F.xxhash64("sh").alias("shingle"))
    )
    lists = (
        post.groupBy("shingle")
        .agg(
            F.collect_list(
                F.when(F.col("doc_id") % _X27_EVAL_MOD != 0, F.col("doc_id"))
            ).alias("train_ids"),
            F.collect_list(
                F.when(F.col("doc_id") % _X27_EVAL_MOD == 0, F.col("doc_id"))
            ).alias("eval_ids"),
        )
        .filter((F.size("train_ids") > 0) & (F.size("eval_ids") > 0))
    )
    combos = (
        "flatten(transform(train_ids, t ->"
        " transform(eval_ids,"
        " e -> struct(t as train_id, e as eval_id))))"
    )
    hits = (
        lists.select(F.expr(f"explode({combos}) as p"))
        .groupBy("p.train_id", "p.eval_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= _X27_MIN_SHARED)
    )
    return hits.select("train_id", "eval_id", "n_shared")


# --- x28: vocabulary builder -----------------------------------------------------
# Tokenizer-training prerequisite: corpus term frequencies -> min-count
# gate -> contiguous integer ids in (freq desc, token asc) order.  The
# corpus-sized work is one explode + one hash aggregate with map-side
# partials; id assignment is the two-phase global rank below — never a
# single-partition WindowExec, even over a 10M+-token vocabulary.
_X28_MIN_COUNT = 5
_X28_TOP = 200


def global_dense_rank(df, order_cols, bucket, out_col: str = "rank"):
    """Global row_number() over ``order_cols`` without the one-task
    `Window.orderBy` plan: bucket on a DATA-DERIVED key, rank within each
    bucket, add per-bucket cumulative offsets via a broadcast join.

    ``bucket`` must be a pure function of the row that is monotone
    non-decreasing along the global order (every row of a lower bucket
    precedes every row of a higher one — e.g. a prefix of the leading
    sort key).  Because the bucket id is computed FROM THE DATA, every
    recomputation of the lineage assigns identical buckets; the offsets
    are a tiny cumulative window over per-bucket counts (≤ n_buckets
    rows, single cheap task) joined back by broadcast, so offsets and
    rows can never disagree about the layout.  The previous design keyed
    offsets on spark_partition_id() collected in one action and applied
    them to the lineage re-executed in a second action; repartitionByRange
    re-samples boundaries per job and AQE may re-coalesce differently, so
    job-1 offsets could mis-describe job-2's layout (round-3 driver red
    on x35; ADVICE.md high).  No task ever sees more than one bucket's
    rows; skew lever = a longer bucket prefix.  Ordering keys must be
    unique (true post-groupBy) so ranks are well-defined.
    """
    parted = df.withColumn("__b", bucket)
    w = Window.partitionBy("__b").orderBy(*order_cols)
    ranked = parted.withColumn("__r", F.row_number().over(w))
    per = parted.groupBy("__b").agg(F.count("*").alias("__n"))
    wo = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    off = per.select(
        "__b", F.coalesce(F.sum("__n").over(wo), F.lit(0)).alias("__off")
    )
    return (
        ranked.join(F.broadcast(off), "__b")
        .withColumn(out_col, (F.col("__off") + F.col("__r")).cast("int"))
        .drop("__b", "__r", "__off")
    )


@query(
    "x28_vocab",
    oracle=f"""
    WITH freq AS (
      SELECT token, COUNT(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY 1
      HAVING COUNT(*) >= {_X28_MIN_COUNT})
    SELECT CAST(row_number() OVER (ORDER BY freq DESC, token) AS INT) AS token_id,
           token, freq
    FROM freq
    ORDER BY token_id
    LIMIT {_X28_TOP}
    """,
)
def x28_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    freq = (
        spread(docs).select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .filter(F.col("freq") >= _X28_MIN_COUNT)
    )
    # Bucket = (-freq, first token char): monotone along (freq desc,
    # token asc) and a pure function of the row.  The first-char arm
    # splits the Zipf-tail tie groups (freq == min_count holds most of
    # the vocabulary) ~36 ways; at larger vocabularies widen the prefix.
    ranked = global_dense_rank(
        freq,
        [F.desc("freq"), F.asc("token")],
        bucket=F.struct(
            (-F.col("freq")).alias("nf"),
            F.substring("token", 1, 1).alias("tp"),
        ),
        out_col="token_id",
    )
    return (
        ranked.filter(F.col("token_id") <= _X28_TOP)
        .select("token_id", "token", "freq")
        .orderBy("token_id")
    )


# --- x29: weighted dataset mixing ------------------------------------------------
# Multi-source corpus mixing: each source gets a sampling rate (here
# derived from the source id so the op is closed over the fixtures; in
# production a broadcast config dim), applied RNG-free via md5 bucketing
# on doc_id — the same reproducible-sampling machinery as x14, so a
# re-run on different cluster shapes draws the SAME mixture.  Rates are
# quartiles {0.25, 0.5, 0.75, 1.0} by source number mod 4.  No shuffle at
# all: a scan with a deterministic filter, which is what makes it viable
# as the FIRST stage of a 100 TB pipeline (data never moves until after
# the down-weighting).
@query(
    "x29_mixture",
    oracle="""
    SELECT doc_id, source, lang
    FROM documents
    WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16
          < ((CAST(substring(source, 4) AS INT) % 4) + 1) * 4
    """,
)
def x29_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    rate_buckets = (
        (F.expr("CAST(substring(source, 4) AS INT)") % 4 + 1) * 4
    )
    return docs.filter(hash_bucket(F.col("doc_id"), 16) < rate_buckets).select(
        "doc_id", "source", "lang"
    )


# --- x30: unigram-LM quality scoring (perplexity proxy) --------------------------
# KenLM-style filtering without the external LM: fit a corpus unigram
# model (one hash aggregate), score every document by bits-per-token
# under it (one broadcast join).  High bpt = rare-token soup (noise,
# boilerplate-free gibberish); low bpt = repetitive filler — both
# standard cut candidates.  Cross-engine determinism: each token's
# log2(p) is quantized to a 1e-7-units BIGINT BEFORE summation (pure
# IEEE floor — no engine round() anywhere), so the per-doc sum is exact
# and order-free (the q52_corr pattern applied to a transcendental);
# the final divide is quantized to an e4 integer output.
# The token->tf model is |V| rows — broadcast, so the corpus is scored
# with zero shuffle beyond the per-doc aggregate.
@query(
    "x30_unigram_logprob",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    freq AS (SELECT token, COUNT(*) AS tf FROM toks GROUP BY 1),
    tot AS (SELECT COUNT(*) AS t FROM toks),
    c AS (
      SELECT doc_id,
             CAST(floor(log2(CAST(tf AS DOUBLE) / t) * 1e7 + 0.5) AS BIGINT) AS lg
      FROM toks JOIN freq USING (token) CROSS JOIN tot)
    SELECT doc_id, COUNT(*) AS n_tokens,
           {sql_qint("-CAST(SUM(lg) AS DOUBLE) / 1e7 / COUNT(*)", 4)}
             AS bits_per_token_e4
    FROM c GROUP BY 1
    """,
)
def x30_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = spread(docs, "doc_id").select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    freq = toks.groupBy("token").agg(F.count("*").alias("tf"))
    tot = toks.agg(F.count("*").alias("t"))
    scored = (
        toks.join(F.broadcast(freq), "token")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "lg",
            F.floor(
                F.log2(F.col("tf").cast("double") / F.col("t"))
                * F.lit(1e7)
                + F.lit(0.5)
            ).cast("long"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        qint(
            -F.sum("lg").cast("double") / F.lit(1e7) / F.count("*"), 4
        ).alias("bits_per_token_e4"),
    )


# --- x32: embedding int8 quantization --------------------------------------------
# Storage-layer vector compression: symmetric per-vector int8 (q =
# round(x / (max|x| / 127))), the layout ANN systems ship to disk — 4x
# smaller than float32, which at 100 TB of embeddings is the difference
# between one cluster and four.  Entirely per-row (zero shuffle, survives
# any partitioning), entirely in Tungsten array kernels (transform /
# zip_with / aggregate — no UDF).  The reconstruction error is folded
# sequentially in list order on both engines, so even the float sum is
# bit-stable cross-engine.
@query(
    "x32_embed_quantize",
    oracle="""
    WITH s AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
      FROM embeddings),
    sc AS (
      SELECT vec_id, embedding,
             CASE WHEN amax = 0 THEN 1.0 ELSE amax / 127 END AS scale
      FROM s),
    qq AS (
      SELECT vec_id, embedding, scale,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5)
                                      AS INT)) AS q
      FROM sc)
    SELECT vec_id, {scale_q} AS scale_e9,
           array_to_string(q, ',') AS q_csv,
           {mse_q} AS mse_e9
    FROM qq
    """.format(
        scale_q=sql_qint("scale", 9),
        mse_q=sql_qint(
            "list_reduce("
            "  list_transform("
            "    list_zip(embedding, q),"
            "    p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * scale)"
            "         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * scale)),"
            "  (a, b) -> a + b) / len(embedding)",
            9,
        ),
    ),
)
def x32_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    amax = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda a, x: F.greatest(a, F.abs(x.cast("double"))),
    )
    step1 = emb.withColumn("amax", amax).withColumn(
        "scale", F.when(F.col("amax") == 0, F.lit(1.0)).otherwise(F.col("amax") / 127)
    )
    # floor(x/scale + 0.5), not round(): pure IEEE ops, so the quantized
    # codes are bit-identical on any engine version (num.py qint note).
    step2 = step1.withColumn(
        "q",
        F.transform(
            "embedding",
            lambda x: F.floor(
                x.cast("double") / F.col("scale") + F.lit(0.5)
            ).cast("int"),
        ),
    )
    sqerr = F.zip_with(
        "embedding",
        "q",
        lambda x, qv: (x.cast("double") - qv.cast("double") * F.col("scale"))
        * (x.cast("double") - qv.cast("double") * F.col("scale")),
    )
    out = step2.withColumn(
        "mse_e9",
        qint(
            F.aggregate(sqerr, F.lit(0.0), lambda a, b: a + b)
            / F.size("embedding"),
            9,
        ),
    )
    # The quantized vector is emitted as a CSV string, not array<int>:
    # the driver's canonicalizer sorts output rows with pandas, and an
    # array-typed column is unhashable there (round-2 red).  The scalar
    # form is also what a storage layer would write as the row-group
    # payload key; consumers parse it back with split(',').
    q_csv = F.concat_ws(",", F.transform("q", lambda v: v.cast("string")))
    return out.select(
        "vec_id",
        qint("scale", 9).alias("scale_e9"),
        q_csv.alias("q_csv"),
        "mse_e9",
    )


# --- x31: intra-document repetition signals (Gopher-style quality rules) --------
# Rae et al. 2021 ("Scaling Language Models: ... Gopher") filter documents
# by repetition: high duplicate-n-gram fraction or a single dominating
# token marks boilerplate/spam.  Both signals are per-row array math plus
# one per-doc aggregate — zero corpus-wide shuffle beyond the explode-
# aggregate for the top-token share, and that shuffle carries (doc_id,
# token) pairs only.  Thresholding is left to the caller (the x19
# pipeline composes gates); this operator reports the signals.
@query(
    "x31_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    big AS (
      SELECT doc_id, len(t) AS n_tokens,
             CASE WHEN len(t) < 2 THEN 0
                  ELSE {dup_q} END AS dup_bigram_frac_e6
      FROM toks),
    top AS (
      SELECT doc_id,
             {top_q} AS top_token_share_e6
      FROM (SELECT doc_id, token, COUNT(*) AS c
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                  FROM documents)
            GROUP BY 1, 2)
      GROUP BY 1)
    SELECT doc_id, n_tokens, dup_bigram_frac_e6, top_token_share_e6
    FROM big JOIN top USING (doc_id)
    """.format(
        dup_q=sql_qint(
            "1.0 - CAST(len(list_distinct(list_transform("
            "range(1, len(t)), i -> t[i] || ' ' || t[i+1])))"
            " AS DOUBLE) / (len(t) - 1)"
        ),
        top_q=sql_qint("CAST(MAX(c) AS DOUBLE) / SUM(c)"),
    ),
)
def x31_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    n = F.size("t")
    bigrams = F.zip_with(
        F.slice("t", 1, F.greatest(n - 1, F.lit(0))),
        F.slice("t", 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    big = toks.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.when(n < 2, F.lit(0).cast("long"))
        .otherwise(
            qint(
                1.0
                - F.size(F.array_distinct(bigrams)).cast("double") / (n - 1)
            )
        )
        .alias("dup_bigram_frac_e6"),
    )
    counts = (
        spread(docs, "doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("c"))
    )
    top = counts.groupBy("doc_id").agg(
        qint(F.max("c").cast("double") / F.sum("c")).alias(
            "top_token_share_e6"
        )
    )
    return big.join(top, "doc_id").select(
        "doc_id", "n_tokens", "dup_bigram_frac_e6", "top_token_share_e6"
    )


# --- x33: corpus mixture statistics ---------------------------------------------
# The observability face of x29: per-source document/token counts and the
# source's token share of the corpus — the dashboard numbers a mixing run
# is tuned against.  One hash aggregate over (source); the corpus-wide
# total rides in via a broadcast scalar join, so the plan is two
# map-side-combined aggregates and no corpus shuffle.
@query(
    "x33_mixture_stats",
    oracle=f"""
    WITH per AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1),
    tot AS (SELECT SUM(n_tokens) AS t FROM per)
    SELECT source, n_docs, n_tokens,
           {sql_qint("CAST(n_tokens AS DOUBLE) / t")} AS token_share_e6
    FROM per CROSS JOIN tot
    """,
)
def x33_mixture_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").alias("t"))
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        qint(F.col("n_tokens").cast("double") / F.col("t")).alias(
            "token_share_e6"
        ),
    )


def global_running_sum(df, order_cols, val_col: str, bucket, out_col: str = "cum"):
    """Global cumulative sum over ``order_cols`` without a single-task
    window — the same data-derived-bucket shape as
    :func:`global_dense_rank` (see its docstring for why the bucket must
    be a monotone function of the data, not spark_partition_id()):
    running-sum within each bucket, add per-bucket cumulative offsets
    via a broadcast join, all in one lazy plan."""
    parted = df.withColumn("__b", bucket)
    w = (
        Window.partitionBy("__b")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = parted.withColumn("__c", F.sum(val_col).over(w))
    per = parted.groupBy("__b").agg(F.sum(val_col).alias("__t"))
    wo = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    off = per.select(
        "__b", F.coalesce(F.sum("__t").over(wo), F.lit(0)).alias("__off")
    )
    return (
        ranked.join(F.broadcast(off), "__b")
        .withColumn(out_col, F.col("__off") + F.col("__c"))
        .drop("__b", "__c", "__off")
    )


# --- x34: dedup observability (per-source duplication rates) --------------------
# The dashboard face of x03: how much of each source is redundant —
# the number every dedup run is judged by.  One aggregate over
# (source, digest) partials; the text never shuffles, only 32-byte
# digests do.
@query(
    "x34_dedup_stats",
    oracle="""
    SELECT source, COUNT(*) AS n_docs,
           COUNT(DISTINCT sha256(text)) AS n_unique,
           {q} AS dup_rate_e6
    FROM documents GROUP BY 1
    """.format(
        q=sql_qint(
            "1.0 - CAST(COUNT(DISTINCT sha256(text)) AS DOUBLE) / COUNT(*)"
        )
    ),
)
def x34_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("source", F.sha2("text", 256).alias("h"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("h").alias("n_unique"),
            qint(
                1.0 - F.countDistinct("h").cast("double") / F.count("*")
            ).alias("dup_rate_e6"),
        )
    )


# --- x35: token-budget subsampling ----------------------------------------------
# "Give me a deterministic ~30k-token slice of this corpus": documents
# ordered by md5(doc_id) (RNG-free, cluster-shape independent — the x14
# sampling machinery), cumulative token count via the two-phase global
# running sum, cut at the budget.  At 100 TB this is how fixed-size
# training mixtures get drawn reproducibly; no single-task window at any
# corpus size.
_X35_BUDGET = 30_000


@query(
    "x35_token_budget",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS r
      FROM documents),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY r, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_tokens
      FROM t)
    SELECT doc_id, n_tokens, cum_tokens
    FROM c WHERE cum_tokens <= {_X35_BUDGET}
    """,
)
def x35_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("r"),
    )
    # Bucket = first two md5 hex chars: 256 uniform buckets, a prefix of
    # the leading sort key, so bucket order == global order by
    # construction and every recomputation agrees.
    c = global_running_sum(
        t,
        [F.asc("r"), F.asc("doc_id")],
        "n_tokens",
        bucket=F.substring("r", 1, 2),
        out_col="cum_tokens",
    )
    return c.filter(F.col("cum_tokens") <= _X35_BUDGET).select(
        "doc_id", "n_tokens", "cum_tokens"
    )


# --- contamination gate: the x27 decision as a batch/stream-shared filter -------
# x27 REPORTS contamination; this applies it.  Stateless per-row form —
# shingle the document, intersect with the benchmark shingle set, drop on
# >= _X27_MIN_SHARED overlap — so the SAME function body runs in a batch job
# and inside a Structured Streaming micro-batch with append output (the
# s12 one-codepath pattern).  The benchmark set rides along as DATA in
# a one-row broadcast frame — NOT as an array literal, which grows the
# plan by one expression node per shingle (measured: seconds of pure
# plan compilation at a 9k-shingle suite; see the docstring below).
def contamination_gate(docs: DataFrame, eval_shingles: list[str]) -> DataFrame:
    """Drop docs sharing >= _X27_MIN_SHARED distinct _X27_K-grams of
    `text` with the eval suite (x27's gate, made streamable for s24).

    The shared-count runs in an ITERATOR pandas UDF that builds the
    eval-shingle set ONCE PER TASK and probes each doc's (already
    distinct) shingles against it (guide §4.5's init-once shape).  The
    previous JVM form — array_intersect against a one-row broadcast
    array — re-built the eval hash set PER ROW (Spark's ArrayIntersect
    has no constant-side amortization; measured r13 at sf0.1: linear
    in |eval| per row — 1.05 s at 100 shingles, 4.6 s at the fixture's
    4.8k, where this path runs 1.1 s, identical verdicts).  Per-task
    closure bytes are |suite| strings, the same payload the broadcast
    carried.  Stateless row logic either way: works identically on
    batch frames and inside streaming micro-batches (ArrowEvalPython
    is a stateless streaming operator)."""
    # NOTE: `Iterator`/`pd` must be MODULE-level imports — under
    # `from __future__ import annotations` pandas_udf resolves the
    # (stringified) signature hints against the module globals, and
    # aliased or function-local names fail its eval-type inference
    uniq = tuple(sorted(set(eval_shingles)))

    @F.pandas_udf("int")
    def _n_shared(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        ev = set(uniq)  # once per task, reused across Arrow batches
        for ser in it:
            yield ser.map(
                lambda arr: len(ev.intersection(arr))
            ).astype("int32")

    sh = with_shingles(docs, k=_X27_K)
    return sh.filter(_n_shared(F.col("shingles")) < _X27_MIN_SHARED).drop(
        "shingles"
    )


def eval_shingle_set(docs: DataFrame) -> list[str]:
    """Collect the benchmark side's distinct _X27_K-gram shingles of
    `text` (driver-side: the eval suite is small by construction).  One
    narrow job — the per-doc shingle arrays come back whole and dedup in
    Python; the previous explode+distinct paid a full shuffle round-trip
    (~1.5 s of the s24 drain) to dedup a benchmark-sized set."""
    rows = with_shingles(docs, k=_X27_K).select("shingles").collect()
    return sorted({s for r in rows for s in r.shingles})


# --- x43: CCNet-style perplexity bucketing ---------------------------------------
# CCNet partitions a crawl into head/middle/tail by language-model
# perplexity and trains mostly on the head.  Here the LM is the x30
# broadcast unigram model (bits-per-token, integer-quantized), and the
# terciles are RANK-based — ((rn-1)*3) div n — so bucket assignment is
# pure integer arithmetic with zero dependence on either engine's
# percentile interpolation.  The global rank uses global_dense_rank
# (data-derived buckets, no single-task window); the doc count rides in
# as one broadcast scalar.
def _x43_per_doc_bits(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    toks = spread(docs, "doc_id").select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    freq = toks.groupBy("token").agg(F.count("*").alias("tf"))
    tot = toks.agg(F.count("*").alias("t"))
    scored = (
        toks.join(F.broadcast(freq), "token")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "lg",
            F.floor(
                F.log2(F.col("tf").cast("double") / F.col("t")) * F.lit(1e7)
                + F.lit(0.5)
            ).cast("long"),
        )
    )
    return scored.groupBy("doc_id").agg(
        qint(-F.sum("lg").cast("double") / F.lit(1e7) / F.count("*"), 4).alias(
            "bits_per_token_e4"
        )
    )


@query(
    "x43_ppl_buckets",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    freq AS (SELECT token, COUNT(*) AS tf FROM toks GROUP BY 1),
    tot AS (SELECT COUNT(*) AS t FROM toks),
    c AS (
      SELECT doc_id,
             CAST(floor(log2(CAST(tf AS DOUBLE) / t) * 1e7 + 0.5) AS BIGINT) AS lg
      FROM toks JOIN freq USING (token) CROSS JOIN tot),
    per AS (
      SELECT doc_id,
             {sql_qint("-CAST(SUM(lg) AS DOUBLE) / 1e7 / COUNT(*)", 4)}
               AS bits_per_token_e4
      FROM c GROUP BY 1),
    r AS (
      SELECT doc_id, bits_per_token_e4,
             row_number() OVER (ORDER BY bits_per_token_e4, doc_id) AS rn,
             COUNT(*) OVER () AS n
      FROM per)
    SELECT doc_id, bits_per_token_e4,
           CASE ((rn - 1) * 3) // n WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM r
    """,
)
def x43_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = _x43_per_doc_bits(spark, sf_dir)
    ranked = global_dense_rank(
        per,
        [F.asc("bits_per_token_e4"), F.asc("doc_id")],
        bucket=F.expr("bits_per_token_e4 div 10000"),
        out_col="rn",
    )
    n = per.agg(F.count("*").alias("n"))
    tercile = ((F.col("rn").cast("long") - 1) * 3) / F.col("n")
    bucket = (
        F.when(F.floor(tercile) == 0, "head")
        .when(F.floor(tercile) == 1, "middle")
        .otherwise("tail")
    )
    return (
        ranked.crossJoin(F.broadcast(n))
        .select("doc_id", "bits_per_token_e4", bucket.alias("ppl_bucket"))
    )


# --- x46: split leakage audit (x44 ∘ x27) ----------------------------------------
# Train/test leakage WITHIN a corpus: after the deterministic x44
# split, any val/test document sharing >= _X46_MIN 5-gram shingles
# with ANY train document is leaked (its eval loss is contaminated).
# Same single-pass hashed inverted index as x27 — the corpus shingles
# once, train/eval postings separate inside the per-shingle aggregate,
# and hits expand map-side; the split comes from x44's md5 bucket, so
# the whole audit is a pure function of the data.
_X46_MIN = 3


def _x46_split_sql() -> str:
    from fanstats_producer_spark.operators.corpus_extra import _x44_split_col

    return _x44_split_col(sql=True)


@query(
    "x46_split_leakage",
    oracle=f"""
    WITH tagged AS (
      SELECT doc_id, text, {{split}} AS split FROM documents),
    sh AS (
      SELECT doc_id, split, {_shingles_sql(_X27_K)} AS shingles
      FROM (SELECT doc_id, split, string_split(text, ' ') AS toks FROM tagged)),
    post AS (SELECT doc_id, split, unnest(shingles) AS shingle FROM sh),
    hits AS (
      SELECT e.doc_id AS eval_id, e.split, COUNT(DISTINCT e.shingle) AS n_shared
      FROM post e JOIN (SELECT DISTINCT shingle FROM post WHERE split = 'train') t
        ON e.shingle = t.shingle
      WHERE e.split <> 'train'
      GROUP BY 1, 2),
    leaked AS (SELECT eval_id, split FROM hits WHERE n_shared >= {_X46_MIN})
    SELECT t.split,
           COUNT(*) AS n_docs,
           COUNT(l.eval_id) AS n_leaked
    FROM tagged t LEFT JOIN leaked l ON t.doc_id = l.eval_id
    WHERE t.split <> 'train'
    GROUP BY 1
    """.format(split=_x46_split_sql()),
)
def x46_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SCALE BOUNDARY (unlike x27, where the eval side is benchmark-sized
    # and genuinely tiny): here the "eval" side is the val/test SPLIT —
    # a fixed fraction of the corpus — so at full scale the per-shingle
    # eval collect_set and the leaked-set broadcast both grow with the
    # corpus.  The production form swaps the broadcast for a shuffled
    # LEFT SEMI on eval_id; kept broadcast here because the
    # split fraction at every tested SF stays far under the 8 GB
    # broadcast ceiling and the simpler plan is 2x faster at bench SF.
    from fanstats_producer_spark.operators.corpus_extra import _x44_split_col

    docs = load(spark, sf_dir, "documents").withColumn(
        "split", _x44_split_col()
    )
    post = (
        with_shingles(docs, k=_X27_K)
        .select("doc_id", "split", F.explode("shingles").alias("sh"))
        .select("doc_id", "split", F.xxhash64("sh").alias("shingle"))
    )
    lists = (
        post.groupBy("shingle")
        .agg(
            F.max(F.when(F.col("split") == "train", 1).otherwise(0)).alias(
                "has_train"
            ),
            F.collect_set(
                F.when(F.col("split") != "train", F.col("doc_id"))
            ).alias("eval_ids"),
        )
        .filter((F.col("has_train") == 1) & (F.size("eval_ids") > 0))
    )
    hits = (
        lists.select(F.explode("eval_ids").alias("eval_id"))
        .groupBy("eval_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= _X46_MIN)
        .select("eval_id", F.lit(True).alias("leaked"))
    )
    evals = docs.filter(F.col("split") != "train").select("doc_id", "split")
    return (
        evals.join(F.broadcast(hits), evals.doc_id == hits.eval_id, "left")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("leaked"), 1)).alias("n_leaked"),
        )
    )


# --- x53: dataset card (per-source datasheet summary) ---------------------------
# The one-page "datasheet for datasets" row every corpus release ships:
# volume, token mass, exact-dup rate, language mix, and mean quality per
# source, in ONE aggregation pass over the corpus (all measures are
# algebraic, so map-side partials do the heavy lifting and only
# per-source states cross the exchange — at 100 TB the output is
# |sources| rows regardless of corpus size).
@query(
    "x53_dataset_card",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(floor(CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)
                      / COUNT(*) * 1e2 + 0.5) AS BIGINT) AS mean_tokens_e2,
           COUNT(DISTINCT sha256(text)) AS n_unique,
           {dup} AS dup_rate_e6,
           COUNT(*) FILTER (WHERE lang = 'en') AS n_en,
           CAST(floor(CAST(SUM(CASE WHEN len(string_split(text, ' '))
                                         BETWEEN 10 AND 1000
                                     AND CAST(len(list_distinct(string_split(text, ' ')))
                                         AS DOUBLE) / len(string_split(text, ' ')) > 0.15
                                    THEN 1 ELSE 0 END) AS DOUBLE)
                      / COUNT(*) * 1e6 + 0.5) AS BIGINT) AS quality_pass_rate_e6
    FROM documents
    GROUP BY 1
    """.format(
        dup=sql_qint(
            "1.0 - CAST(COUNT(DISTINCT sha256(text)) AS DOUBLE) / COUNT(*)"
        )
    ),
)
def x53_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tok
    passes = F.when((n_tok.between(10, 1000)) & (ttr > 0.15), 1).otherwise(0)
    pre = docs.select(
        "source",
        "lang",
        F.sha2("text", 256).alias("h"),
        n_tok.cast("long").alias("n_tok"),
        passes.alias("passes"),
    )
    return pre.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        qint(F.sum("n_tok").cast("double") / F.count("*"), 2).alias(
            "mean_tokens_e2"
        ),
        F.countDistinct("h").alias("n_unique"),
        qint(1.0 - F.countDistinct("h").cast("double") / F.count("*")).alias(
            "dup_rate_e6"
        ),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("long").alias(
            "n_en"
        ),
        qint(F.sum("passes").cast("double") / F.count("*")).alias(
            "quality_pass_rate_e6"
        ),
    )


# --- x54: length-bucketed batching / padding-waste accounting -------------------
# Length-grouped batching is how training loaders avoid paying quadratic
# attention on padding: sequences are grouped into power-of-two length
# buckets and each batch pads only to its bucket ceiling.  This op
# computes, per bucket, the doc count, the real token mass, the padded
# token mass (docs x bucket ceiling), and the padding-waste fraction —
# the number that justifies (or kills) a bucketing config.  Pure integer
# arithmetic end to end; one aggregation pass with map-side partials.
@query(
    "x54_length_buckets",
    oracle="""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents),
    b AS (
      SELECT doc_id, n_tok,
             CAST(power(2, ceil(log2(greatest(n_tok, 1)))) AS BIGINT)
               AS bucket_ceiling
      FROM t)
    SELECT bucket_ceiling,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS real_tokens,
           COUNT(*) * bucket_ceiling AS padded_tokens,
           CAST(floor((1.0 - CAST(SUM(n_tok) AS DOUBLE)
                           / (COUNT(*) * bucket_ceiling)) * 1e6 + 0.5)
                AS BIGINT) AS pad_waste_e6
    FROM b
    GROUP BY bucket_ceiling
    ORDER BY bucket_ceiling
    """,
)
def x54_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " ")).cast("long")
    # ceil(log2(n)) is cross-engine-stable here: IEEE log2 of an exact
    # power of two is exact (no boundary straddle at the only points
    # where ceil could flip), and the ceiling itself is then integer
    # shiftleft, never float power.
    b = docs.select("doc_id", n_tok.alias("n_tok")).withColumn(
        "bucket_ceiling",
        F.when(F.col("n_tok") <= 1, F.lit(1).cast("long")).otherwise(
            F.expr(
                "CAST(shiftleft(CAST(1 AS BIGINT), "
                "CAST(ceil(log2(CAST(n_tok AS DOUBLE))) AS INT)) AS BIGINT)"
            )
        ),
    )
    return (
        b.groupBy("bucket_ceiling")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("real_tokens"),
            (F.count("*") * F.first("bucket_ceiling")).alias("padded_tokens"),
            qint(
                1.0
                - F.sum("n_tok").cast("double")
                / (F.count("*") * F.first("bucket_ceiling"))
            ).alias("pad_waste_e6"),
        )
    )


# --- x62: DSIR-style domain-targeted importance selection ----------------------
# Data Selection via Importance Resampling (Xie et al., 2023): score raw
# documents by how target-like they look under hashed n-gram feature
# distributions, and keep the ones whose importance weight says "more
# probable under the target than under the raw pool".  Feature space is
# B hashed token buckets (the paper's hashed n-grams; unigrams here);
# the target here is the English slice of the corpus, standing in for
# "a trusted domain sample" — in production, swap the target frame for
# Wikipedia/books/etc.
#
# Determinism: bucket counts are exact integers, the per-bucket
# Laplace-smoothed log2 ratio is quantized to an e6 integer ONCE at the
# 64-row bucket table (log2 over an IEEE division of exact integers —
# the x30 contract), and every per-doc score is then an exact INTEGER
# sum of bucket contributions over the doc's token occurrences.
# Scale: one (doc_id, bucket) explode is the only corpus shuffle; the
# 64-row log-ratio table broadcasts; totals are one scalar aggregate.
_X62_B = 64


@query(
    "x62_dsir_selection",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      FROM documents),
    tb AS (
      SELECT doc_id, lang,
             CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) % {_X62_B} AS b
      FROM toks),
    bs AS (
      SELECT b, COUNT(*) AS cr,
             COUNT(*) FILTER (WHERE lang = 'en') AS ct
      FROM tb GROUP BY 1),
    tot AS (SELECT SUM(cr) AS tr, SUM(ct) AS tt FROM bs),
    lr AS (
      SELECT b,
             CAST(floor(log2(
               CAST((ct + 1) * (tr + {_X62_B}) AS DOUBLE)
               / CAST((cr + 1) * (tt + {_X62_B}) AS DOUBLE)) * 1e6 + 0.5)
               AS BIGINT) AS lr_e6
      FROM bs, tot),
    sc AS (
      SELECT tb.doc_id, SUM(lr.lr_e6) AS score_e6, COUNT(*) AS n_tok
      FROM tb JOIN lr USING (b) GROUP BY 1)
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(score_e6 AS BIGINT) AS score_e6,
           score_e6 >= 0 AS selected
    FROM sc ORDER BY doc_id
    """,
)
def x62_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc DSIR importance score (integer sum of per-bucket
    smoothed log2(p_target/p_raw) contributions over the doc's token
    occurrences) and the keep decision score >= 0 — "reads more like
    the target distribution than the pool average"."""
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    tb = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split("text", " ")).alias("tok"),
    ).select("doc_id", "lang", hash_bucket(F.col("tok"), _X62_B).alias("b"))
    bs = tb.groupBy("b").agg(
        F.count("*").alias("cr"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("ct"),
    )
    tot = bs.agg(F.sum("cr").alias("tr"), F.sum("ct").alias("tt"))
    lr = bs.crossJoin(F.broadcast(tot)).select(
        "b",
        qint(
            F.log2(
                ((F.col("ct") + 1) * (F.col("tr") + _X62_B)).cast("double")
                / ((F.col("cr") + 1) * (F.col("tt") + _X62_B)).cast("double")
            )
        ).alias("lr_e6"),
    )
    sc = (
        tb.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("lr_e6").cast("long").alias("score_e6"),
            F.count("*").cast("long").alias("n_tok"),
        )
    )
    return sc.select(
        "doc_id", "n_tok", "score_e6", (F.col("score_e6") >= 0).alias("selected")
    )


# --- x67: vocabulary coverage / OOV curve ----------------------------------------
# Tokenizer-design dashboard: for candidate vocabulary sizes, what
# fraction of token OCCURRENCES falls outside the top-k vocabulary?
# The curve that decides vocab size before training a tokenizer.  One
# token aggregate + the x28 bucketed global rank; the three coverage
# sums ride a single conditional aggregation (no per-k scan).

_X67_SIZES = (4, 8, 16)


@query(
    "x67_vocab_coverage",
    oracle="""
    WITH freq AS (
      SELECT token, COUNT(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY 1),
    ranked AS (
      SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rnk
      FROM freq),
    agg AS (
      SELECT CAST(SUM(freq) AS BIGINT) AS total,
             CAST(SUM(CASE WHEN rnk <= 4 THEN freq ELSE 0 END) AS BIGINT) AS c0,
             CAST(SUM(CASE WHEN rnk <= 8 THEN freq ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN rnk <= 16 THEN freq ELSE 0 END) AS BIGINT) AS c2
      FROM ranked)
    SELECT 4 AS vocab_size, c0 AS covered, total,
           CAST(floor(CAST(total - c0 AS DOUBLE) / total * 1e6 + 0.5)
                AS BIGINT) AS oov_e6 FROM agg
    UNION ALL
    SELECT 8, c1, total,
           CAST(floor(CAST(total - c1 AS DOUBLE) / total * 1e6 + 0.5)
                AS BIGINT) FROM agg
    UNION ALL
    SELECT 16, c2, total,
           CAST(floor(CAST(total - c2 AS DOUBLE) / total * 1e6 + 0.5)
                AS BIGINT) FROM agg
    """,
)
def x67_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x67: occurrence-weighted coverage of the top-{4,8,16} token
    vocabularies (sizes sit inside the fixture's 31-token vocabulary so
    the curve is non-degenerate; production sizes are 2^15..2^18) and the OOV rate each implies.  The global frequency
    rank uses x28's bucketed two-phase (global_dense_rank — no one-task
    Window.orderBy); coverage at all three sizes comes from ONE
    conditional aggregation over the ranked vocab, so the corpus is
    scanned once and the vocab table once regardless of how many curve
    points are requested."""
    docs = load(spark, sf_dir, "documents")
    freq = (
        spread(docs)
        .select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    ranked = global_dense_rank(
        freq,
        [F.desc("freq"), F.asc("token")],
        bucket=F.struct(
            (-F.col("freq")).alias("nf"),
            F.substring("token", 1, 1).alias("tp"),
        ),
        out_col="rnk",
    )
    agg = ranked.agg(
        F.sum("freq").cast("long").alias("total"),
        *[
            F.sum(F.when(F.col("rnk") <= k, F.col("freq")).otherwise(0))
            .cast("long")
            .alias(f"c{j}")
            for j, k in enumerate(_X67_SIZES)
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(k).alias("vocab_size"),
                F.col(f"c{j}").alias("covered"),
                F.col("total").alias("total"),
                qint(
                    (F.col("total") - F.col(f"c{j}")).cast("double")
                    / F.col("total")
                ).alias("oov_e6"),
            )
            for j, k in enumerate(_X67_SIZES)
        ]
    )
    return agg.select(F.explode(rows).alias("r")).select(
        "r.vocab_size", "r.covered", "r.total", "r.oov_e6"
    )


# --- x78: Gopher repetition battery (char-fraction rules) -----------------------
# The two Gopher repetition families x31 does NOT cover (Rae et al. 2021,
# Table A1): "top n-gram character fraction" (chars inside occurrences of
# the single most frequent n-gram / total chars, n=3 here) and "duplicate
# n-gram character fraction" (chars at token positions covered by any
# n-gram that occurs >= 2 times in the doc — positions covered by
# overlapping duplicates count ONCE, which is why this needs positional
# coverage, not an occurrence count).  The ORACLE states both rules as
# per-row nested list lambdas (DuckDB's vectorized kernels like that
# shape); the Spark side runs the exploded hash-aggregate plan — see
# the PLAN NOTE in the function.  Gopher runs the dup family at
# n=5..10; on this fixture's 31-word vocabulary a 5-gram never repeats
# intra-doc (measured all-zero at sf0.01), so the registered key pins
# n=3 — the smallest n where the signal is live — and the gram window
# in the expressions below is the single knob for production n.  Both signals are pure per-row array
# expressions — the whole battery is a narrow projection with ZERO
# shuffles at any scale (contrast x31's top-token share, which needs the
# (doc_id, token) aggregate).  Per-row cost is O(G^2) string compares with
# G = n_tokens - 4 grams; bounded by document length, embarrassingly
# parallel, and entirely inside whole-stage codegen.
# Tie-break for the top 3-gram: highest count, then lexicographically
# smallest gram — encoded as array_min over '(1e6 - count) || gram' keys
# so both engines pick the identical winner without a window.
# Reference anchor: none (X-layer mandate — the reference delegates all
# analysis to Athena; this is the training-corpus battery that stage
# implies).

_X78_G3 = (
    "CASE WHEN size(t) < 3 THEN array() ELSE transform(sequence(1,"
    " size(t)-2), i -> concat_ws(' ', t[i-1], t[i], t[i+1])) END"
)


@query(
    "x78_repetition_chars",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text, string_split(text, ' ') AS t,
             len(text) AS total_chars,
             len(replace(text, ' ', '')) AS alpha_chars
      FROM documents),
    grams AS (
      SELECT doc_id, total_chars, alpha_chars, t,
             list_transform(range(1, greatest(len(t) - 1, 1)),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g3
      FROM base),
    scored AS (
      SELECT doc_id, len(t) AS n_tokens, total_chars, alpha_chars,
             -- tie-break key: 1000000 - count zero-padded to 7 digits.
             -- BOUND: valid only while any single 3-gram occurs < 1e6
             -- times in ONE document (negative values stop zero-padding
             -- and break lexicographic order).  A 1e6-token single doc
             -- is beyond the fixture and any sane shard; Spark side uses
             -- a numeric struct-min with the same headroom assumption.
             list_min(list_transform(list_distinct(g3),
               g -> lpad(CAST(1000000 - len(list_filter(g3, x -> x = g))
                         AS VARCHAR), 7, '0') || g)) AS topk,
             COALESCE(list_sum(list_transform(
               list_distinct(flatten(list_transform(
                 list_filter(range(1, greatest(len(g3) + 1, 1)),
                   i -> len(list_filter(g3, x -> x = g3[i])) >= 2),
                 i -> range(i, i + 3)))),
               p -> len(t[p]))), 0) AS covchars
      FROM grams)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CASE WHEN topk IS NULL THEN 0 ELSE
             {sql_qint("(1000000 - CAST(substr(topk, 1, 7) AS INT))"
                       " * len(substr(topk, 8)) / CAST(total_chars AS DOUBLE)")}
           END AS top3_char_frac_e6,
           {sql_qint("CAST(covchars AS DOUBLE)"
                     " / CAST(alpha_chars AS DOUBLE)")}
             AS dup3_char_frac_e6
    FROM scored
    """,
)
def x78_repetition_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PLAN NOTE (measured at sf1): the per-row O(G^2) nested-lambda
    # formulation the oracle uses is the right shape for DuckDB's
    # vectorized list kernels, but Spark evaluates HigherOrderFunction
    # lambdas INTERPRETED, outside whole-stage codegen — 39.4 s vs the
    # oracle's 6.0 s at sf1.  The Spark-idiomatic shape is explode +
    # codegen'd hash aggregates: every stage below is keyed by doc_id
    # (or (doc_id, gram)/(doc_id, pos)), so the exchanges stay narrow
    # and partition cleanly at any corpus size.  Identical values.
    docs = load(spark, sf_dir, "documents")
    base = spread(docs, "doc_id").selectExpr(
        "doc_id",
        "split(text, ' ') AS t",
        "length(text) AS total_chars",
        "length(replace(text, ' ', '')) AS alpha_chars",
    )
    e3 = base.selectExpr(
        "doc_id", f"posexplode({_X78_G3}) AS (p0, g)"
    ).select("doc_id", (F.col("p0") + 1).alias("s"), "g")
    c3 = e3.groupBy("doc_id", "g").agg(
        F.count("*").alias("c"), F.collect_list("s").alias("starts")
    )
    top = c3.groupBy("doc_id").agg(
        F.min(
            F.struct(
                (F.lit(1_000_000) - F.col("c")).alias("negc"),
                F.col("g").alias("g"),
            )
        ).alias("b")
    )
    duppos = (
        c3.filter(F.col("c") >= 2)
        .select("doc_id", F.explode("starts").alias("s"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("s"), F.col("s") + 2)).alias("p"),
        )
        .distinct()
    )
    toklen = base.selectExpr(
        "doc_id", "posexplode(t) AS (p0, tok)"
    ).select(
        "doc_id", (F.col("p0") + 1).alias("p"), F.length("tok").alias("l")
    )
    cov = duppos.join(toklen, ["doc_id", "p"]).groupBy("doc_id").agg(
        F.sum("l").alias("covchars")
    )
    out = (
        base.join(top, "doc_id", "left")
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            F.size("t").cast("long").alias("n_tokens"),
            F.when(F.col("b").isNull(), F.lit(0).cast("long"))
            .otherwise(
                qint(
                    (F.lit(1_000_000) - F.col("b.negc"))
                    * F.length("b.g")
                    / F.col("total_chars").cast("double")
                )
            )
            .alias("top3_char_frac_e6"),
            qint(
                F.coalesce(F.col("covchars"), F.lit(0)).cast("double")
                / F.col("alpha_chars").cast("double")
            ).alias("dup3_char_frac_e6"),
        )
    )
    return out


# --- x81: BPE merge-pair statistics + tokenizer trainer -------------------------
# Byte-pair-encoding tokenizer training (Sennrich et al. 2016, public
# algorithm) runs on the WORD-FREQUENCY table, not the corpus: the
# distributed pass collapses 100 TB of text to |word types| rows (Heaps'
# law keeps that in the millions), and every merge round is then pair
# counting over that table.  x81 registers the fully distributed round-1
# slice — adjacent character-pair counts weighted by corpus word
# frequency, the argmax of which IS the first BPE merge — and
# `bpe_train` below runs the full iterative loop on the collected type
# table (each round is O(types); for type tables beyond driver memory
# the same per-round aggregation runs distributed over a segs DataFrame
# — the loop structure is identical).  No end-of-word marker: merges act
# on raw character sequences, so the trainer's round-1 counts equal the
# registered slice exactly (pytest-pinned).


@query(
    "x81_bpe_pairs",
    oracle="""
    WITH words AS (
      SELECT w, COUNT(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE len(w) > 0 GROUP BY 1),
    pairs AS (
      SELECT substr(w, i, 2) AS pair, freq
      FROM (SELECT w, freq, unnest(range(1, greatest(len(w), 1))) AS i
            FROM words))
    SELECT pair, CAST(SUM(freq) AS BIGINT) AS wcount
    FROM pairs GROUP BY 1
    """,
)
def x81_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    pairs = words.select(
        "freq",
        F.explode(
            F.expr(
                "CASE WHEN length(w) < 2 THEN array() ELSE"
                " transform(sequence(1, length(w) - 1),"
                " i -> substr(w, i, 2)) END"
            )
        ).alias("pair"),
    )
    return pairs.groupBy("pair").agg(
        F.sum("freq").cast("long").alias("wcount")
    )


def _bpe_merge_seg(s: tuple, a: str, b: str) -> tuple:
    """Merge non-overlapping (a, b) adjacencies left-to-right."""
    out, i = [], 0
    while i < len(s):
        if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(s[i])
            i += 1
    return tuple(out)


def bpe_train(
    df: DataFrame,
    n_merges: int = 16,
    min_count: int = 1,
    max_types: int | None = None,
) -> list[tuple[str, str]]:
    """Train BPE merges over the `text` column.  One distributed
    word-count pass, then the deterministic merge loop on the type
    table (highest weighted pair count, ties to the lexicographically
    smallest pair).  Returns the ordered merge list.

    ``min_count``/``max_types`` bound the DRIVER collect: the raw
    space-split type table of a 100 TB web crawl is NOT Heaps'-law
    friendly (URLs, typos, hex blobs run it to billions of rows), so
    the collect must be gated.  ``min_count`` drops singleton garbage
    types distributively (standard BPE practice — rare types contribute
    negligible pair mass anyway); ``max_types`` caps the table at the
    top-K types by (freq DESC, word ASC) — a deterministic total order,
    so two runs over the same corpus collect the same table.  Both
    prunes run BEFORE .collect(), inside the aggregation pipeline; the
    driver never sees a row they remove.  Scale note in BASELINE.md."""
    words = (
        df.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    if min_count > 1:
        words = words.filter(F.col("freq") >= min_count)
    if max_types is not None:
        words = words.orderBy(F.desc("freq"), F.asc("w")).limit(max_types)
    table = {r["w"]: r["freq"] for r in words.collect()}
    segs = {w: tuple(w) for w in table}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pc: dict[tuple[str, str], int] = {}
        for w, freq in table.items():
            s = segs[w]
            for a, b in zip(s, s[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + freq
        if not pc:
            break
        maxc = max(pc.values())
        best = min(p for p, c in pc.items() if c == maxc)
        merges.append(best)
        segs = {
            w: _bpe_merge_seg(s, best[0], best[1]) for w, s in segs.items()
        }
    return merges


def bpe_encode(df: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Apply a trained BPE merge list to the `text` column, distributed.

    Adds `bpe_tokens` (array<string>) and `n_bpe_tokens`.  The merge
    list rides the UDF closure (broadcast by Spark automatically —
    tokenizers are KBs); each Arrow batch segments its words through
    the ordered merges with a per-batch word cache, so the per-row cost
    collapses to a dict hit for every repeated word type (Zipf makes
    that the common case).  Pure executor-side work — no shuffle; this
    is the map stage every tokenize-and-count pipeline runs before
    packing."""
    from pyspark.sql.functions import pandas_udf

    ordered = list(merges)

    @pandas_udf("array<string>")
    def _encode(texts):  # pd.Series -> pd.Series (hints unresolvable
        # under `from __future__ import annotations` with local pd)
        cache: dict[str, list[str]] = {}

        def seg_word(w: str) -> list[str]:
            got = cache.get(w)
            if got is None:
                s = tuple(w)
                for a, b in ordered:
                    s = _bpe_merge_seg(s, a, b)
                got = cache[w] = list(s)
            return got

        return texts.map(
            lambda t: []
            if t is None
            else [tok for w in t.split(" ") if w for tok in seg_word(w)]
        )

    return df.withColumn("bpe_tokens", _encode(F.col("text"))).withColumn(
        "n_bpe_tokens", F.size("bpe_tokens")
    )


# --- x89: registered BPE encode (train -> tokenize, full value check) ----------
_X89_MERGES = 8
_X89_MIN_COUNT = 2


def _bpe_oracle(n_merges: int, min_count: int) -> str:
    """Generate the DuckDB mirror of bpe_train + bpe_encode: the merge
    loop UNROLLED as `n_merges` chained CTE rounds (best{r} = weighted
    pair argmax with the trainer's exact tie-break — count DESC, then
    lexicographically smallest (a, b); seg{r} = the merge applied to
    every type), then per-document reassembly.

    The subtle part is replicating _bpe_merge_seg's GREEDY LEFT-TO-RIGHT
    NON-OVERLAPPING application in declarative list lambdas.  Matches of
    (a, b) can overlap only when a = b (t[i+1] must equal both), and
    within a run of identical tokens the greedy scan selects exactly
    the even offsets from the run start — so selection is expressible
    WITHOUT recursion:

        sel[i] = t[i]=a AND t[i+1]=b AND
                 (a <> b OR (i - 1 - last_non_a_before(i)) % 2 = 0)

    and the rebuilt segmentation emits [a||b] at sel[i], [] at
    sel[i-1], [t[i]] otherwise, flattened.  Pinned against the Python
    trainer on corpora engineered with a=b merge chains (('a','a'),
    ('aa','a'), ('aa','aaa')...) in tests.

    Training counts come from the min_count-PRUNED type table (the same
    gate bpe_train applies before its driver collect), but merges are
    APPLIED to every type — pruned words still tokenize at encode time.
    When a round has no pairs left, a chr(1) sentinel merge (impossible
    in text, cnt = -1) wins the argmax and applies as a no-op — the SQL
    analogue of the trainer's early break."""
    parts = [
        """
    WITH words AS (
      SELECT w, COUNT(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE len(w) > 0 GROUP BY 1),
    seg0 AS (
      SELECT w, freq,
             list_transform(range(1, len(w) + 1),
                            i -> substr(w, i, 1)) AS t
      FROM words)"""
    ]
    for r in range(1, n_merges + 1):
        p = r - 1
        parts.append(f"""
    best{r} AS (
      SELECT a, b FROM (
        SELECT t[i] AS a, t[i+1] AS b, SUM(freq) AS cnt
        FROM (SELECT freq, t, unnest(range(1, len(t))) AS i
              FROM seg{p} WHERE freq >= {min_count})
        GROUP BY 1, 2
        UNION ALL SELECT chr(1), chr(1), CAST(-1 AS HUGEINT)
        ORDER BY cnt DESC, a ASC, b ASC LIMIT 1)),
    seg{r} AS (
      SELECT w, freq,
             flatten(list_transform(range(1, len(t) + 1), i ->
               CASE WHEN sel[i] THEN [a || b]
                    WHEN i > 1 AND sel[i-1] THEN []
                    ELSE [t[i]] END)) AS t
      FROM (
        SELECT w, freq, t, a, b,
               list_transform(range(1, len(t) + 1), i ->
                 i < len(t) AND t[i] = a AND t[i+1] = b
                 AND (a <> b OR
                      (i - 1 - coalesce(list_max(list_filter(range(1, i),
                           j -> t[j] <> a)), 0)) % 2 = 0)) AS sel
        FROM seg{p}, best{r}))""")
    parts.append(f"""
    docwords AS (
      SELECT doc_id,
             unnest(ws) AS w,
             unnest(range(1, len(ws) + 1)) AS ord
      FROM (SELECT doc_id,
                   list_filter(string_split(text, ' '),
                               x -> len(x) > 0) AS ws
            FROM documents)),
    joined AS (
      SELECT e.doc_id, e.ord, s.t
      FROM docwords e JOIN seg{n_merges} s ON e.w = s.w)
    SELECT d.doc_id,
           CAST(COALESCE(SUM(len(j.t)), 0) AS BIGINT) AS n_bpe_tokens,
           md5(COALESCE(string_agg(list_aggregate(j.t, 'string_agg',
                 chr(31)), chr(31) ORDER BY j.ord), '')) AS tokens_md5
    FROM documents d LEFT JOIN joined j ON d.doc_id = j.doc_id
    GROUP BY 1""")
    return ",".join(parts)


@query("x89_bpe_encode", oracle=_bpe_oracle(_X89_MERGES, _X89_MIN_COUNT))
def x89_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x89: the full train->tokenize BPE path as a registered key.
    bpe_train runs the distributed type-count pass with the min_count
    prune gating its driver collect (the 100 TB-safety fix — see
    bpe_train's docstring), then bpe_encode tokenizes every document
    through the learned merges in an Arrow-batched pandas UDF with a
    per-batch word cache (Zipf makes repeat types the common case).
    Output is (doc_id, n_bpe_tokens, tokens_md5) where tokens_md5
    digests the exact token sequence (chr(31)-joined) — the oracle
    re-derives the merge list AND the greedy segmentation in unrolled
    SQL, so the whole tokenizer is value-checked, not just counted."""
    from fanstats_producer_spark.io import spread

    docs = load(spark, sf_dir, "documents")
    merges = bpe_train(
        docs, n_merges=_X89_MERGES, min_count=_X89_MIN_COUNT
    )
    enc = bpe_encode(spread(docs, "doc_id"), merges)
    return enc.select(
        "doc_id",
        F.size("bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.md5(F.concat_ws("\x1f", "bpe_tokens")).alias("tokens_md5"),
    )


# --- x111: tokenizer fertility / compression by (lang, source) -------------------
# The report every tokenizer rollout reads before committing: FERTILITY
# (BPE tokens per whitespace word) and COMPRESSION (chars per BPE
# token) broken down by language and source (public convention: the
# mBERT/XLM-R fertility studies, SentencePiece's chars/piece metric).
# A fertility outlier is how a pipeline catches a tokenizer that
# shatters one language or one crawler bucket into char-level pieces —
# the per-corpus twin of x10's per-doc counts, at the grain where the
# retrain decision is made.  Engine composes the x89 tokenizer
# (distributed min-count-pruned train -> Arrow-batched encode); all
# sums are exact int64, the two e6 ratios are the only divisions (one
# correctly-rounded IEEE op each).  Word counts use the SAME
# len(w)>0-filtered whitespace split the trainer uses, so
# fertility = 1.0 exactly when no merge crosses a word (BPE tokens
# partition words).  Plan: x89's train/encode + ONE groupBy on a
# ~|langs×sources| domain with map-side combine; nothing new shuffles
# at corpus width.
@query(
    "x111_tokenizer_fertility",
    oracle=f"""
    WITH enc AS (
      SELECT doc_id, n_bpe_tokens
      FROM ({_bpe_oracle(_X89_MERGES, _X89_MIN_COUNT)})),
    d AS (
      SELECT doc_id, lang, source,
             len(list_filter(string_split(text, ' '),
                             x -> len(x) > 0)) AS n_words,
             len(text) AS n_chars
      FROM documents),
    g AS (
      SELECT d.lang, d.source,
             COUNT(*) AS n_docs,
             CAST(SUM(d.n_words) AS BIGINT) AS n_words,
             CAST(SUM(enc.n_bpe_tokens) AS BIGINT) AS n_tokens,
             CAST(SUM(d.n_chars) AS BIGINT) AS n_chars
      FROM d JOIN enc USING (doc_id)
      GROUP BY 1, 2)
    SELECT lang, source, n_docs, n_words, n_tokens, n_chars,
           CAST(floor(CAST(n_tokens AS DOUBLE) / NULLIF(n_words, 0)
                * 1e6 + 0.5) AS BIGINT) AS fertility_e6,
           CAST(floor(CAST(n_chars AS DOUBLE) / NULLIF(n_tokens, 0)
                * 1e6 + 0.5) AS BIGINT) AS chars_per_token_e6
    FROM g
    """,
)
def x111_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x111: per-(lang, source) BPE fertility (tokens/word) and
    compression (chars/token) through the x89 tokenizer — the rollout
    report that catches a tokenizer shattering one language or source
    (see block comment)."""
    from fanstats_producer_spark.io import spread

    docs = load(spark, sf_dir, "documents")
    merges = bpe_train(
        docs, n_merges=_X89_MERGES, min_count=_X89_MIN_COUNT
    )
    enc = bpe_encode(spread(docs, "doc_id"), merges).select(
        "doc_id", F.size("bpe_tokens").alias("n_tok")
    )
    base = spread(docs, "doc_id").select(
        "doc_id",
        "lang",
        "source",
        F.size(
            F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
        ).alias("n_words"),
        F.length("text").alias("n_chars"),
    )
    g = (
        base.join(enc, "doc_id")
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
    )
    return g.select(
        "lang",
        "source",
        "n_docs",
        "n_words",
        "n_tokens",
        "n_chars",
        # NULL (not Infinity) on an all-empty-text group: Spark's 0/0
        # yields Inf whose BIGINT cast diverges from DuckDB's erroring
        # floor(inf) cast — guard BOTH engines identically (ADVICE r11)
        F.floor(
            F.col("n_tokens").cast("double")
            / F.when(F.col("n_words") > 0, F.col("n_words"))
            * F.lit(1e6) + F.lit(0.5)
        ).cast("long").alias("fertility_e6"),
        F.floor(
            F.col("n_chars").cast("double")
            / F.when(F.col("n_tokens") > 0, F.col("n_tokens"))
            * F.lit(1e6) + F.lit(0.5)
        ).cast("long").alias("chars_per_token_e6"),
    )


# --- x112: Heaps-law vocabulary-growth fit + forecast ----------------------------
# The "how much more data until the vocab stops growing" planner
# (Heaps 1978, public: V = K·T^β): checkpoint the corpus at 10
# deterministic points in doc_id-accumulation order, measure
# (tokens T_i, distinct types V_i) at each, fit β by least squares in
# log2-log2 space, and forecast log2(V) at 10× the current token
# count — the number that decides whether the tokenizer's vocab size
# will hold at the next data order of magnitude (pairs with x108's
# context-length forecast).
#
# Exactness: checkpoints are VALUE deciles of the id range
# (min + (max−min)·i div 10 — pure integer, no rank windows over the
# corpus); V_i = count of types whose FIRST doc_id ≤ cutoff (one
# groupBy(token).min(doc_id), the only corpus-wide shuffle); T_i =
# Σ per-doc token counts under the cutoff (10-row broadcast join, no
# shuffle).  log2(T_i)/log2(V_i) are e7-quantized IMMEDIATELY (the
# only libm calls), the least-squares sums are exact int64 over the
# 10-row frame (envelope: x ≤ 4e8 at T=1e12 tokens → n·Σx·y ≤ 1.6e19
# overflows int64 past ~1e12 tokens — the fit inputs, not the corpus,
# bound this; re-scale to e6 beyond), and β/intercept/forecast are
# ONE shared-parenthesization double expression per row, e6-quantized
# in the report (the x109 window-total convention).
@query(
    "x112_vocab_growth",
    oracle="""
    WITH ids AS (
      SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
    ck AS (
      SELECT CAST(i AS INT) AS ckpt,
             lo + CAST(((hi - lo) * i) // 10 AS BIGINT) AS cutoff
      FROM ids CROSS JOIN range(1, 11) r(i)),
    tok AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '),
                             x -> len(x) > 0)) AS n_tok
      FROM documents),
    w AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                            x -> len(x) > 0)) AS token
      FROM documents),
    fst AS (SELECT token, MIN(doc_id) AS first_doc FROM w GROUP BY 1),
    t AS (
      SELECT ck.ckpt, ck.cutoff,
             CAST(SUM(tok.n_tok) AS BIGINT) AS n_tokens
      FROM ck JOIN tok ON tok.doc_id <= ck.cutoff
      GROUP BY 1, 2),
    v AS (
      SELECT ck.ckpt, CAST(COUNT(*) AS BIGINT) AS n_types
      FROM ck JOIN fst ON fst.first_doc <= ck.cutoff
      GROUP BY 1),
    pts AS (
      SELECT t.ckpt, t.cutoff, t.n_tokens, v.n_types,
             CAST(floor(log2(CAST(t.n_tokens AS DOUBLE)) * 1e7 + 0.5)
                  AS BIGINT) AS x,
             CAST(floor(log2(CAST(v.n_types AS DOUBLE)) * 1e7 + 0.5)
                  AS BIGINT) AS y
      FROM t JOIN v USING (ckpt)),
    fit AS (
      SELECT ckpt, cutoff, n_tokens, n_types, x, y,
             CAST(COUNT(*) OVER () AS BIGINT) AS n,
             CAST(SUM(x) OVER () AS BIGINT) AS sx,
             CAST(SUM(y) OVER () AS BIGINT) AS sy,
             CAST(SUM(x * y) OVER () AS BIGINT) AS sxy,
             CAST(SUM(x * x) OVER () AS BIGINT) AS sxx,
             CAST(MAX(CASE WHEN ckpt = 10 THEN n_tokens END) OVER ()
                  AS BIGINT) AS t_full
      FROM pts)
    SELECT ckpt, cutoff, n_tokens, n_types,
           CAST(floor(
             CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) * 1e6 + 0.5)
             AS BIGINT) AS beta_e6,
           CAST(floor(
             ((CAST(sy AS DOUBLE)
               - CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE)
                 * CAST(sx AS DOUBLE)) / n
              + CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(floor(log2(10.0 * t_full) * 1e7 + 0.5)
                       AS BIGINT))
             / 1e7 * 1e6 + 0.5) AS BIGINT) AS log2_types_at_10x_e6
    FROM fit
    """,
)
def x112_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x112: Heaps-law vocabulary growth — (tokens, types) at 10
    id-range decile checkpoints, the log-log least-squares β, and the
    log2 type-count forecast at 10× tokens (see block comment for the
    exactness construction)."""
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    words = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    ids = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    ck = (
        ids.crossJoin(
            docs.sparkSession.range(1, 11).select(
                F.col("id").cast("int").alias("ckpt")
            )
        )
        .select(
            "ckpt",
            (
                F.col("lo")
                + F.expr("((hi - lo) * ckpt) div 10")
            ).cast("long").alias("cutoff"),
        )
    )
    tok = docs.select("doc_id", F.size(words).alias("n_tok"))
    fst = (
        docs.select("doc_id", F.explode(words).alias("token"))
        .groupBy("token")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    t = (
        tok.join(F.broadcast(ck), F.col("doc_id") <= F.col("cutoff"))
        .groupBy("ckpt", "cutoff")
        .agg(F.sum("n_tok").cast("long").alias("n_tokens"))
    )
    v = (
        fst.join(F.broadcast(ck), F.col("first_doc") <= F.col("cutoff"))
        .groupBy("ckpt")
        .agg(F.count("*").cast("long").alias("n_types"))
    )
    pts = (
        t.join(v, "ckpt")
        .select(
            "ckpt",
            "cutoff",
            "n_tokens",
            "n_types",
            F.floor(
                F.log2(F.col("n_tokens").cast("double")) * F.lit(1e7)
                + F.lit(0.5)
            ).cast("long").alias("x"),
            F.floor(
                F.log2(F.col("n_types").cast("double")) * F.lit(1e7)
                + F.lit(0.5)
            ).cast("long").alias("y"),
        )
    )
    wall = Window.partitionBy()
    fit = pts.select(
        "ckpt",
        "cutoff",
        "n_tokens",
        "n_types",
        "x",
        "y",
        F.count("*").over(wall).cast("long").alias("n"),
        F.sum("x").over(wall).cast("long").alias("sx"),
        F.sum("y").over(wall).cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(wall).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(wall).cast("long").alias("sxx"),
        F.max(
            F.when(F.col("ckpt") == 10, F.col("n_tokens"))
        ).over(wall).cast("long").alias("t_full"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    beta = num / den
    x10 = F.floor(
        F.log2(F.lit(10.0) * F.col("t_full")) * F.lit(1e7) + F.lit(0.5)
    ).cast("long")
    return fit.select(
        "ckpt",
        "cutoff",
        "n_tokens",
        "n_types",
        F.floor(beta * F.lit(1e6) + F.lit(0.5)).cast("long").alias(
            "beta_e6"
        ),
        F.floor(
            (
                (F.col("sy").cast("double") - beta * F.col("sx").cast("double"))
                / F.col("n")
                + beta * x10
            )
            / F.lit(1e7) * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long").alias("log2_types_at_10x_e6"),
    )


# --- x86: temperature-based source mixing ---------------------------------------
# The mixing rule multilingual/multi-source training actually uses
# (public: multilingual BERT / XLM-R sampling): sample source s with
# probability ∝ n_s^α, α<1 flattening the head so small sources are
# not drowned.  x29 applies FIXED per-source rates; x86 derives the
# rates from the live source sizes at temperature α=0.5 and a total
# budget of half the corpus.  Every number the selection depends on is
# integer-exact across engines: sqrt(n) is e6-quantized per source
# BEFORE the share sum (exact BIGINT), targets are floor(p*budget+0.5),
# and the per-source keep threshold is integer division
# (target*1000) // n capped at 1000 — so the md5-bucket selection is
# bit-reproducible anywhere.  Plan: one tiny per-source aggregate,
# rates broadcast back, selection is a scan-side filter (the x29
# no-shuffle property), one aggregate proves the realized counts.
_X86_BUCKETS = 1000


@query(
    "x86_temperature_mix",
    oracle=f"""
    WITH n AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
    w AS (
      SELECT source, n_docs,
             CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1e6 + 0.5)
                  AS BIGINT) AS w_e6
      FROM n),
    tot AS (
      SELECT SUM(w_e6) AS tw, SUM(n_docs) AS total FROM w),
    t AS (
      SELECT source, n_docs,
             CAST(floor(CAST(w_e6 AS DOUBLE) / tw
                        * (total // 2) + 0.5) AS BIGINT) AS target
      FROM w CROSS JOIN tot),
    rates AS (
      SELECT source, n_docs, target,
             LEAST(target * {_X86_BUCKETS} // n_docs,
                   {_X86_BUCKETS}) AS keep_buckets
      FROM t),
    kept AS (
      SELECT d.source, COUNT(*) AS n_kept
      FROM documents d JOIN rates r USING (source)
      WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % {_X86_BUCKETS} < r.keep_buckets
      GROUP BY 1)
    SELECT r.source, r.n_docs, r.target, r.keep_buckets,
           COALESCE(k.n_kept, 0) AS n_kept
    FROM rates r LEFT JOIN kept k ON k.source = r.source
    """,
)
def x86_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    n = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    w = n.select(
        "source",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1e6 + 0.5)
        .cast("long")
        .alias("w_e6"),
    )
    tot = w.agg(
        F.sum("w_e6").alias("tw"), F.sum("n_docs").alias("total")
    )
    target = F.floor(
        F.col("w_e6").cast("double")
        / F.col("tw")
        * F.expr("total DIV 2")
        + 0.5
    ).cast("long")
    rates = (
        w.crossJoin(F.broadcast(tot))
        .select("source", "n_docs", target.alias("target"))
        # keep_buckets derives from the PUBLISHED target column, so the
        # reported target and the applied rate can never drift apart
        .select(
            "source",
            "n_docs",
            "target",
            F.least(
                F.expr(f"target * {_X86_BUCKETS} DIV n_docs"),
                F.lit(_X86_BUCKETS).cast("long"),
            ).alias("keep_buckets"),
        )
        .localCheckpoint(eager=True)  # selection + summary reuse
    )
    kept = (
        docs.join(F.broadcast(rates), "source")
        .filter(
            hash_bucket(F.col("doc_id"), _X86_BUCKETS)
            < F.col("keep_buckets")
        )
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            "target",
            "keep_buckets",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        )
    )


# --- x91: sequence packing (pretraining chunk layout) ---------------------------
# The packing step every GPT-style pretraining pipeline runs after
# tokenize: concatenate all documents' token streams in a deterministic
# global order and cut the stream every C tokens into training
# sequences — documents SPAN chunk boundaries (no padding waste; the
# standard concat-and-chunk scheme, cf. the GPT/Pile data pipelines).
# The layout is fully determined by exclusive prefix sums over the
# deterministic (md5(doc_id), doc_id) shuffle order x35 established, so
# the whole plan is one bucketed running sum (global_running_sum — no
# single-task window) plus integer arithmetic: first_seq = start div C,
# last_seq = (end-1) div C.  At 100 TB this is exactly the manifest a
# packer needs to write shards in parallel: each executor can render
# any sequence range knowing only (doc_id, start_offset) — no global
# sort, no driver state.
_X91_SEQ_LEN = 512


@query(
    "x91_sequence_packing",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS r
      FROM documents),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY r, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum
      FROM t)
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           cum - n_tokens AS start_offset,
           (cum - n_tokens) // {_X91_SEQ_LEN} AS first_seq,
           (cum - 1) // {_X91_SEQ_LEN} AS last_seq,
           (cum - 1) // {_X91_SEQ_LEN}
             - (cum - n_tokens) // {_X91_SEQ_LEN} + 1 AS n_seqs
    FROM c
    """,
)
def x91_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x91: concat-and-chunk sequence packing manifest.  Token counts
    use the x35 convention (len of the space split); the global order
    is (md5(doc_id), doc_id) — a deterministic shuffle, so the packed
    layout is reproducible on any engine; offsets come from the
    bucketed running sum (exclusive prefix = inclusive - own count)."""
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("r"),
    )
    c = global_running_sum(
        t,
        [F.asc("r"), F.asc("doc_id")],
        "n_tokens",
        bucket=F.substring("r", 1, 2),
        out_col="cum",
    )
    start = F.col("cum") - F.col("n_tokens")
    first = F.expr(f"(cum - n_tokens) div {_X91_SEQ_LEN}")
    last = F.expr(f"(cum - 1) div {_X91_SEQ_LEN}")
    return c.select(
        "doc_id",
        "n_tokens",
        start.alias("start_offset"),
        first.alias("first_seq"),
        last.alias("last_seq"),
        (last - first + F.lit(1)).alias("n_seqs"),
    )


# --- KN-family token dictionary (r14, VERDICT r13 item 1) -------------------------
# The Kneser-Ney pipelines group and join on TOKEN-TUPLE keys; at
# corpus scale the suffix aggregations and the corpus-sized score join
# ship token strings across each exchange.  The gram strings never
# appear in any output (outputs are doc_id + counts + quantized bits),
# so a bijective token -> int64 mapping leaves every count,
# probability and score unchanged by construction while the exchanges
# move fixed 8-byte ints instead of variable-width strings (guide §2.3
# "narrower types" / §8 "shuffle keys, not payloads").  Hash-key
# compaction was measured and REJECTED in r13: exactness requires
# residual string equality, so the strings still cross every exchange
# and the hash only adds bytes — dictionary encoding is the exact
# lever.
#
# Id assignment must be a pure deterministic function of the data:
# the vocab subtree is referenced once per gram position and Spark may
# evaluate the copies independently, so a nondeterministic id (mii,
# zipWithIndex) could desynchronize them.  Scheme: hash tokens into a
# fixed bucket domain, rank within each bucket by token — parallel
# (never a global single-partition window, the x104 lesson; the only
# per-bucket sort is |vocab|/buckets rows) and exactly reproducible.
# The attach is ONE shared broadcast build probed once per gram
# position, which keeps the r12-blessed one-corpus-shuffle plan shape
# (test_plans::test_x110_x100_score_join_is_per_distinct_gram): a
# BroadcastHashJoin adds no hash exchange, so the corpus stream still
# crosses exactly one gram-keyed exchange (the score join).  The
# broadcast caps this at driver-broadcastable vocab sizes (~1e8
# tokens); past that, attach via a shuffle join on tok — one more
# narrow exchange, same results.
#
# WHERE IT APPLIES (measured r14, same-session interleaved A/B):
# - x110: distinct 5-grams are corpus-scale (repeated mass 0.10), so
#   the score join genuinely exchanges the corpus stream on gram keys.
#   Dictionary arm at sf1: 15.2 -> 13.7 s (1.11x).  At sf0.1 the fixed
#   costs (vocab job ~0.4 s + broadcast-stage floors) exceed the
#   savings of a 600 KB corpus: +0.6 s — hence the _X110_DICT_MIN_BYTES
#   size gate below (the x102/q65/connected_components gate
#   convention; both arms value-identical by construction, pinned by
#   tests at a forced-low threshold).
# - x100/x94: NOT taken.  The fixture vocabulary (31 types) bounds the
#   model tables at |V|^n rows (<= 29,791 trigrams), so they broadcast
#   at every reachable SF and the corpus stream never crosses a
#   gram-keyed exchange to narrow.  Measured: x100 dictionary arm
#   sf1 7.5 -> 9.1 s (worse), so it only pays off at unbounded
#   (web-scale) vocabulary, unreachable on this fixture family
#   (OPTIMIZATION_r14.md "Not yet optimized").  x94's distinct-gram
#   score is kn_bits' shape (one level table carrying its window
#   counts, T a one-row broadcast), not the three-join reshape r14
#   rejected: against the three-table broadcast chain, 5 alternating
#   pairs on 4 cores (best of 2 warm calls each), x94's median went
#   sf0.1 2.22 -> 1.40 s and sf1 7.69 -> 5.26 s, 5 of 5 pairs each.

#: Bucket domain for deterministic id assignment.  1024 buckets keep
#: the per-bucket rank sort at |vocab|/1024 rows (1e6 at a 1e9-type
#: web vocab); the id packs (bucket, rank) into an int64 with 2^33
#: headroom per bucket.
_TOKEN_ID_BUCKETS = 1024

#: x110 dictionary-arm gate: documents.parquet size (file metadata, no
#: probe job) above which the token dictionary pays for its fixed
#: costs.  Measured r14: dictionary arm -0.6 s at sf0.1 (600 KB),
#: +1.5 s (1.11x) at sf1 (5.9 MB); 2 MiB sits between.  At 100 TB the
#: gate is always open and the savings scale with corpus bytes.
_X110_DICT_MIN_BYTES = 2 << 20


def _x110_use_dictionary(sf_dir: str) -> bool:
    """True when the corpus is large enough for the dictionary arm
    (file-metadata gate — on a cluster this is the catalog's table
    bytes).  Unreadable/missing file -> the plain string arm."""
    import os

    try:
        return (
            os.path.getsize(os.path.join(sf_dir, "documents.parquet"))
            >= _X110_DICT_MIN_BYTES
        )
    except OSError:
        return False


def _token_ids(docs: DataFrame) -> DataFrame:
    """(tok, tid) dictionary over the distinct tokens of `docs.text` —
    deterministic, parallel, collision-free (see block comment).
    Materialized once (localCheckpoint): the dictionary feeds one
    broadcast attach per gram position, and without materialization
    each broadcast re-evaluates the explode+distinct subtree
    (measured r14: +0.3-1.0 s/key at sf0.1).  The frame is bounded by
    |vocab| — it is the broadcastable side by construction, so
    pinning it is the same memory class as the broadcast itself."""
    w = Window.partitionBy("bkt").orderBy("tok")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
        .withColumn(
            "bkt", F.pmod(F.xxhash64("tok"), F.lit(_TOKEN_ID_BUCKETS))
        )
        .select(
            "tok",
            (
                F.col("bkt") * F.lit(1 << 33)
                + F.row_number().over(w)
            ).alias("tid"),
        )
        .localCheckpoint(eager=True)
    )


def _attach_token_ids(
    gf: DataFrame, vocab: DataFrame, positions: dict[str, str]
) -> DataFrame:
    """Replace string gram columns with dictionary ids ({str_col:
    id_col}): ONE shared broadcast build probed once per position (an
    aliased build per position defeats exchange reuse — measured
    +0.2 s at sf0.1), keeping only doc_id + the id columns so no token
    string rides any downstream exchange."""
    bv = F.broadcast(vocab)
    out = gf
    for src, dst in positions.items():
        out = (
            out.join(bv, F.col(src) == bv["tok"])
            .drop("tok", src)
            .withColumnRenamed("tid", dst)
        )
    return out.select("doc_id", *positions.values())


# --- x94 / x100 / x110: interpolated Kneser-Ney n-gram LM scoring ----------------
# The quality battery's most-used real-world member: CCNet's deployed
# filter is an n-gram LM (KenLM, Heafield 2011; Wenzek et al. 2020), not
# the unigram model x30/x43 mimic.  Interpolated Kneser-Ney (Kneser &
# Ney 1995; Chen & Goodman 1998) is THE standard n-gram smoothing; x94
# scores bigrams, x100 trigrams and x110 the deployed 5-gram order, all
# with one recurrence over levels k = n..2 and absolute discount
# D = 3/4:
#
#   P_k(w|ctx) = max(c_k - D, 0)/ctx_k + lambda_k * P_{k-1}(w|ctx')
#   p_k = (4*c_k - 3) / (4*ctx_k)    lambda_k = 3*N1_k / (4*ctx_k)
#   P_1(w) = pcont(w) = ncont(w) / T  (continuation probability: how
#            many CONTEXTS w follows, not how often — the famous "San
#            Francisco" correction; T = number of distinct bigrams)
#
# The top level reads raw n-gram counts; every level below reads
# CONTINUATION counts (distinct left extensions, Kneser-Ney's type
# counting), each one more groupBy of the level above; ctx_k is a
# level's total per context (its keys minus the last) and N1_k the
# number of its types per context.  Scored in-corpus grams have c >= 1,
# so the max() never clips.
#
# Parity: both engines evaluate the SAME IEEE double expression in the
# SAME parenthesization, p_n + lambda_n*(... + lambda_2*pcont), each
# p/lambda one correctly-rounded division of exact int64 operands.
# Division, multiply and add are correctly-rounded IEEE ops, so
# identical inputs give bit-identical doubles on both engines (the x93
# argument); the text is built once (_kn_prob_sql) and Spark parses the
# same string.  The one libm call (log2) rides x30's e7-quantize-then-
# exact-sum convention, so per-doc scores are value-checked, not
# approximated.  One exact int64 rational per gram (order 2:
# [(4c - 3)*T + 3*N1(v.)*N1(.w)] / (4*c(v)*T)) multiplies one more
# count in per level and overflows past order 2 at sf1's envelope; the
# nested form's largest int64 product is 4*c.
#
# Scale shape: extraction is per-row array arithmetic (_word_grams —
# NO window, NO shuffle).  Each level is a partial-agg groupBy with its
# ctx and N1 columns as windows partitioned by the context; the bottom
# ncont is a window on the level-2 table partitioned by the last token;
# T is a one-row aggregate broadcast onto the score frame, never a
# zero-arg window (that single-partitions its input, a real skew point
# at web-scale vocabularies — the x104 lesson).  The probability is a
# function of the gram alone, so it is assembled on the DISTINCT-gram
# frame and the corpus-sized occurrence stream (the only frame carrying
# doc_id) joins ONCE on the full gram key: the pre-r12 x100/x110 shape
# joined the stream through every suffix table, one corpus-wide shuffle
# per suffix key-set (VERDICT r11 item 3; pinned by
# test_plans::test_x110_x100_score_join_is_per_distinct_gram).  Order
# 2 needs no join to build its score.  Spark's static size estimate of
# a joined frame is the product of its inputs: a joined `cont` table
# plus a zero-arg T window (the pre-merge x110 shape) made x94 slower
# at sf1 (5.79 -> 7.35 s, 7 of 7 pairs), because the bigram score join
# lost its plan-time broadcast.  The same product decides which side
# of the score join broadcasts: at fixture scale the cross-joined score
# frame's estimate exceeds the occurrence stream's, so the stream is
# the build side; past the broadcast threshold AQE picks from runtime
# sizes.
#
# Oracle hazard (measured): a one-row `CROSS JOIN tt` relation (or a
# scalar subquery over it) sends DuckDB's join-order enumeration off a
# cliff at SIX relations — minutes of optimizer time and ~30 GB RSS on
# a 26k-row input, while the identical query with a T literal plans in
# 0.1 s.  The oracle therefore carries ncont and T as windows on its
# level-2 CTE (same values, zero extra relations), keeping the score
# join at n <= 5 relations; parity is value-level, so the two plans may
# differ.
#
# Fixture-sparsity measurement (recorded in BASELINE): at sf0.1 the
# repeated-mass fractions are 2-gram 1.00 / 3-gram 0.999 / 4-gram
# 0.327 / 5-gram 0.100 (sf0.01: 1.00 / 0.64 / 0.12 / 0.09) — the top
# two orders ride the backoff for most tokens, which is precisely the
# regime interpolated KN exists for; orders are NOT degenerate (a
# third of sf0.1's 4-gram mass is repeated), so the deployed-order LM
# is meaningful here, just backoff-heavy like any open-vocabulary
# corpus.
#
# x110 alone dictionary-encodes its gram keys above the
# _X110_DICT_MIN_BYTES corpus-size gate (see the _token_ids block
# comment; measured worse for x94/x100 at this fixture's vocabulary).
# Docs with fewer than n tokens have no n-gram and drop from the
# output in BOTH engines.

#: Gram position columns, first token first (the first n name an n-gram).
_GRAM_COLS = ("a", "b", "c", "d", "e")


def _word_grams(docs: DataFrame, n: int) -> DataFrame:
    """doc_id plus one row per word n-gram of `docs.text`, its tokens in
    _GRAM_COLS[:n]; docs with fewer than n tokens drop.  One SQL
    expression zips n shifted slices of the token array: slice and
    arrays_zip are code-generated, where a transform or zip_with lambda
    is interpreted per element (measured in one session at sf0.1, the
    gram frame's count job: 0.43 -> 0.30 s at n = 2, 1.15 -> 0.95 s at
    n = 5 against transform(sequence(...))), and one expression string
    is one py4j call where a Column-API zip_with chain cost ~150 at
    n = 5."""
    cols = _GRAM_COLS[:n]
    shifted = ", ".join(f"slice(t, {j + 1}, size(t) - {n - 1})" for j in range(n))
    return (
        docs.selectExpr("doc_id", "split(text, ' ') AS t")
        .filter(F.size("t") >= n)
        .selectExpr("doc_id", f"explode(arrays_zip({shifted})) AS g")
        .select(
            "doc_id", *(F.col("g")[str(j)].alias(c) for j, c in enumerate(cols))
        )
    )


def _word_grams_sql(n: int) -> str:
    """DuckDB twin of _word_grams: the `tk` (token list) and `gf`
    (doc_id + _GRAM_COLS[:n]) CTEs."""
    cols = _GRAM_COLS[:n]
    g = ", ".join(f"'{c}': t[i + {j}]" for j, c in enumerate(cols))
    return f"""tk AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    gf AS (
      SELECT doc_id, {", ".join(f"g['{c}'] AS {c}" for c in cols)}
      FROM (SELECT doc_id,
                   unnest(list_transform(range(1, len(t) - {n - 2}),
                          i -> {{{g}}})) AS g
            FROM tk WHERE len(t) >= {n}))"""


def _kn_prob_sql(n: int) -> str:
    """The interpolated order-n probability as SQL text both engines
    parse: level k's count c{k}, context total x{k} and context type
    count n{k}, nested over pcont = ncont / T."""
    p = "CAST(ncont AS DOUBLE) / CAST(T AS DOUBLE)"
    for k in range(2, n + 1):
        p = (
            f"CAST(4 * c{k} - 3 AS DOUBLE) / CAST(4 * x{k} AS DOUBLE)"
            f" + CAST(3 * n{k} AS DOUBLE) / CAST(4 * x{k} AS DOUBLE)"
            f" * ({p})"
        )
    return p


def kn_bits(
    gf: DataFrame, keys: tuple[str, ...], count_col: str, bits_col: str
) -> DataFrame:
    """Per-document (n-gram count, e4 bits per token) under the
    interpolated Kneser-Ney LM of order len(keys) trained on `gf`
    (doc_id + the gram columns `keys`, first token first)."""
    n = len(keys)
    levels, src = {}, gf
    for k in range(n, 1, -1):
        lk = keys[n - k :]
        ctx = Window.partitionBy(*lk[:-1])
        src = (
            src.groupBy(*lk)
            .agg(F.count("*").alias(f"c{k}"))
            .withColumn(f"x{k}", F.sum(f"c{k}").over(ctx).cast("long"))
            .withColumn(f"n{k}", F.count("*").over(ctx).cast("long"))
        )
        levels[k] = src
    tt = levels[2].agg(F.count("*").alias("T"))
    levels[2] = levels[2].withColumn(
        "ncont", F.count("*").over(Window.partitionBy(keys[-1])).cast("long")
    )
    score = levels[n]
    for k in range(n - 1, 1, -1):
        score = score.join(levels[k], list(keys[n - k :]))
    score = score.crossJoin(F.broadcast(tt)).select(
        *keys,
        F.floor(
            F.log2(F.expr(_kn_prob_sql(n))) * F.lit(1e7) + F.lit(0.5)
        )
        .cast("long")
        .alias("lg"),
    )
    return (
        gf.join(score, list(keys))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias(count_col),
            qint(
                -F.sum("lg").cast("double") / F.lit(1e7) / F.count("*"), 4
            ).alias(bits_col),
        )
    )


def _kn_oracle(n: int, count_col: str, bits_col: str) -> str:
    """DuckDB oracle of kn_bits over _word_grams_sql(n): one CTE per
    level, ncont and T as windows on the level-2 CTE."""
    ctes, src = [], "gf"
    for k in range(n, 1, -1):
        lk = _GRAM_COLS[n - k : n]
        ctx = f"PARTITION BY {', '.join(lk[:-1])}"
        bottom = (
            f""",
             CAST(COUNT(*) OVER (PARTITION BY {lk[-1]}) AS BIGINT) AS ncont,
             CAST(COUNT(*) OVER () AS BIGINT) AS T"""
            if k == 2
            else ""
        )
        ctes.append(
            f"""l{k} AS (
      SELECT {', '.join(lk)}, COUNT(*) AS c{k},
             CAST(SUM(COUNT(*)) OVER ({ctx}) AS BIGINT) AS x{k},
             CAST(COUNT(*) OVER ({ctx}) AS BIGINT) AS n{k}{bottom}
      FROM {src} GROUP BY {', '.join(lk)})"""
        )
        src = f"l{k}"
    levels_sql = ",\n    ".join(ctes)
    joins = " ".join(
        f"JOIN l{k} USING ({', '.join(_GRAM_COLS[n - k : n])})"
        for k in range(n, 1, -1)
    )
    return f"""
    WITH {_word_grams_sql(n)},
    {levels_sql},
    sc AS (
      SELECT doc_id,
             CAST(floor(log2({_kn_prob_sql(n)}) * 1e7 + 0.5) AS BIGINT) AS lg
      FROM gf {joins})
    SELECT doc_id, COUNT(*) AS {count_col},
           {sql_qint("-CAST(SUM(lg) AS DOUBLE) / 1e7 / COUNT(*)", 4)}
             AS {bits_col}
    FROM sc GROUP BY 1
    """


@query(
    "x94_kneser_ney_bits",
    oracle=_kn_oracle(2, "n_bigrams", "kn_bits_per_token_e4"),
)
def x94_kneser_ney_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x94: per-document bits-per-token under an interpolated
    Kneser-Ney bigram LM trained on the corpus itself — the n-gram
    upgrade of x30's unigram scorer."""
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    return kn_bits(
        _word_grams(docs, 2),
        _GRAM_COLS[:2],
        "n_bigrams",
        "kn_bits_per_token_e4",
    )


@query(
    "x100_kn_trigram_bits",
    oracle=_kn_oracle(3, "n_trigrams", "kn3_bits_per_token_e4"),
)
def x100_kn_trigram_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x100: x94's recursion one level deeper — the order where KN's
    backoff structure (top level on raw counts, lower levels on
    continuation counts) first fully appears."""
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    return kn_bits(
        _word_grams(docs, 3),
        _GRAM_COLS[:3],
        "n_trigrams",
        "kn3_bits_per_token_e4",
    )


@query(
    "x110_kn_5gram_bits",
    oracle=_kn_oracle(5, "n_5grams", "kn5_bits_per_token_e4"),
)
def x110_kn_5gram_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x110: the recursion at the deployed CCNet/KenLM order 5, with
    continuation counts at every interior level."""
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    gf = _word_grams(docs, 5)
    keys = _GRAM_COLS
    if _x110_use_dictionary(sf_dir):
        # dictionary-encode the 5-gram keys (r14, see _token_ids block
        # comment): counts are invariant under the token<->id bijection
        # and no token string crosses any downstream exchange.  Gated on
        # corpus size — below the gate the fixed vocab-job/broadcast
        # costs exceed the narrower-key savings (measured, see
        # _X110_DICT_MIN_BYTES).
        ids = ("ka", "kb", "kc", "kd", "ke")
        gf = _attach_token_ids(gf, _token_ids(docs), dict(zip(keys, ids)))
        keys = ids
    return kn_bits(gf, keys, "n_5grams", "kn5_bits_per_token_e4")


# --- x95: SentencePiece-style unigram-LM tokenizer (train + encode) ---------------
# The OTHER production tokenizer family (Kudo 2018, "Subword
# Regularization"; the SentencePiece default): instead of growing a
# vocab by merges (BPE, x81/x89), start from a large candidate-piece
# set, fit a unigram LM over pieces with EM, and encode by
# Viterbi-segmenting each word to the max-likelihood piece sequence.
#
# Architecture = bpe_train's (the r8 driver-OOM lesson, llm_data.py
# bpe_train): everything corpus-sized is distributed (word-type counts,
# candidate-substring frequencies, the per-type Viterbi E-step runs in
# mapInPandas on executors); only the PRUNED piece-count table ever
# reaches the driver (_X95_MIN_COUNT/_X95_MAX_TYPES/_X95_MAX_CANDS
# gates), where the
# M-step is a normalization over it.  Encode never touches the driver:
# the type->segmentation map is computed distributed and broadcast-
# joined to the corpus token stream (the x89 word-cache shape).
#
# Determinism/parity: hard-EM (Viterbi E-step) with every score an
# e7-quantized integer log2 of an exact count ratio (the x30
# convention), and segmentation ties broken by (max score, MIN cut
# mask) — mask bit i-1 set == cut after character i.  The min-mask rule
# is DP-decomposable (store per prefix the min mask among max-score
# prefixes; futures OR identical bits onto competing prefixes), so the
# engine's O(n * max_piece) Viterbi provably equals the oracle's
# brute-force enumeration of all 2^(n-1) cut masks — pinned by a
# randomized pytest.  The oracle unrolls BOTH EM rounds as chained
# CTEs over the (31-type) word table and re-derives train AND encode
# end to end; its mask enumeration caps at 2^7 (fixture max word = 8
# chars at every SF, measured) — a longer word would under-enumerate
# and FAIL the comparison loudly, while the engine's DP has no length
# limit.
_X95_MAX_PIECE = 8
_X95_VOCAB_MULTI = 40
_X95_EM_ITERS = 2
_X95_CHAR_PENALTY = 10_000_000
_X95_MIN_COUNT = 1
_X95_MAX_TYPES = 100_000
_X95_MAX_CANDS = 1_000_000


def _x95_qlog2(c: int, total: int) -> int:
    import math

    return int(math.floor(math.log2(c / total) * 1e7 + 0.5))


def viterbi_unigram(word: str, scores: dict):
    """Max-likelihood segmentation of `word` under integer piece
    scores, pieces at most _X95_MAX_PIECE long (the candidate set's
    bound); ties -> minimum cut mask.  Returns (pieces, score, mask)
    or None if the word cannot be covered by scored pieces."""
    n = len(word)
    best: list = [None] * (n + 1)
    best[0] = (0, 0)
    for i in range(1, n + 1):
        cand = None
        for j in range(max(0, i - _X95_MAX_PIECE), i):
            if best[j] is None:
                continue
            s = scores.get(word[j:i])
            if s is None:
                continue
            mask = best[j][1] | ((1 << (j - 1)) if j > 0 else 0)
            t = (best[j][0] + s, mask)
            if cand is None or t[0] > cand[0] or (
                t[0] == cand[0] and t[1] < cand[1]
            ):
                cand = t
        best[i] = cand
    if best[n] is None:
        return None
    score, mask = best[n]
    cuts = [j for j in range(1, n) if (mask >> (j - 1)) & 1]
    bounds = [0] + cuts + [n]
    pieces = [
        word[bounds[k] : bounds[k + 1]] for k in range(len(bounds) - 1)
    ]
    return pieces, score, mask


def _x95_gated_types(docs: DataFrame) -> DataFrame:
    """The gated word-type table (word, cnt) — ONE definition shared by
    the trainer and the encode map so the two can never diverge on
    which types exist (and so the encode-side broadcast stays bounded
    by _X95_MAX_TYPES, the same driver/executor-memory contract as
    bpe_train's collect gate)."""
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= _X95_MIN_COUNT)
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(_X95_MAX_TYPES)
    )


def unigram_train(docs: DataFrame) -> dict:
    """Train the unigram-LM piece table; returns {piece: score_e7}.
    See the x95 block comment for the EM formulation and gates."""
    import pandas as pd

    spark = docs.sparkSession
    types = _x95_gated_types(docs).localCheckpoint(eager=True)
    subs = types.select(
        "cnt",
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, length(word)), s -> "
                "transform(sequence(s, least(length(word), "
                f"s + {_X95_MAX_PIECE} - 1)), "
                "e -> substring(word, s, e - s + 1))))"
            )
        ).alias("piece"),
    )
    cand = (
        subs.groupBy("piece")
        .agg(F.sum("cnt").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("piece"))
        .limit(_X95_MAX_CANDS)
        .collect()  # pruned SMALL side only (the bpe_train gate)
    )
    total = sum(r["freq"] for r in cand)
    scores = {r["piece"]: _x95_qlog2(r["freq"], total) for r in cand}
    # with no EM round the vocab is the raw candidate-frequency one
    # (the counts the final selection reads are the substring freqs)
    counts_d = {r["piece"]: r["freq"] for r in cand}
    for _ in range(_X95_EM_ITERS):
        b_scores = spark.sparkContext.broadcast(scores)

        def estep(batches):
            from collections import Counter

            for pdf in batches:
                acc: Counter = Counter()
                for word, cnt in zip(pdf["word"], pdf["cnt"]):
                    seg = viterbi_unigram(word, b_scores.value)
                    if seg is None:
                        continue
                    for p in seg[0]:
                        acc[p] += int(cnt)
                yield pd.DataFrame(
                    {"piece": list(acc), "c": list(acc.values())}
                )

        counts = (
            types.mapInPandas(estep, "piece string, c long")
            .groupBy("piece")
            .agg(F.sum("c").alias("c"))
            .collect()  # bounded by the candidate table
        )
        t = sum(r["c"] for r in counts)
        scores = {r["piece"]: _x95_qlog2(r["c"], t) for r in counts}
        counts_d = {r["piece"]: r["c"] for r in counts}
    multi = sorted(
        (p for p in counts_d if len(p) > 1),
        key=lambda p: (-counts_d[p], p),
    )[:_X95_VOCAB_MULTI]
    chars = {r["piece"] for r in cand if len(r["piece"]) == 1}
    floor_s = min(scores.values()) - _X95_CHAR_PENALTY
    vocab = {p: scores[p] for p in multi}
    for ch in chars:
        vocab[ch] = scores.get(ch, floor_s)
    return vocab


def _x95_oracle() -> str:
    """DuckDB re-derivation of train AND encode: candidate substrings,
    two unrolled hard-EM rounds (brute-force mask segmentation — the
    min-mask tie rule the engine's Viterbi provably shares), final
    vocab (top multi-char + all chars at a floor score), then the
    per-document piece-stream digest."""
    p = _X95_MAX_PIECE
    seg = f"""
    segb AS (
      SELECT word, cnt, m,
             list_concat(list_concat([CAST(0 AS BIGINT)],
               list_filter(range(1, len(word)),
                           i -> ((m >> (i - 1)) & 1) = 1)),
               [CAST(len(word) AS BIGINT)]) AS b
      FROM gated CROSS JOIN range(0, 128) t(m)
      WHERE m < (1 << (len(word) - 1))),
    seg AS (
      SELECT word, cnt, m,
             list_transform(range(1, len(b)),
               k -> substr(word, CAST(b[k] + 1 AS INT),
                           CAST(b[k + 1] - b[k] AS INT))) AS pieces
      FROM segb),
    pcs AS (
      SELECT word, cnt, m, len(pieces) AS npieces,
             unnest(pieces) AS piece
      FROM seg)"""

    def em_round(r: int, prev: str) -> str:
        return f"""
    sc{r} AS (
      SELECT p.word, p.cnt, p.m, p.npieces, SUM(s.s) AS score
      FROM pcs p JOIN {prev} s USING (piece)
      GROUP BY 1, 2, 3, 4
      HAVING COUNT(*) = npieces),
    best{r} AS (
      SELECT word, cnt, m FROM (
        SELECT *, row_number() OVER (PARTITION BY word
                  ORDER BY score DESC, m) AS rn FROM sc{r})
      WHERE rn = 1),
    used{r} AS (
      SELECT piece, CAST(SUM(cnt) AS BIGINT) AS c
      FROM (SELECT b.cnt, unnest(s.pieces) AS piece
            FROM best{r} b JOIN seg s USING (word, m))
      GROUP BY 1),
    t{r} AS (SELECT CAST(SUM(c) AS BIGINT) AS T FROM used{r}),
    s{r} AS (
      SELECT piece,
             CAST(floor(log2(CAST(c AS DOUBLE) / T) * 1e7 + 0.5)
                  AS BIGINT) AS s
      FROM used{r} CROSS JOIN t{r})"""

    rounds = ""
    prev = "s0"
    for r in range(1, _X95_EM_ITERS + 1):
        rounds += "," + em_round(r, prev)
        prev = f"s{r}"
    last = prev
    lastu = f"used{_X95_EM_ITERS}"
    return f"""
    WITH types0 AS (
      SELECT word, COUNT(*) AS cnt FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE word <> '' GROUP BY 1),
    gated AS (
      SELECT word, cnt FROM types0
      ORDER BY cnt DESC, word LIMIT {_X95_MAX_TYPES}),
    cand AS (
      SELECT piece, CAST(SUM(cnt) AS BIGINT) AS freq FROM (
        SELECT cnt,
               unnest(flatten(list_transform(range(1, len(word) + 1),
                 s -> list_transform(
                        range(s, least(len(word), s + {p} - 1) + 1),
                        e -> substr(word, CAST(s AS INT),
                                    CAST(e - s + 1 AS INT)))))) AS piece
        FROM gated)
      GROUP BY 1 ORDER BY freq DESC, piece LIMIT {_X95_MAX_CANDS}),
    tc AS (SELECT CAST(SUM(freq) AS BIGINT) AS T FROM cand),
    s0 AS (
      SELECT piece,
             CAST(floor(log2(CAST(freq AS DOUBLE) / T) * 1e7 + 0.5)
                  AS BIGINT) AS s
      FROM cand CROSS JOIN tc),
    {seg}
    {rounds},
    chars AS (SELECT DISTINCT piece FROM cand WHERE len(piece) = 1),
    multi AS (
      SELECT piece FROM {lastu} WHERE len(piece) > 1
      ORDER BY c DESC, piece LIMIT {_X95_VOCAB_MULTI}),
    minv AS (SELECT MIN(s) AS ms FROM {last}),
    vocab AS (
      SELECT s2.piece, s2.s FROM {last} s2 JOIN multi USING (piece)
      UNION ALL
      SELECT ch.piece,
             COALESCE(s2.s, minv.ms - {_X95_CHAR_PENALTY}) AS s
      FROM chars ch
      LEFT JOIN {last} s2 ON s2.piece = ch.piece
      CROSS JOIN minv),
    scv AS (
      SELECT p.word, p.m, p.npieces, SUM(v.s) AS score
      FROM pcs p JOIN vocab v USING (piece)
      GROUP BY 1, 2, 3
      HAVING COUNT(*) = npieces),
    bestv AS (
      SELECT word, m FROM (
        SELECT *, row_number() OVER (PARTITION BY word
                  ORDER BY score DESC, m) AS rn FROM scv)
      WHERE rn = 1),
    wordenc AS (
      SELECT b.word, array_to_string(s.pieces, ' ') AS enc,
             CAST(len(s.pieces) AS BIGINT) AS np
      FROM bestv b JOIN seg s USING (word, m)),
    docw AS (
      SELECT doc_id, unnest(ts) AS word,
             generate_subscripts(ts, 1) AS pos
      FROM (SELECT doc_id, string_split(text, ' ') AS ts
            FROM documents))
    SELECT doc_id,
           CAST(SUM(np) AS BIGINT) AS n_pieces,
           md5(string_agg(enc, ' ' ORDER BY pos)) AS stream_md5
    FROM docw JOIN wordenc USING (word)
    GROUP BY 1
    """


@query("x95_unigram_encode", oracle=_x95_oracle())
def x95_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x95: train the unigram-LM tokenizer on the corpus, then encode
    every document — per doc the Viterbi piece count and the md5 of
    the space-joined piece stream (the x89 digest convention).  The
    type->segmentation map is computed DISTRIBUTED over the word-type
    table and broadcast-joined to the corpus token stream, so encode
    cost is one scan + one broadcast join at any corpus size."""
    import pandas as pd

    docs = load(spark, sf_dir, "documents")
    vocab = unigram_train(docs)
    b_vocab = spark.sparkContext.broadcast(vocab)
    # the SAME gated type table as the trainer/oracle — an ungated one
    # would encode (and broadcast) types the model never saw past the
    # _X95_MAX_TYPES boundary, silently diverging from the oracle's `gated`
    types = _x95_gated_types(spread(docs, "doc_id"))

    def enc(batches):
        for pdf in batches:
            rows = []
            for word in pdf["word"]:
                seg = viterbi_unigram(word, b_vocab.value)
                if seg is None:
                    continue
                rows.append(
                    {
                        "word": word,
                        "enc": " ".join(seg[0]),
                        "np": len(seg[0]),
                    }
                )
            yield pd.DataFrame(rows, columns=["word", "enc", "np"])

    enc_map = types.mapInPandas(enc, "word string, enc string, np long")
    tok = (
        spread(docs, "doc_id")
        .select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("pos", "word"),
        )
        .filter(F.length("word") > 0)
    )
    return (
        tok.join(F.broadcast(enc_map), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("np").alias("n_pieces"),
            F.md5(
                F.expr(
                    "array_join(transform(array_sort("
                    "collect_list(struct(pos, enc))), x -> x.enc), ' ')"
                )
            ).alias("stream_md5"),
        )
    )


# --- x104: PMI collocation extraction --------------------------------------------
# Pointwise mutual information over corpus bigrams (Church & Hanks
# 1990, public) — the standard collocation detector: which word pairs
# co-occur far above chance.  Corpus curation uses it to find
# boilerplate phrases, template residue, and multi-word entities worth
# protecting from tokenizer splits.  PMI(v,w) = log2(c(v,w)·N /
# (cL(v)·cR(w))) with N total bigrams and cL/cR the left/right
# marginals — ONE log2 of an exact int64 rational (sf1 envelope:
# numerator <= 5e4·2.75e6 ~ 1.4e11, denominator <= (2.75e6)² ~ 7.6e12),
# e7-quantized by the x30 convention.  A min-count floor ({mc}) drops
# the hapax pairs whose PMI is pure noise (the standard practice).
#
# Scale shape: bigram extraction is _word_grams' per-row expression (no
# window, no shuffle); marginals are two groupBys of the bigram-count
# table; N is a one-row scalar aggregate BROADCAST onto the scored
# frame (kn_bits' `tt` pattern) — a zero-arg window would single-
# partition the |vocab|-sized cL frame, a real skew point at 1e8+
# types (VERDICT r11 item 4).  The ORACLE still carries N as
# SUM(SUM(cvw)) OVER () inside the cl CTE: the one-row-relation form
# is hazardous only to DuckDB's join-order enumeration (the measured
# KN-oracle blowup), and parity is value-level, not plan-level.  The final
# top-{k} is orderBy+limit (TakeOrderedAndProject, never a global
# sort).
_X104_MIN_COUNT = 5
_X104_TOPK = 50


@query(
    "x104_pmi_collocations",
    oracle=f"""
    WITH {_word_grams_sql(2)},
    cvw AS (SELECT a AS v, b AS w, COUNT(*) AS cvw FROM gf GROUP BY 1, 2),
    cl AS (
      SELECT v, CAST(SUM(cvw) AS BIGINT) AS cl,
             CAST(SUM(SUM(cvw)) OVER () AS BIGINT) AS N
      FROM cvw GROUP BY 1),
    cr AS (SELECT w, CAST(SUM(cvw) AS BIGINT) AS cr FROM cvw GROUP BY 1),
    scored AS (
      SELECT cvw.v, cvw.w, cvw.cvw AS n_pair,
             CAST(floor(log2(CAST(cvw.cvw * cl.N AS DOUBLE)
                             / CAST(cl.cl * cr.cr AS DOUBLE))
                        * 1e7 + 0.5) AS BIGINT) AS pmi_e7
      FROM cvw JOIN cl USING (v) JOIN cr USING (w)
      WHERE cvw.cvw >= {_X104_MIN_COUNT})
    SELECT v, w, n_pair, pmi_e7 FROM scored
    ORDER BY pmi_e7 DESC, v, w
    LIMIT {_X104_TOPK}
    """,
)
def x104_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x104: top-``_X104_TOPK`` (50) bigram collocations by
    e7-quantized PMI with a min-count floor of ``_X104_MIN_COUNT``
    (5) — see block comment for the exact integer-rational
    formulation."""
    bgf = _word_grams(
        spread(load(spark, sf_dir, "documents"), "doc_id"), 2
    ).select(F.col("a").alias("v"), F.col("b").alias("w"))
    cvw = bgf.groupBy("v", "w").agg(F.count("*").alias("cvw"))
    cl = cvw.groupBy("v").agg(F.sum("cvw").alias("cl"))
    cr = cvw.groupBy("w").agg(F.sum("cvw").alias("cr"))
    tot = cvw.agg(F.sum("cvw").alias("N"))
    scored = (
        cvw.filter(F.col("cvw") >= _X104_MIN_COUNT)
        .join(cl, "v")
        .join(cr, "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "v",
            "w",
            F.col("cvw").alias("n_pair"),
            F.floor(
                F.log2(
                    (F.col("cvw") * F.col("N")).cast("double")
                    / (F.col("cl") * F.col("cr")).cast("double")
                )
                * F.lit(1e7)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("pmi_e7"),
        )
    )
    return scored.orderBy(
        F.desc("pmi_e7"), F.asc("v"), F.asc("w")
    ).limit(_X104_TOPK)


# --- x108: context-length / packing capacity forecast ----------------------------
# The capacity-planning pass run BEFORE committing to a context length:
# for each candidate max_seq_len L, what does the corpus cost under
# (a) the naive truncate-and-pad regime — docs clipped to L, padded up
# to L — vs (b) x91's concat-and-chunk packing (ceil(total/L)
# sequences, < L total pad)?  The deltas (tokens lost to truncation,
# pad-token waste, utilization) are the numbers that decide L and
# justify the packer.  All counts are exact integer aggregates of the
# per-doc whitespace token count; the two utilization ratios are the
# only divisions (e6, same expression both engines).
# Scale shape: ONE scan computes the per-doc counts; the 3-row L
# dimension broadcasts; everything else is map-side-combinable sums.
_X108_LENS = [128, 512, 2048]


@query(
    "x108_packing_forecast",
    oracle=f"""
    WITH d AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents),
    ls AS (SELECT CAST(unnest({_X108_LENS}) AS BIGINT) AS l),
    agg AS (
      SELECT l,
             COUNT(*) AS n_docs,
             SUM(CASE WHEN n > l THEN 1 ELSE 0 END) AS n_truncated,
             SUM(CASE WHEN n > l THEN n - l ELSE 0 END) AS tokens_lost,
             SUM(l - least(n, l)) AS pad_padded,
             SUM(n) AS total_tokens,
             SUM(least(n, l)) AS kept_tokens
      FROM d CROSS JOIN ls GROUP BY 1),
    calc AS (
      SELECT *, CAST(ceil(CAST(total_tokens AS DOUBLE) / l) AS BIGINT)
                  AS n_seq_packed
      FROM agg)
    SELECT CAST(l AS BIGINT) AS max_seq_len,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_truncated AS BIGINT) AS n_truncated,
           CAST(tokens_lost AS BIGINT) AS tokens_lost,
           CAST(pad_padded AS BIGINT) AS pad_padded,
           n_seq_packed,
           CAST(n_seq_packed * l - total_tokens AS BIGINT) AS pad_packed,
           CAST(floor(CAST(kept_tokens AS DOUBLE) / (n_docs * l) * 1e6
                      + 0.5) AS BIGINT) AS util_padded_e6,
           CAST(floor(CAST(total_tokens AS DOUBLE) / (n_seq_packed * l)
                      * 1e6 + 0.5) AS BIGINT) AS util_packed_e6
    FROM calc
    """,
)
def x108_packing_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x108: per candidate context length, the truncate-and-pad cost
    vs the concat-and-chunk cost — one corpus scan, broadcast L
    dimension, exact integer sums (see block comment)."""
    d = (
        spread(load(spark, sf_dir, "documents"), "doc_id")
        .select(F.size(F.split("text", " ")).cast("long").alias("n"))
    )
    ls = (
        load(spark, sf_dir, "documents")
        .sparkSession.range(1)
        .select(
            F.explode(
                F.array(*[F.lit(v) for v in _X108_LENS])
            ).alias("l0")
        )
        .select(F.col("l0").cast("long").alias("l"))
    )
    agg = (
        d.crossJoin(F.broadcast(ls))
        .groupBy("l")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("n") > F.col("l"), 1).otherwise(0)).alias(
                "n_truncated"
            ),
            F.sum(
                F.when(
                    F.col("n") > F.col("l"), F.col("n") - F.col("l")
                ).otherwise(0)
            ).alias("tokens_lost"),
            F.sum(F.col("l") - F.least("n", "l")).alias("pad_padded"),
            F.sum("n").alias("total_tokens"),
            F.sum(F.least("n", "l")).alias("kept_tokens"),
        )
    )
    calc = agg.withColumn(
        "n_seq_packed",
        F.ceil(F.col("total_tokens").cast("double") / F.col("l")).cast(
            "long"
        ),
    )
    return calc.select(
        F.col("l").cast("long").alias("max_seq_len"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_truncated").cast("long").alias("n_truncated"),
        F.col("tokens_lost").cast("long").alias("tokens_lost"),
        F.col("pad_padded").cast("long").alias("pad_padded"),
        "n_seq_packed",
        (F.col("n_seq_packed") * F.col("l") - F.col("total_tokens"))
        .cast("long")
        .alias("pad_packed"),
        F.floor(
            F.col("kept_tokens").cast("double")
            / (F.col("n_docs") * F.col("l"))
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long").alias("util_padded_e6"),
        F.floor(
            F.col("total_tokens").cast("double")
            / (F.col("n_seq_packed") * F.col("l"))
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long").alias("util_packed_e6"),
    )

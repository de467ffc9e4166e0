"""Deterministic sampling operators — the reproducibility primitive of a
training-data pipeline.

`sample(fraction)` with an RNG is not reproducible across engines, Spark
versions, or partitionings.  Hash sampling is: a row is in the sample
iff a stable content digest falls in a fixed range.  md5 is identical
everywhere, so the *same rows* are selected on this laptop, on a
1000-executor cluster, and in the DuckDB oracle — and the sample is
stable under repartitioning, retries, and incremental reruns (a row's
membership never changes as the corpus grows).

Stratified top-k per stratum uses the same digest as the order key:
an exact, reproducible per-group quota without an RNG.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fanstats_producer_spark.io import load
from fanstats_producer_spark.registry import query


def hash_bucket(col: Column, n_buckets: int = 16) -> Column:
    """Stable bucket in [0, n_buckets) from the md5 of a column.
    Uses the first 8 hex chars → 32-bit int → mod."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % n_buckets


#: Bucket count hash_sample draws from: the sample rate steps in 1/16ths.
_SAMPLE_BUCKETS = 16


def hash_sample(df: DataFrame, col: str, keep_buckets: int) -> DataFrame:
    """Keep rows whose hash bucket < keep_buckets (rate ≈
    keep_buckets / _SAMPLE_BUCKETS)."""
    return df.filter(hash_bucket(F.col(col), _SAMPLE_BUCKETS) < keep_buckets)


def stratified_topk(df: DataFrame, stratum: str, key: str, k: int) -> DataFrame:
    """Exactly k rows per stratum, chosen by digest order (reproducible,
    RNG-free); strata smaller than k keep all rows."""
    w = Window.partitionBy(stratum).orderBy(F.md5(F.col(key).cast("string")), key)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


@query(
    "x14_hash_sample",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 < 2
    """,
)
def x14_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~1/8 deterministic sample of documents by doc_id digest."""
    return hash_sample(load(spark, sf_dir, "documents"), "doc_id", keep_buckets=2).select(
        "doc_id", "lang"
    )


@query(
    "x15_stratified",
    oracle="""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
    WHERE rn <= 20
    """,
)
def x15_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 20 docs per language, digest-ordered (a balanced
    evaluation split drawn without an RNG)."""
    return stratified_topk(
        load(spark, sf_dir, "documents"), stratum="lang", key="doc_id", k=20
    ).select("doc_id", "lang")


# --- x51: deterministic shard-and-shuffle for training dataloaders --------------
_X51_SHARDS = 8


@query(
    "x51_shard_shuffle",
    oracle=f"""
    SELECT doc_id,
           CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) % {_X51_SHARDS} AS INT) AS shard,
           CAST(row_number() OVER (
                  PARTITION BY CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                               AS BIGINT) % {_X51_SHARDS}
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos
    FROM documents
    """,
)
def x51_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + sharding — the dataloader-facing
    epoch order: every document gets a shard in [0, {n}) and a position
    within the shard, both pure functions of the md5 digest (RNG-free, so
    a resumed/re-run job reproduces the identical order — the property a
    100 TB training run needs to restart mid-epoch).  Reshuffling between
    epochs = salt the digest with the epoch number.

    Plan: one exchange on the shard key; each shard orders independently
    (the window never sees another shard's rows), so parallelism ==
    shard count and no global sort exists anywhere.""".format(n=_X51_SHARDS)
    docs = load(spark, sf_dir, "documents")
    digest = F.md5(F.col("doc_id").cast("string"))
    shard = (
        F.conv(F.substring(digest, 1, 8), 16, 10).cast("long") % _X51_SHARDS
    ).cast("int")
    w = Window.partitionBy("shard").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        docs.select("doc_id", shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
    )


# --- x92: weighted reservoir sampling (A-Res, deterministic) --------------------
# Efraimidis & Spiliopoulos 2006 (public algorithm): a weighted sample
# WITHOUT replacement of k items is the top-k by key u_i^(1/w_i) with
# u_i uniform — equivalently by ln(u_i)/w_i, which is monotone and
# numerically tame.  Here the weight is the document's token count
# (token-proportional subsampling — the corpus-curation primitive for
# "sample a 100M-token dev slice whose length mix matches training"),
# and u_i derives from md5(doc_id) — 52 exact mantissa bits, +1 so u is
# never 0 — making the "random" sample a pure deterministic function of
# the data: reproducible on any engine, any partitioning, any run.
# Scale shape: one scan computing a per-row expression, then top-k via
# orderBy+limit (TakeOrderedAndProject — per-partition heaps + one
# k-row merge, never a global sort).  Keys are e9-quantized before the
# rank (the x77 ln-parity convention) with doc_id tie-break.
#
# Cross-libm parity bound (ADVICE r9): floor(x*1e9+0.5) could flip if
# JVM Math.log and DuckDB std::log disagree by 1 ulp exactly at a
# rounding boundary.  Measured margin on the fixtures: the minimum
# distance of any row's x*1e9+0.5 to an integer is 1.33e-5 at sf1
# (50k rows; 1.4e-4 at sf0.1), while the worst-case 1-ulp log
# perturbation is |ln(u/2^52)|/n_tokens*1e9*2^-52 <= 1.76e-7 — a 75x
# safety factor.  The margin shrinks like 1/(2n) in expectation, so
# parity stays safe below ~1e6 rows entering the key expression; past
# that, switch the oracle to rank-agreement on un-quantized keys
# (compare sampled doc_id sets, not key values) as ADVICE suggests.
_X92_K = 100


def ares_keyed(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, key_e9): the per-row A-Res key projection —
    shared by batch x92 and the s30 online reservoir (the key is a
    pure function of the row, so batch and stream agree by
    construction)."""
    u52 = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 2, 13),
            16,
            10,
        ).cast("long")
        + 1
    )
    n_tokens = F.size(F.split("text", " ")).cast("long")
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.floor(
            F.log(u52.cast("double") / F.lit(4503599627370496.0))
            / n_tokens.cast("double")
            * F.lit(1e9)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("key_e9"),
    )


def ares_topk(keyed: DataFrame, k: int = _X92_K) -> DataFrame:
    """Top-k of an A-Res-keyed frame — also the reservoir MERGE rule
    (top-k(top-k(A) ∪ top-k(B)) = top-k(A ∪ B))."""
    return keyed.orderBy(F.desc("key_e9"), F.asc("doc_id")).limit(k)


X92_ORACLE = f"""
    WITH t AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 2, 13))
                  AS BIGINT) + 1 AS u52
      FROM documents),
    keyed AS (
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(floor(ln(CAST(u52 AS DOUBLE) / 4503599627370496.0)
                        / n_tokens * 1e9 + 0.5) AS BIGINT) AS key_e9
      FROM t)
    SELECT doc_id, n_tokens, key_e9
    FROM keyed
    ORDER BY key_e9 DESC, doc_id
    LIMIT {_X92_K}
    """


@query("x92_weighted_sample", oracle=X92_ORACLE)
def x92_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x92: top-k by the A-Res key ln(u)/w — documents with more tokens
    get proportionally higher inclusion probability, and the whole
    sample is a deterministic function of doc_id (md5 uniforms)."""
    return ares_topk(ares_keyed(load(spark, sf_dir, "documents")))

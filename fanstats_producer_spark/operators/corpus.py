"""End-to-end corpus preparation pipeline (SURVEY.md §2C, composed):
exact dedup → language filter → quality gate → chunk → pack, as ONE
declarative DataFrame program.

This is the flagship 100 TB training-data use case: a user points the
engine at a raw document table and gets back pack-assigned training
chunks.  Because every stage is expression-level (no Python, no
collect), Catalyst fuses the dedup window, the filters, and the chunk
explode into a single pipeline — the filters run BEFORE the explode
multiplies rows, and column pruning reaches the parquet scan.  The only
shuffles are the dedup hash partition and the per-shard packing window;
at 100 TB both partition by high-cardinality keys (content hash, shard)
so no executor ever sees more than its slice.

Generalizes the reference's produce-then-analyze flow (main.py crawl →
Athena queries) into the preprocessing pipeline a training corpus needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fanstats_producer_spark.functions.chunking import (
    _BUDGET,
    _CHUNK,
    _STRIDE,
    chunk_documents,
)
from fanstats_producer_spark.functions.text import _STOP_SQL, STOPWORDS
from fanstats_producer_spark.io import load
from fanstats_producer_spark.registry import query


def language_quality_gate(docs: DataFrame) -> DataFrame:
    """The x08 language filter + x09 quality gate as pure row filters
    over `text` (stateless → usable verbatim on a stream): stopword
    density says 'en', 10 ≤ tokens ≤ 1000, type-token-ratio > 0.15."""
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    stop_ratio = (
        F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast("double") / n_tokens
    )
    return docs.filter(stop_ratio > 0.05).filter(
        n_tokens.between(10, 1000) & (ttr > 0.15)
    )


def prepare_corpus(
    docs: DataFrame,
    chunk_size: int = _CHUNK,
    stride: int = _STRIDE,
    budget: int = _BUDGET,
) -> DataFrame:
    """Raw documents → deduped, filtered, chunked, pack-assigned rows.

    Stages (all expression-level, same gates as x03/x08/x09/x17/x18):
    1. exact dedup: keep the min-doc_id representative per sha256(text);
    2. language filter: stopword-density heuristic says 'en';
    3. quality gate: 10 ≤ tokens ≤ 1000 and type-token-ratio > 0.15;
    4. chunk: overlapping token windows (tail kept);
    5. pack: floor(running-tokens-before / budget) per `lang` shard,
       over the deterministic (doc_id, chunk_idx) order.
    """
    dedup_w = Window.partitionBy(F.sha2(F.col("text"), 256)).orderBy("doc_id")
    clean = language_quality_gate(
        docs.withColumn("rn", F.row_number().over(dedup_w)).filter(F.col("rn") == 1)
    )

    chunks = chunk_documents(
        clean, chunk_size=chunk_size, stride=stride, passthrough=("lang",)
    )
    pack_w = (
        Window.partitionBy("lang")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_chunk_tokens").over(pack_w), F.lit(0))
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.col("lang").alias("shard"),
        "chunk_text",
        "n_chunk_tokens",
        F.floor(before / budget).cast("long").alias("pack_id"),
    )


@query(
    "x19_corpus_pipeline",
    oracle=f"""
    WITH dedup AS (
      SELECT doc_id, text, lang,
             string_split(text, ' ') AS toks
      FROM (SELECT *, row_number() OVER (PARTITION BY sha256(text)
                                         ORDER BY doc_id) AS rn
            FROM documents)
      WHERE rn = 1),
    clean AS (
      SELECT doc_id, lang, toks, len(toks) AS n_tok
      FROM dedup
      WHERE CAST(len(list_filter(toks, x -> x IN {_STOP_SQL})) AS DOUBLE)
              / len(toks) > 0.05
        AND len(toks) BETWEEN 10 AND 1000
        AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) > 0.15),
    sized AS (
      SELECT doc_id, lang, toks, n_tok,
             greatest(CAST(ceil((n_tok - {_CHUNK}) / {_STRIDE}.0) AS INT) + 1, 1)
               AS n_chunks
      FROM clean),
    chunks AS (
      SELECT doc_id,
             CAST(i AS INT) AS chunk_idx,
             lang AS shard,
             array_to_string(toks[i * {_STRIDE} + 1 : i * {_STRIDE} + {_CHUNK}], ' ')
               AS chunk_text,
             CAST(least(n_tok - i * {_STRIDE}, {_CHUNK}) AS INT) AS n_chunk_tokens
      FROM sized, LATERAL (SELECT unnest(range(0, n_chunks)) AS i))
    SELECT doc_id, chunk_idx, shard, chunk_text, n_chunk_tokens,
           CAST(floor(COALESCE(SUM(n_chunk_tokens) OVER (
                  PARTITION BY shard ORDER BY doc_id, chunk_idx
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                / {_BUDGET}) AS BIGINT) AS pack_id
    FROM chunks
    """,
)
def x19_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return prepare_corpus(load(spark, sf_dir, "documents"))

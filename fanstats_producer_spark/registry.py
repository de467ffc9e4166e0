"""Query registry: the single source of truth wired into __spark_entry__.py.

Each operator from SURVEY.md §2 registers itself here with a Spark builder
``(spark, sf_dir) -> DataFrame`` and (when SQL-expressible) a DuckDB oracle
SQL string over the same parquet tables.  Column names are aliased
identically on both sides — the driver sorts columns by name and value-
hashes, so name or type drift is a correctness failure.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

# Keys whose TIMED cost is dominated by Python batch workers
# (mapInPandas/applyInPandas/pandas-UDF codecs, BLAS blocks, tokenizer
# encoders) rather than JVM codegen.  bench.py stamps this list into
# BENCH records and times a fixed mapInPandas micro-probe alongside the
# run, so bench_compare can drift-normalize these cells by measured
# python-worker speed — a 2× interpreter/worker slowdown was previously
# invisible to all three sentinels (VERDICT r12 item 2, the x96 case).
# Membership test: the key's hot path is a Python worker stage (see the
# call sites in multimodal.py, similarity.decontam_blas, dedup x61/
# simhash, text/text_extra/udfs, llm_data x89/x95).
PY_WORKER_KEYS: frozenset[str] = frozenset(
    {
        # codec / multimodal (pure-python decode + numpy per batch)
        "x07_multimodal",
        "x07b_tensor_features",
        "x42_frame_sample",
        "x58_png_decode",
        "x64_wav_decode",
        "x65_gif_decode",
        "x70_avi_decode",
        "x71_jpeg_decode",
        "x76_mjpeg_decode",
        "x87_resize_image",
        "x88_image_neardup",
        "x90_audio_neardup",
        "x96_image_cluster_dedup",
        "s28_stream_image_near_dup",
        "s29_stream_audio_near_dup",
        # BLAS block scorers
        "x61_semdedup",
        "s26b_stream_decontam_large_eval",
        # python text workers
        "x01_sentiment",
        "x04c_simhash",
        "x89_bpe_encode",
        "x95_unigram_encode",
        "x101_keyword_tags",
        "s32_stream_keyword_tags",
        # the UDF surface itself
        "u01_udf",
        "u02_pandas_udf",
        "u03_grouped_map",
        "u04_udtf",
        "u05_pandas_udaf",
        "u06_arrow_udf",
        "u07_map_in_arrow",
        "u08_apply_in_arrow",
    }
)


def query(key: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query builder under ``key`` with an optional DuckDB
    oracle. No oracle ⇒ the driver records a weaker rows-only check
    (reserved for genuinely non-SQL-expressible ops)."""

    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise ValueError(f"duplicate query key: {key}")
        QUERIES[key] = fn
        if oracle is not None:
            ORACLE[key] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    from fanstats_producer_spark.operators import (  # noqa: F401
        aggregates,
        asof,
        clustering,
        corpus,
        corpus_extra,
        dedup,
        graph,
        joins,
        layout,
        llm_data,
        nested,
        parity_extra,
        product_analytics,
        quality_checks,
        relational,
        sampling,
        scd,
        scoring,
        setops,
        similarity,
        sketches,
        timeseries,
        tpch,
        windows,
    )
    from fanstats_producer_spark.functions import (  # noqa: F401
        chunking,
        scalars,
        text,
        text_extra,
        udfs,
    )
    from fanstats_producer_spark.operators import subqueries  # noqa: F401
    from fanstats_producer_spark.streaming import batch_equiv  # noqa: F401
    from fanstats_producer_spark.streaming import driver_entries  # noqa: F401
    from fanstats_producer_spark.operators import multimodal  # noqa: F401

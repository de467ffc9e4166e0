"""The benchmark's workloads: which keys each one runs, which first-use
engine paths its set-up warms, and how one operation is executed.

An operation is one key (builder call plus a noop-sink write) on the
query workloads, and one scheduled ``pipeline.run_pipeline`` call on
ingest.
"""

from __future__ import annotations

import contextlib
import datetime
import os
import shutil
import sys
from dataclasses import dataclass

from fanstats_producer_spark.io import TABLES

SF = 0.1


@dataclass(frozen=True)
class Workload:
    name: str
    keys: tuple[str, ...]  # registry keys; empty on ingest
    warm: tuple[str, ...]  # first-use engine paths warmed during set-up
    tables: tuple[str, ...] = ()  # io.TABLES the keys read, scanned during set-up


WORKLOADS = {
    w.name: w
    for w in (
        # Short read-only scan/join/aggregate keys: plan building, Catalyst
        # and job scheduling dominate; no Python workers, no drains.
        Workload(
            "relational",
            (
                "q02_filter", "q10_join_inner", "q12_semi_anti", "q20_agg",
                "q24_rollup", "q62_tpch_q3", "q72_tpch_q1",
            ),
            (),
            TABLES,
        ),
        # AvailableNow drains writing checkpoints, WAL and state stores: one
        # key per stream engine path the roadmap names (RocksDB state,
        # default-store dedup state, foreachBatch merge state, staged-landing
        # Bloom state, Python workers inside a drain).  perfbench/README.md
        # has the selection rule and each key's share of the full s* sweep.
        Workload(
            "stream",
            (
                "s12_stream_corpus", "s15_rocksdb_state", "s21_stream_near_dup",
                "s25_stream_bloom_dedup", "s32_stream_keyword_tags",
            ),
            ("arrow", "rocksdb"),
            ("documents", "events"),
        ),
        # Scheduled run_pipeline calls over seeded Twitter/Reddit/Facebook
        # pages: the paper's producer path through sources and pipeline.
        Workload(
            "ingest",
            (),
            ("pipeline",),
        ),
        # Arrow-to-Python batch workers (UDFs, codecs, tokenizers) do the
        # work, so the engine-Python boundary shows here and not on
        # relational.  relational and pyworker are not in BENCHMARK.json:
        # every run pays a cold set-up, a correctness pass and a warm-up,
        # and the measurement budget fits two workloads only.  Run them by
        # name.
        Workload(
            "pyworker",
            (
                "u02_pandas_udf", "u03_grouped_map", "u06_arrow_udf",
                "u08_apply_in_arrow", "x01_sentiment", "x04c_simhash",
                "x58_png_decode", "x64_wav_decode", "x89_bpe_encode",
                "x101_keyword_tags",
            ),
            ("arrow",),
            TABLES,
        ),
    )
}


def ensure_fixture(work: str, sf: float) -> tuple[str, bool]:
    """Generate the seed-42 fixture once per checkout with the repo's own
    generator; returns (dir, was_cached)."""
    out = os.path.join(work, f"sf{sf}")
    if os.path.exists(os.path.join(out, "_READY")):
        return out, True
    from scripts.gen_sf import generate

    staging = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    with contextlib.redirect_stdout(sys.stderr):
        generate(sf, staging, seed=42)
    open(os.path.join(staging, "_READY"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(staging, out)
    return out, False


def fixture_bytes(sf_dir: str) -> int:
    return sum(
        os.path.getsize(os.path.join(sf_dir, f))
        for f in os.listdir(sf_dir)
        if f.endswith(".parquet")
    )


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- warm-ups ---------------------------------------------------------------


def warm(spark, wl: Workload, sf_dir: str, scratch: str, tracer) -> None:
    """Pay each first-use engine path the workload's keys take once, so
    the first timed key does not absorb it: codegen and page cache for the
    tables they read, the Python UDF and Arrow paths, a RocksDB-backed
    drain, and one scheduled pipeline run."""
    from fanstats_producer_spark.io import load

    steps = wl.warm
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    with tracer.span("io.warm_scan"):
        for t in wl.tables:
            noop(load(spark, sf_dir, t))
    if "arrow" in steps:
        _warm_arrow(spark)
    if "rocksdb" in steps:
        _warm_rocksdb(spark, os.path.join(scratch, "warm"))
    if "pipeline" in steps:
        from perfbench import ingest

        feeds = ingest.Feeds(seed=0, run=-1, now=ingest.base_time(0))
        configs = ingest_configs(spark, os.path.join(scratch, "warm"))
        _run_pipeline(spark, configs, feeds, os.path.join(scratch, "warm", "lake"))


def _warm_arrow(spark) -> None:
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    plain = F.udf(lambda x: x + 1, LongType())
    vec = F.pandas_udf(lambda s: s + 1, LongType())

    def batches(it):
        yield from it

    noop(spark.range(1000).select(plain("id"), vec("id")))
    noop(spark.range(1000).mapInPandas(batches, "id long"))


def _warm_rocksdb(spark, root: str) -> None:
    """A 100-row windowed aggregation drained on the RocksDB state store:
    the first such drain in a JVM loads the native library."""
    from pyspark.sql import functions as F

    from fanstats_producer_spark.streaming.driver_entries import (
        _few_partitions,
        _rocksdb_state,
        _skip_nodata_batch,
    )

    src_dir = os.path.join(root, "in")
    spark.range(100).selectExpr(
        "timestamp_micros(1700000000000000 + id * 1000000) AS ts"
    ).write.mode("overwrite").parquet(src_dir)
    agg = (
        spark.readStream.schema("ts timestamp")
        .parquet(src_dir)
        .withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 minute"))
        .count()
    )
    with _few_partitions(spark, 2), _skip_nodata_batch(spark), _rocksdb_state(spark):
        (
            agg.writeStream.format("noop")
            .option("checkpointLocation", os.path.join(root, "ck"))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


# --- operations -------------------------------------------------------------


def run_key(spark, key: str, sf_dir: str, tracer) -> None:
    from fanstats_producer_spark import registry

    with tracer.span("registry.build"):
        df = registry.QUERIES[key](spark, sf_dir)
    with tracer.span("spark.materialize"):
        noop(df)


def ingest_configs(spark, config_dir: str) -> tuple[str, str]:
    """Datafile with one topic per core (at most nproc topic aliases) and
    the three-platform platformfile."""
    from perfbench import ingest

    os.makedirs(config_dir, exist_ok=True)
    return ingest.write_configs(config_dir, spark.sparkContext.defaultParallelism)


def _run_pipeline(spark, configs: tuple[str, str], feeds, lake: str) -> None:
    from fanstats_producer_spark import pipeline
    from perfbench import ingest

    pipeline.run_pipeline(
        spark,
        *configs,
        lake,
        fetch_page=feeds.twitter,
        now=feeds.now,
        extra_collectors=ingest.collectors(feeds),
    )


def run_ingest(spark, seed: int, run: int, configs: tuple[str, str], scratch: str, tracer):
    """One scheduled run into a fresh lake; returns its Feeds and lake."""
    from perfbench import ingest

    feeds = ingest.Feeds(seed, run, ingest.base_time(seed) + datetime.timedelta(hours=run))
    lake = os.path.join(scratch, "lakes", f"run{run:05d}")
    with tracer.span("pipeline.run"):
        _run_pipeline(spark, configs, feeds, lake)
    return feeds, lake


def count_landed(lake: str) -> tuple[int, int, int]:
    """(posts, data files, bytes) landed under one lake directory."""
    posts = files = size = 0
    for root, _, names in os.walk(lake):
        for n in names:
            if n.startswith(("part-", "part_")) and not n.endswith(".crc"):
                path = os.path.join(root, n)
                files += 1
                size += os.path.getsize(path)
                with open(path, "rb") as fh:
                    posts += sum(1 for line in fh if line.strip())
    return posts, files, size

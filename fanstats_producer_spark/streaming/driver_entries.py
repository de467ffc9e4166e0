"""Driver-visible `queries()` entries for the 33 registered stream keys.

The streaming jobs in streaming/jobs.py are pytest-verified with real
file streams, but the driver's correctness harness only sees registry
entries.  Each entry here runs its job for real — `readStream` over
the sf fixture, `Trigger.AvailableNow`, a checkpointed sink — then
returns the drained result as a *batch* DataFrame carrying a full
value-hash oracle, so the streaming machinery is exercised for real
AND checked exactly.  Most fixtures land as one file and drain as one
data micro-batch; s25/s27 drain two parity batches and s20 drains two
sources.  Where an oracle holds only for a given batch count (s22,
s27, s28, s29) the drain asserts that count.  What the oracle cannot
state — watermark eviction across many micro-batches, state recovery
— stays pytest-verified in tests/test_streaming.py.

The drain policy lives in ONE place, `_drain`: shuffle width, the
trailing no-data tick, the state backend, the AvailableNow run and the
batch-count precondition.  Two sink combinators wrap it:
`_drain_memory` drains into a memory sink, and `_drain_files` drains
a file sink in a private work dir and reads its table back.  Every
landing a stream reads, bar s20's two per-call source dirs, is staged
ONCE per session by `_landing`, which returns the stream.  Each key
states only what differs from the defaults.

Everything is bounded: checkpoints, state and file sinks live in a
private scratch dir removed after the drain (`_work_dir`), output rows
are per-key / per-window aggregates (never the raw event echo), and
each memory sink gets a fresh name so repeated invocations
don't collide.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from fanstats_producer_spark.functions.chunking import _CHUNK, _STRIDE
from fanstats_producer_spark.functions.num import sql_dsum_pos
from fanstats_producer_spark.functions.text import _STOP_SQL
from fanstats_producer_spark.io import load, normalize_events_ts, spread
# imported EXPLICITLY at module level (not composed inside the oracle
# builder) so standalone worker imports see it — the x61/x24 gotcha
from fanstats_producer_spark.operators.dedup import (
    _MH_CHAIN_SQL,
    _X47_REL_DEN,
    _X47_REL_NUM,
    _shingles_sql,
)
from fanstats_producer_spark.operators.llm_data import (
    _X27_EVAL_MOD,
    _X27_K,
    _X27_MIN_SHARED,
)
from fanstats_producer_spark.operators.multimodal import (
    _phash_hash_ctes,
    _x90_fp_ctes,
)
from fanstats_producer_spark.functions import text_extra
from fanstats_producer_spark.operators import quality_checks, sampling, sketches
from fanstats_producer_spark.operators.similarity import _X66_THRESH_E6
from fanstats_producer_spark.registry import ORACLE, query
from fanstats_producer_spark.session import scratch_dir
from fanstats_producer_spark.streaming import jobs


@contextlib.contextmanager
def _conf(spark: SparkSession, key: str, value: str):
    """Set one session conf for the enclosed block; the prior value is
    restored on exit, even when the block raises."""
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _few_partitions(spark: SparkSession, n: int = 8):
    """Stateful-stream state stores are per-shuffle-partition (HDFS-
    backed store init + commit per partition per micro-batch); at bench
    SFs that fixed overhead dwarfs the actual rows, so drains run on few
    partitions.  n=8 measured best across s05/s07/s08/s04b at sf0.1
    (n=4 starves applyInPandasWithState's Arrow workers, n=32 pays 2x
    state-store commits on the two-store stream-stream join).  Partition
    count never changes stream RESULTS, only parallelism — at 100 TB
    this knob goes UP, not down.  (Purely a parallelism knob: skipping
    the no-data micro-batch is a SEPARATE, semantic choice — `_drain`'s
    `tick`.)"""
    return _conf(spark, "spark.sql.shuffle.partitions", str(n))


def _skip_nodata_batch(spark: SparkSession):
    """Skip the trailing no-data micro-batch for the enclosed drain.
    Only drains whose OUTPUT does not depend on it may use this; the
    rule is `_drain`'s `tick`.  Eviction-across-batches itself stays
    pytest-verified with multi-batch file streams
    (tests/test_streaming.py)."""
    return _conf(spark, "spark.sql.streaming.noDataMicroBatches.enabled", "false")


def _rocksdb_state(spark: SparkSession):
    """Run the enclosed drain on the RocksDB state store provider — the
    production backend once state outgrows the JVM heap (the default
    HDFS-backed store keeps every version's map IN MEMORY per executor;
    RocksDB spills to local SSD and bounds memory, which is the only
    viable posture for 100 TB keyed state).  Results are provider-
    independent — only the storage engine changes."""
    return _conf(
        spark,
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )


def _drain(
    spark: SparkSession,
    start,
    *,
    partitions: int = 8,
    tick: bool = False,
    rocksdb: bool = False,
    batches: tuple[int, ...] | None = None,
) -> StreamingQuery:
    """Run one AvailableNow query to completion — drain everything, then
    stop, the reference's cron cadence (main.tf:217) — under the drain
    policy every registered stream key shares.  `start()` builds and
    starts the query inside the confs below, which are restored on exit
    even when it raises.

    - `partitions`: shuffle width, hence the number of per-partition
      state stores (see _few_partitions).
    - `tick`: keep the trailing no-data micro-batch.  It exists only to
      advance the watermark and EVICT state after the last data batch
      (profiled at ~0.9-1.3 s of pure replan+commit per drain), so
      drains skip it by default.  A drain whose OUTPUT rides the tick
      must keep it: an append-mode windowed aggregation emits a window
      only once the watermark passes its end (s16, and s18 behind its
      join), an outer join emits its null rows on eviction (s17), and
      event-time timers fire on it (s10b).  The others may skip:
      update and complete modes and inner joins emit on data, dedup
      appends first arrivals at once, applyInPandasWithState (s07)
      and s10's transformWithState run without timeouts, and
      foreachBatch sinks only act on data batches.
    - `rocksdb`: run on the RocksDB state store (_rocksdb_state).
    - `batches`: the data micro-batch counts the key's oracle holds
      for; any other count raises AssertionError naming the query and
      the count.  A raise, not an assert, so it survives python -O."""
    skip = contextlib.nullcontext() if tick else _skip_nodata_batch(spark)
    store = _rocksdb_state(spark) if rocksdb else contextlib.nullcontext()
    with _few_partitions(spark, partitions), skip, store:
        q = start()
        q.awaitTermination()
    if batches is not None:
        n = sum(p["numInputRows"] > 0 for p in q.recentProgress)
        if n not in batches:
            raise AssertionError(
                f"query {q.name or q.id}: observed {n} data micro-batches;"
                f" its oracle holds for {batches} — a trigger or landing"
                " change broke the precondition"
            )
    return q


def _drain_memory(
    spark: SparkSession, df: DataFrame, mode: str, **kw
) -> DataFrame:
    """`_drain` into a memory sink under a fresh query name; returns
    the sink's table.  `kw` goes to `_drain`."""
    name = f"drain_{uuid.uuid4().hex[:8]}"
    _drain(
        spark,
        lambda: df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start(),
        **kw,
    )
    return spark.table(name)


def _drain_files(spark: SparkSession, start, read, **kw) -> DataFrame:
    """`_drain` a query that writes parquet tables, in a private work
    dir removed on return.  `start(out, state, ckpt)` starts the query
    on three dirs inside it: `out`, the table the key returns; `state`,
    a side table the sink keeps; `ckpt`, the checkpoint.  A key whose
    result IS its state table passes `out` as that state.  Returns
    `read(spark.read.parquet(out))`, materialized before the dir goes.
    `kw` goes to `_drain`."""
    with _work_dir("drain_") as work:
        out, state, ckpt = (os.path.join(work, d) for d in ("out", "state", "ckpt"))
        _drain(spark, lambda: start(out, state, ckpt), **kw)
        return read(spark.read.parquet(out)).localCheckpoint(eager=True)


def _require_protobuf(spark: SparkSession) -> None:
    """transformWithStateInPandas (s10, s10b) speaks protobuf between
    the JVM and Python; see s10 for how compat.ensure_protobuf provides
    it."""
    from fanstats_producer_spark.compat import ensure_protobuf

    if not ensure_protobuf(spark):
        raise RuntimeError(
            "transformWithStateInPandas needs google.protobuf; install "
            "protobuf or provide the Cloud SDK vendored runtime "
            "(see fanstats_producer_spark/compat.py)"
        )


@contextlib.contextmanager
def _work_dir(prefix: str):
    """A private scratch dir for one drain's state, checkpoint and
    outputs, removed on exit — so results must be read back eagerly
    inside the block."""
    work = scratch_dir(prefix)
    try:
        yield work
    finally:
        shutil.rmtree(work, ignore_errors=True)


#: staged landings, one entry per landing dir: cache key -> (dir, the
#: files staged into it).  The document and parity landings key on
#: _fixture_cache_key, a linked landing on its source file's _file_key.
_DOC_LANDING_CACHE: dict[tuple, tuple[str, list[str]]] = {}
_PARITY_LANDING_CACHE: dict[tuple, tuple[str, list[str]]] = {}
_LINK_LANDING_CACHE: dict[tuple, tuple[str, list[str]]] = {}
#: s24's eval-suite shingles, collected once per (fixture, session) —
#: the suite is static across drains (same rationale as _landing)
_EVAL_SHINGLES_CACHE: dict[tuple, list[str]] = {}


def _landing(cache: dict, key: tuple, prefix: str, stage, read) -> DataFrame:
    """File-stream source over a landing dir staged ONCE per session.

    The file-stream source reads a directory, and a landing's content
    is fixed by its source files, so the first drain stages it into a
    scratch dir, `stage(landing)` returning the files it wrote, and
    every later drain reads that dir (per-key state and checkpoint
    dirs stay private).  `key` fingerprints the source files, so a
    fixture regenerated mid-session gets a fresh landing.  A cached
    landing is trusted only while every staged file still exists: an
    age-based /tmp reaper that took one would have a drain read fewer
    rows silently.  The dir must outlive the caller's drain, so its
    removal defers to interpreter exit.  Returns `read(landing)`."""
    landing, files = cache.get(key, (None, []))
    if not files or not all(os.path.isfile(f) for f in files):
        landing = scratch_dir(prefix)
        atexit.register(shutil.rmtree, landing, ignore_errors=True)
        files = stage(landing)
        cache[key] = (landing, files)
    return read(landing)


def _file_key(path: str) -> tuple:
    """(abspath, mtime_ns, size) of one file, or (abspath, 0, 0) when
    it is missing.  A stat, no data read."""
    path = os.path.abspath(path)
    try:
        st = os.stat(path)
        return (path, st.st_mtime_ns, st.st_size)
    except OSError:
        return (path, 0, 0)


def _fixture_cache_key(sf_dir: str) -> tuple:
    """Cache key for per-fixture session caches: abspath PLUS the
    documents.parquet (mtime_ns, size) fingerprint, so regenerating the
    fixture into the same directory mid-session (gen_sf.py) invalidates
    the staged landings / collected shingles instead of silently serving
    stale content (ADVICE r9)."""
    path = os.path.abspath(sf_dir)
    return (path, *_file_key(os.path.join(path, "documents.parquet"))[1:])


def _link_landing(spark: SparkSession, path: str) -> DataFrame:
    """File-stream source over ONE fixture parquet file, staged into a
    landing dir by hard link (fallback copy) — zero data movement, and
    the stream sees it as one arriving file.  Every drain over the same
    file reads one landing.  The schema comes from a static read so the
    stream never infers."""

    def stage(landing: str) -> list[str]:
        name = os.path.basename(path).replace(".parquet", "-000.parquet")
        dst = os.path.join(landing, name)
        try:
            os.link(path, dst)
        except OSError:
            shutil.copy(path, dst)
        return [dst]

    schema = spark.read.parquet(path).schema
    return _landing(
        _LINK_LANDING_CACHE,
        _file_key(path),
        "link_landing_",
        stage,
        lambda landing: spark.readStream.schema(schema).parquet(landing),
    )


def _read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream source over the fixture events table (s01's P1-made-
    continuous source, parquet flavor), staged by _link_landing, with
    io.load's events-ts normalization (event-time ops need TIMESTAMP)."""

    # Validate on the batch side FIRST: io.load runs the nanos-magnitude
    # sample check a stream cannot run — and the session confs (UTC,
    # nanosAsLong) it pins also govern this stream.
    load(spark, sf_dir, "events")
    return normalize_events_ts(_link_landing(spark, f"{sf_dir}/events.parquet"))


def _parity_landing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-micro-batch document stream, read one file per trigger from
    a landing staged DISTRIBUTED (the _doc_landing pattern — VERDICT r8
    item 3: the corpus never touches the driver): two doc_id-parity
    filtered executor-side JSON writes, each coalesced to ONE part file
    (the demo contract is exactly two file-stream batches — batch A
    seeds state, batch B exercises it; the coalesce(1) is that
    contract's shape, not an engine limit), renamed into the landing
    with distinct mtimes so the file-stream source orders them.  Used
    by s25 (Bloom dedup) and s27 (packing), which share ONE staging
    (measured ~2 s per avoided restage at bench SF).  Both staged files
    are checked before reuse — their deliberately-old epoch mtimes
    (batch ordering) make them prime targets for age-based /tmp
    reapers."""

    def stage(landing: str) -> list[str]:
        docs = load(spark, sf_dir, "documents").select(
            "doc_id",
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
            "text",
            "lang",
        )
        staged = []
        for half, fname, mtime in (
            (0, "a.json", 1_000_000_000),
            (1, "b.json", 1_000_000_100),
        ):
            part_dir = landing + f".half{half}"
            (
                docs.filter(F.col("doc_id") % 2 == half)
                .coalesce(1)
                .write.json(part_dir)
            )
            parts = glob.glob(os.path.join(part_dir, "part-*.json"))
            if len(parts) != 1:
                # data-dependent gate (empty parity partition, changed part
                # naming) — must survive python -O, so raise, don't assert
                raise ValueError(
                    f"parity stage half={half} expected exactly one part "
                    f"file, got {parts!r} in {part_dir}"
                )
            dst = os.path.join(landing, fname)
            os.rename(parts[0], dst)
            os.utime(dst, (mtime, mtime))
            shutil.rmtree(part_dir, ignore_errors=True)
            staged.append(dst)
        return staged

    return _landing(
        _PARITY_LANDING_CACHE,
        _fixture_cache_key(sf_dir),
        "parity_landing_",
        stage,
        lambda landing: spark.readStream.schema(jobs.DOCUMENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(landing),
    )


def _doc_landing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document stream over the staged document landing — (doc_id, ts,
    text, lang) JSON with the deterministic doc_id-derived event time —
    shared by every document-stream drain (s12, s21, s22, s24, s28,
    s29, s30, s32).

    Staged SPREAD, one part file per core: the file source plans one
    input split per small file, so the landing's file layout IS each
    drain's task count.  The fixture's documents.parquet is one row
    group; written as-is it lands as ONE part file, and every drain's
    per-row kernels (MinHash band keys, the pHash/audio workers, the
    keyword tagger) run in one task.  A producer landing is already
    multi-file (ndjson.write_partitioned writes one file per writing
    task), so the spread gives the fixture production's layout.
    AvailableNow with no maxFilesPerTrigger still drains every part file
    in ONE micro-batch.  The staged files are Spark's _SUCCESS marker
    and every part file."""

    def stage(landing: str) -> list[str]:
        docs = spread(load(spark, sf_dir, "documents"), "doc_id")
        # Stage DISTRIBUTED (executor-side JSON write, not a driver
        # collect — at 100 TB the corpus never fits on the driver).  Event
        # time is synthetic and deterministic: doc_id seconds laid out
        # across epoch-day 2024-01-01, computed as a column so every
        # writer task derives it locally.
        (
            docs.withColumn(
                "ts",
                F.expr(
                    "timestamp_seconds(to_unix_timestamp("
                    "timestamp'2024-01-01 00:00:00') + (doc_id div 3600) % 24 * 3600"
                    " + (doc_id div 60) % 60 * 60 + doc_id % 60)"
                ),
            )
            .select("doc_id", "ts", "text", "lang")
            .write.mode("overwrite")
            .json(landing)
        )
        return [
            os.path.join(landing, "_SUCCESS"),
            *glob.glob(os.path.join(landing, "part-*")),
        ]

    return _landing(
        _DOC_LANDING_CACHE,
        _fixture_cache_key(sf_dir),
        "doc_landing_",
        stage,
        lambda landing: jobs.read_document_stream(spark, landing),
    )


@query(
    "s01_stream_ingest",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date, COUNT(*) AS n
    FROM events GROUP BY 1
    """,
)
def s01_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s01: stream ingest -> checkpointed partitioned parquet sink
    (exactly-once), then summarize the landed layout.  Returns one row
    per event_date partition with its row count — the sink's manifest,
    not the raw echo, so the result stays tiny at any scale."""
    stream = _read_events_stream(spark, sf_dir)
    return _drain_files(
        spark,
        lambda out, _, ckpt: jobs.write_partitioned_stream(stream, out, ckpt),
        lambda landed: landed.groupBy("event_date")
        .agg(F.count("*").alias("n"))
        .select(F.col("event_date").cast("string").alias("event_date"), "n"),
    )


@query(
    "s05_watermark",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS n, {sum_value} AS sum_value
    FROM events GROUP BY 1, 2
    """.format(sum_value=sql_dsum_pos("value")),
)
def s05_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s05: watermarked tumbling-window aggregation run as a real
    incremental query (update mode -> memory sink).  The watermark
    bounds window state; update mode emits each window's running result
    per micro-batch, so the drained table holds the final per-window
    aggregates after AvailableNow finishes."""
    stream = _read_events_stream(spark, sf_dir)
    counts = jobs.windowed_counts(stream, window="1 day")
    return (
        _drain_memory(spark, counts, "update")
        .groupBy(
            F.date_format("start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
        )
        # update mode can emit a window more than once (once per batch it
        # changed in); the final emission carries the complete aggregate,
        # so take the max per key for a batch-stable result.
        .agg(F.max("n").alias("n"), F.max("sum_value").alias("sum_value"))
    )


@query(
    "s07_stateful",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(floor(({total}) * 1e6 + 0.5) AS BIGINT) AS total_value_e6
    FROM events GROUP BY 1
    """.format(total=sql_dsum_pos("value")),
)
def s07_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s07: applyInPandasWithState per-user running totals, drained via
    AvailableNow into a memory sink.  One output row per user per batch;
    the last emission per user is the final running total."""
    stream = _read_events_stream(spark, sf_dir)
    totals = jobs.user_running_totals(stream)
    return (
        _drain_memory(spark, totals, "update")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value_e6").alias("total_value_e6"),
        )
    )


@query(
    "s08_stream_join",
    oracle="""
    SELECT CAST(CAST(p.ts AS DATE) AS VARCHAR) AS purchase_date,
           COUNT(*) AS n_pairs,
           COUNT(DISTINCT p.event_id) AS n_purchases
    FROM events p JOIN events c ON p.user_id = c.user_id
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
    GROUP BY 1
    """,
)
def s08_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s08: watermarked stream-stream join run for real (both sides of
    the same event stream, time-bounded state), drained in append mode;
    the per-day pair counts equal the batch time-conditioned self-join
    the oracle states."""
    stream = _read_events_stream(spark, sf_dir)
    joined = jobs.clicks_to_purchases_join(stream, horizon="1 hour")
    # Stream-stream joins keep TWO per-partition state stores; see
    # _few_partitions.
    return (
        _drain_memory(spark, joined, "append")
        .groupBy(
            F.col("purchase_ts").cast("date").cast("string").alias("purchase_date")
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("purchase_id").alias("n_purchases"),
        )
    )


@query(
    "s17_stream_outer_join",
    oracle="""
    WITH wm AS (
      -- Spark's query watermark is the MIN across the two watermark
      -- operators, each fed only its own filtered side: the clicks
      -- watermark tracks max(click ts), not the global max(ts)
      SELECT least(
        (SELECT max(ts) FROM events WHERE event_type = 'click'),
        (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
        - INTERVAL 2 HOUR AS w),
    j AS (
      SELECT p.event_id AS purchase_id, p.ts AS p_ts, c.event_id AS click_id
      FROM events p LEFT JOIN events c
        ON p.user_id = c.user_id AND c.event_type = 'click'
       AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
      WHERE p.event_type = 'purchase')
    SELECT CAST(CAST(p_ts AS DATE) AS VARCHAR) AS purchase_date,
           COUNT(click_id) AS n_pairs,
           COUNT(*) FILTER (WHERE click_id IS NULL
                            AND p_ts < (SELECT w FROM wm)) AS n_null_emitted
    FROM j GROUP BY 1
    HAVING COUNT(click_id) > 0
        OR COUNT(*) FILTER (WHERE click_id IS NULL
                            AND p_ts < (SELECT w FROM wm)) > 0
    """,
)
def s17_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s17: LEFT OUTER stream-stream join run for real — the capability
    s08's inner join doesn't cover: an unmatched purchase emits its
    null-click row only when the WATERMARK proves no qualifying click
    can still arrive (state eviction, on the trailing no-data tick —
    so this drain, like s16, runs with tick=True).  Purchases inside the
    final 2-hour watermark delay stay in state and are deliberately
    absent from the null counts, which the oracle states exactly;
    matched pairs emit regardless (the inner part)."""
    stream = _read_events_stream(spark, sf_dir)
    joined = jobs.clicks_to_purchases_join(stream, horizon="1 hour", how="leftOuter")
    return (
        _drain_memory(spark, joined, "append", tick=True)
        .groupBy(
            F.col("purchase_ts").cast("date").cast("string").alias("purchase_date")
        )
        .agg(
            F.count("click_id").alias("n_pairs"),
            F.count(F.when(F.col("click_id").isNull(), 1)).alias(
                "n_null_emitted"
            ),
        )
    )


@query(
    "s18_chained_stateful",
    oracle="""
    WITH wm AS (
      SELECT least(
        (SELECT max(ts) FROM events WHERE event_type = 'click'),
        (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
        - INTERVAL 2 HOUR AS w),
    pairs AS (
      SELECT p.ts AS p_ts
      FROM events p JOIN events c
        ON p.user_id = c.user_id AND c.event_type = 'click'
       AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
      WHERE p.event_type = 'purchase')
    SELECT strftime(to_timestamp(
             CAST(floor(epoch(p_ts) / 21600) AS BIGINT) * 21600),
             '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_pairs
    FROM pairs, wm
    WHERE to_timestamp(CAST(floor(epoch(p_ts) / 21600) AS BIGINT) * 21600)
          + INTERVAL 6 HOUR <= wm.w
    GROUP BY 1
    """,
)
def s18_chained_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s18: TWO stateful operators chained in ONE streaming query —
    the watermarked stream-stream join (s08's) feeding an append-mode
    tumbling-window aggregation (s16's), a shape Spark only supports
    since the multi-stateful-operator work in 3.4+.  The join emits
    matched pairs; the 6-hour windows over purchase time close per the
    s16 rule (window_end <= watermark) under the s17 watermark (MIN
    across both join inputs' watermark operators); the trailing
    windows stay in the aggregation's state and are absent.  Needs the
    trailing no-data tick (tick=True)."""
    stream = _read_events_stream(spark, sf_dir)
    joined = jobs.clicks_to_purchases_join(stream, horizon="1 hour")
    counts = joined.groupBy(
        F.window("purchase_ts", "6 hours").alias("w")
    ).agg(F.count("*").alias("n_pairs"))
    return _drain_memory(spark, counts, "append", tick=True).select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n_pairs",
    )


@query(
    "s09_upsert_state",
    oracle="""
    SELECT user_id, event_id AS last_event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def s09_upsert_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s09: foreachBatch upsert sink run for real — the compacted
    latest-event-per-user state table after the drain equals the batch
    argmax the oracle states (ties broken by event_id, so the merge is
    deterministic across any batching)."""
    stream = _read_events_stream(spark, sf_dir)
    return _drain_files(
        spark,
        lambda out, _, ckpt: jobs.upsert_latest_per_key(stream, out, ckpt),
        lambda state: state.select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        ),
    )


@query(
    "s10_tws_stateful",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_value_e6
    FROM events GROUP BY 1
    """,
)
def s10_tws_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s10: transformWithStateInPandas — Spark 4's typed-state stateful
    API (ValueState handles, RocksDB-backed) — run as a REAL drained
    stream over the events fixture; the modern sibling of s07's
    applyInPandasWithState, same per-user running count/total contract.

    The JVM<->Python state protocol speaks protobuf; this container has
    no protobuf distribution, so compat.ensure_protobuf aliases the
    Cloud SDK's vendored pure-Python runtime onto `google.protobuf` for
    the driver, the task workers (addPyFile), and the TWS driver worker
    (sc.environment PYTHONPATH).  On a normally provisioned cluster the
    real distribution short-circuits all of that.

    Oracle exactness: state accumulates per-ROW integer micro-units
    (floor(value*1e6+0.5); values are nonnegative in this schema so
    pandas' truncating astype('int64') IS floor), so the totals are
    arrival-order-free and the batch SQL states them bit-exactly."""
    _require_protobuf(spark)
    stream = _read_events_stream(spark, sf_dir)
    totals = jobs.user_value_stats_tws(stream)
    # TWS requires the RocksDB provider.  8 partitions, NOT the s15 2:
    # unlike the JVM-side stateful operators, every TWS state call is a
    # synchronous per-key proto round-trip through that partition's
    # state-server socket, so partitions parallelize the PROTOCOL, not
    # just the rows (measured at sf0.1: n=2 5.5s / n=4 4.5s / n=8 3.7s
    # / n=16 3.8s — RocksDB per-store setup wins below 8, socket
    # parallelism above).  timeMode="None" → no timer path depends on
    # the trailing no-data tick, so the skip is output-safe.
    # One emission per user per micro-batch of running totals; the max
    # per user is the final state (counts/totals only grow).
    return (
        _drain_memory(spark, totals, "update", rocksdb=True)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value_e6").alias("total_value_e6"),
        )
    )


@query(
    "s10b_tws_timers",
    oracle=f"""
    WITH wm AS (SELECT epoch_ms(max(ts))
                       - {jobs.SESSION_CLOSE_WATERMARK_MINUTES * 60_000} AS w
                FROM events),
    per_user AS (
      SELECT user_id, COUNT(*) AS n_events,
             epoch_ms(min(ts)) AS first_ms, epoch_ms(max(ts)) AS last_ms
      FROM events GROUP BY 1)
    SELECT user_id, n_events, first_ms, last_ms
    FROM per_user, wm
    WHERE last_ms + {jobs.SESSION_GAP_MINUTES * 60_000} <= wm.w
    """,
)
def s10b_tws_timers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s10b: transformWithStateInPandas EVENT-TIME TIMERS + ListState —
    per-user inactivity close-out.  Each user's events accumulate in a
    ListState; one event-time timer re-arms at last_event + 30 min, and
    the user's activity row emits only when the WATERMARK passes the
    deadline (the state store's timer queue drives emission, not data
    arrival).  The fixture drains in one data batch, so all timers fire
    on the trailing no-data tick with watermark = max(ts) - 10 min —
    this drain therefore runs with tick=True (the s16 rule).  Users
    still active within 40 min of stream end stay open and are
    deliberately absent, which the oracle states exactly."""
    _require_protobuf(spark)
    stream = _read_events_stream(spark, sf_dir)
    closed = jobs.user_session_close_tws(stream)
    # 8 partitions: socket-parallel TWS protocol (see s10's note).
    return _drain_memory(spark, closed, "append", tick=True, rocksdb=True)


@query(
    "s11_content_dedup",
    oracle="""
    SELECT COUNT(*) AS n_input,
           COUNT(DISTINCT sha256(CAST(props AS VARCHAR))) AS n_kept
    FROM events
    """,
)
def s11_content_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s11: streaming exact content dedup (first arrival per digest
    within the watermark wins), drained and summarized.  Which duplicate
    survives is arrival-order-dependent, so the oracle states the
    deterministic part: input size and the number of kept (distinct-
    content) rows."""
    stream = _read_events_stream(spark, sf_dir)
    deduped = jobs.deduped_by_content(stream)
    kept = _drain_memory(spark, deduped, "append")

    total = load(spark, sf_dir, "events").count()
    return kept.agg(
        F.lit(total).cast("long").alias("n_input"), F.count("*").alias("n_kept")
    )


@query(
    "s04b_session_stream",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w
                       >= INTERVAL {jobs.SESSION_GAP_MINUTES} MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
      -- (ts, event_id): same total order as the marking window, so tied
      -- timestamps cannot misnumber a session boundary
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked)
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL {jobs.SESSION_GAP_MINUTES} MINUTE,
                    '%Y-%m-%d %H:%M:%S')
             AS session_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, sid
    """,
)
def s04b_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s04 run as a REAL stream: session_window aggregation drained via
    AvailableNow in complete mode (session merging cannot re-emit
    incrementally, so update mode is unsupported; complete rewrites the
    merged result each batch and the drained table IS the final
    sessions).  Equals the batch gap-and-island sessionization the
    oracle states; cross-batch merging is pytest-verified
    (tests/test_streaming.py::test_session_window_stream)."""
    stream = _read_events_stream(spark, sf_dir)
    sessions = jobs.sessionized(stream)
    return _drain_memory(spark, sessions, "complete").select(
        "user_id",
        F.date_format("start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
    )


@query(
    "s12_stream_corpus",
    oracle="""
    WITH dedup AS (
      SELECT text
      FROM (SELECT text, row_number() OVER (PARTITION BY sha256(text)
                                            ORDER BY doc_id) AS rn
            FROM documents)
      WHERE rn = 1),
    clean AS (
      SELECT toks, len(toks) AS n_tok
      FROM (SELECT string_split(text, ' ') AS toks FROM dedup)
      WHERE CAST(len(list_filter(toks, x -> x IN {stop})) AS DOUBLE)
              / len(toks) > 0.05
        AND len(toks) BETWEEN 10 AND 1000
        AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) > 0.15),
    sized AS (
      SELECT toks, n_tok,
             greatest(CAST(ceil((n_tok - {chunk}) / {stride}.0) AS INT) + 1, 1)
               AS n_chunks
      FROM clean),
    chunks AS (
      SELECT array_to_string(toks[i * {stride} + 1 : i * {stride} + {chunk}], ' ')
               AS chunk_text,
             CAST(least(n_tok - i * {stride}, {chunk}) AS INT) AS n_chunk_tokens
      FROM sized, LATERAL (SELECT unnest(range(0, n_chunks)) AS i))
    SELECT (SELECT COUNT(*) FROM sized) AS n_docs,
           COUNT(*) AS n_chunks,
           CAST(SUM(n_chunk_tokens) AS BIGINT) AS total_tokens,
           COUNT(DISTINCT md5(chunk_text)) AS n_distinct_chunks
    FROM chunks
    """.format(stop=_STOP_SQL, chunk=_CHUNK, stride=_STRIDE),
)
def s12_stream_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s12: the x19 corpus pipeline's streamable prefix run as a REAL
    drained stream — content dedup (watermark digest state) + the
    x08/x09 gates + chunking on arriving documents.  The summary is
    duplicate-representative-invariant (which copy survives the stream
    dedup is arrival-order-dependent, but every copy chunks
    identically), so the batch oracle states it exactly.  Packing is
    deliberately absent — it needs a per-shard total order, which runs
    as the batch compaction pass (corpus.py stage 5)."""
    # shared staged landing (_doc_landing): AvailableNow with no
    # maxFilesPerTrigger drains every staged part file in ONE
    # micro-batch, so the 30-min watermark never drops rows regardless
    # of part-file order.
    prepped = jobs.corpus_prep_stream(_doc_landing(spark, sf_dir))
    return _drain_memory(spark, prepped, "append").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_chunks"),
        F.sum("n_chunk_tokens").alias("total_tokens"),
        F.countDistinct(F.md5("chunk_text")).alias("n_distinct_chunks"),
    )


@query(
    "s16_append_window",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL {wm} MINUTE AS w FROM events)
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           event_type, COUNT(*) AS n, {sum_value} AS sum_value
    FROM events, wm
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
    GROUP BY 1, 2
    """.format(wm=jobs.WATERMARK_MINUTES, sum_value=sql_dsum_pos("value")),
)
def s16_append_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s16: APPEND-mode watermarked tumbling-window aggregation — the
    one streaming shape whose output depends on the trailing no-data
    micro-batch (the tick advances the watermark past closed windows so
    they emit exactly once and their state evicts), so this drain runs
    with tick=True.  Contrast s05/s15, which drain the same
    aggregation in update mode and can skip the tick.

    Append semantics the oracle states exactly: a window emits iff
    window_end <= final watermark = max(ts) - 30 min; the trailing
    partial window(s) stay in state and are deliberately ABSENT from
    the result — exactly-once emission, not completeness, is append
    mode's contract."""
    stream = _read_events_stream(spark, sf_dir)
    counts = jobs.windowed_counts(stream, window="1 hour")
    return _drain_memory(spark, counts, "append", tick=True).select(
        F.date_format("start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        "sum_value",
    )


@query(
    "s15_rocksdb_state",
    oracle=ORACLE["s05_watermark"],
)
def s15_rocksdb_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s05's watermarked windowed aggregation drained on the ROCKSDB
    state store (same oracle — state storage never changes results).
    Registered separately so the scale-critical backend gets a real
    exercised drain, not just a config note: at 100 TB the HDFS-backed
    default is an OOM, and this entry proves the engine runs unchanged
    on the spill-to-disk provider."""
    stream = _read_events_stream(spark, sf_dir)
    counts = jobs.windowed_counts(stream, window="1 day")
    # 2 partitions, not the drain-default 8: RocksDB pays a native DB
    # instance + snapshot upload PER partition per batch (measured 12 s
    # at n=8 vs ~1 s at n=2 for identical results) — at 100 TB that
    # per-partition cost amortizes over real state and the knob goes
    # back up.
    return (
        _drain_memory(spark, counts, "update", partitions=2, rocksdb=True)
        .groupBy(
            F.date_format("start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
        )
        .agg(F.max("n").alias("n"), F.max("sum_value").alias("sum_value"))
    )


@query(
    "s19_stream_static_join",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           n.n_name AS nation,
           COUNT(*) AS n_events,
           {sum_value} AS sum_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE e.event_type = 'purchase'
    GROUP BY 1, 2
    """.format(sum_value=sql_dsum_pos("e.value")),
)
def s19_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s19: stream-static broadcast join run for real — purchase events
    stream through a stateless join against the static customer x
    nation dimension (re-planned per micro-batch, broadcast so the
    stream side never shuffles), then an UNWINDOWED update-mode
    aggregation by (segment, nation) — the one streaming-agg flavor the
    other drains don't cover (no watermark: grouping keys are a bounded
    dimension domain, so state is bounded by the dimension, not by
    time).  The drained table's final emission per key equals the batch
    three-way join aggregate the oracle states."""
    from fanstats_producer_spark.functions.num import dsum_pos

    stream = _read_events_stream(spark, sf_dir).where(
        F.col("event_type") == "purchase"
    )
    enriched = jobs.enrich_with_dims(
        stream, load(spark, sf_dir, "customer"), load(spark, sf_dir, "nation")
    )
    agg = enriched.groupBy("segment", "nation").agg(
        F.count("*").alias("n_events"),
        dsum_pos("value").alias("sum_value"),
    )
    # update mode re-emits a key each batch it changes in; both
    # aggregates are monotone over positive inputs, so max = final.
    return (
        _drain_memory(spark, agg, "update")
        .groupBy("segment", "nation")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("sum_value").alias("sum_value"),
        )
    )


@query(
    "s20_union_streams",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           event_type,
           COUNT(*) AS n,
           {sum_value} AS sum_value
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY 1, 2
    """.format(sum_value=sql_dsum_pos("value")),
)
def s20_union_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s20: UNION of two independent streaming sources — clicks and
    purchases land in separate directories (two distinct file-stream
    sources, the multi-topic/multi-landing-zone shape), are unioned
    into ONE streaming plan, and feed a shared watermarked daily
    aggregation.  Spark tracks per-source offsets independently inside
    one checkpoint and takes the MIN watermark across sources — the
    semantics a multi-source production ingest relies on.  Drained in
    update mode; the final emission per key equals the batch aggregate
    over both event types."""
    from fanstats_producer_spark.functions.num import dsum_pos

    events = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    with _work_dir("s20_split_") as stage:
        clicks_dir = os.path.join(stage, "clicks")
        purchases_dir = os.path.join(stage, "purchases")
        # distributed split write (no driver materialization), one dir per
        # "topic" — each becomes its own file-stream source
        events.where(F.col("event_type") == "click").write.parquet(clicks_dir)
        events.where(F.col("event_type") == "purchase").write.parquet(
            purchases_dir
        )
        schema = spark.read.parquet(clicks_dir).schema
        clicks = spark.readStream.schema(schema).parquet(clicks_dir)
        purchases = spark.readStream.schema(schema).parquet(purchases_dir)
        # watermark each source BEFORE the union: the query watermark is the
        # MIN across the two operators, so a lagging source holds the line
        # (a single post-union watermark would track the global max and drop
        # the lagging source's rows as late once batches separate)
        unioned = clicks.withWatermark("ts", jobs.WATERMARK).union(
            purchases.withWatermark("ts", jobs.WATERMARK)
        )
        agg = unioned.groupBy(
            F.window("ts", "1 day").alias("w"), "event_type"
        ).agg(F.count("*").alias("n"), dsum_pos("value").alias("sum_value"))
        return (
            _drain_memory(spark, agg, "update")
            .groupBy(
                F.col("w.start").cast("date").cast("string").alias("day"),
                "event_type",
            )
            .agg(F.max("n").alias("n"), F.max("sum_value").alias("sum_value"))
        )


@query(
    "s21_stream_near_dup",
    oracle=f"""
    WITH {_MH_CHAIN_SQL},
    dup AS (
      SELECT DISTINCT a.doc_id
      FROM bands a JOIN bands c
        ON a.b = c.b AND a.v1 = c.v1 AND a.v2 = c.v2
           AND a.v3 = c.v3 AND a.v4 = c.v4
           AND c.doc_id < a.doc_id)
    SELECT s.doc_id,
           CAST(CASE WHEN d.doc_id IS NULL THEN 0 ELSE 1 END AS INT) AS is_dup
    FROM sigl s LEFT JOIN dup d ON d.doc_id = s.doc_id
    """,
)
def s21_stream_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s21: ONLINE banded-MinHash near-dup detection drained for real —
    per-row signatures/band keys (no aggregation, pure JVM kernels)
    stream into a foreachBatch merge that maintains per-band-bucket
    minimum ids as a compacted, crash-recoverable parquet state table;
    a document is flagged near-dup iff any of its 16 band buckets holds
    a smaller id (state from prior batches, or a co-arriving smaller id
    — deterministic, id-ordered).  The oracle states the batch rule
    (shares a band r-tuple with a smaller doc_id) via the same
    bit-exact md5/universal-hash signature SQL as x04d.  State scales
    with live band buckets (8 B each), not documents — the shape that
    lets a 100 TB/day crawl dedup online instead of re-running batch
    LSH over history; jobs.streaming_near_dup documents why the merge
    is JVM-side foreachBatch rather than per-bucket Python state."""
    stream = _doc_landing(spark, sf_dir)
    # one verdict row per doc (a doc's band keys ride one input row, so
    # they never split across micro-batches)
    return _drain_files(
        spark,
        lambda out, state, ckpt: jobs.streaming_near_dup(stream, state, out, ckpt),
        lambda verdicts: verdicts.select("doc_id", "is_dup"),
    )


@query(
    "s22_stream_verified_near_dup",
    oracle=f"""
    WITH {_MH_CHAIN_SQL},
    bmin AS (
      SELECT b, v1, v2, v3, v4, MIN(doc_id) AS m
      FROM bands GROUP BY b, v1, v2, v3, v4),
    cand AS (
      SELECT DISTINCT a.doc_id, bm.m AS partner
      FROM bands a
      JOIN bmin bm USING (b, v1, v2, v3, v4)
      WHERE bm.m < a.doc_id),
    ver AS (
      SELECT DISTINCT c.doc_id
      FROM cand c
      JOIN documents ta ON ta.doc_id = c.doc_id
      JOIN documents tb ON tb.doc_id = c.partner
      WHERE levenshtein(ta.text, tb.text) * {_X47_REL_DEN}
            <= greatest(length(ta.text), length(tb.text), 1) * {_X47_REL_NUM})
    SELECT s.doc_id,
           CAST(CASE WHEN c.doc_id IS NULL THEN 0 ELSE 1 END AS INT)
             AS is_candidate,
           CAST(CASE WHEN v.doc_id IS NULL THEN 0 ELSE 1 END AS INT)
             AS is_dup
    FROM sigl s
    LEFT JOIN (SELECT DISTINCT doc_id FROM cand) c ON c.doc_id = s.doc_id
    LEFT JOIN ver v ON v.doc_id = s.doc_id
    """,
)
def s22_stream_verified_near_dup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """s22: the ONLINE precision gate — s21's banded-MinHash stream
    with x59's edit-distance verify stage inside the foreachBatch
    merge (jobs.streaming_verified_near_dup).  Verdicts carry BOTH the
    raw banded flag (is_candidate) and the confirmed flag (is_dup), so
    the stream monitors its own gate the way x60 monitors the batch
    pipeline.  The oracle states the online rule exactly: a doc's
    partner is its colliding bucket's MINIMUM id (the one doc an 8-B
    bucket state can name), and is_dup requires the x47 integer gate
    levenshtein * _X47_REL_DEN <= maxlen * _X47_REL_NUM against that
    partner's text.  Text
    state is bounded by live bucket minima, not stream length.

    ORACLE PRECONDITION (single-batch equivalence): the oracle's
    "partner = global bucket minimum" only equals the stream's
    first-arrival verdict because this key drains the whole landing in
    ONE data micro-batch (AvailableNow, no maxFilesPerTrigger).  Under
    a multi-batch trigger, a doc arriving before its eventual bucket
    minimum would be judged against an earlier (larger-id) partner and
    the two sides would silently diverge — so the drain below asserts
    at most one data batch (none, an empty landing, is trivially
    oracle-consistent) and fails loudly if a trigger change ever splits
    it."""
    stream = _doc_landing(spark, sf_dir)
    return _drain_files(
        spark,
        lambda out, state, ckpt: jobs.streaming_verified_near_dup(
            stream, state, out, ckpt
        ),
        lambda verdicts: verdicts.select("doc_id", "is_candidate", "is_dup"),
        batches=(0, 1),
    )


@query(
    "s23_stream_drift",
    oracle=quality_checks.psi_sql(
        "event_type",
        "SELECT event_type, event_id % 2 AS half,"
        f" CAST(floor(value / {jobs.PSI_BUCKET_WIDTH}) AS BIGINT) AS bucket"
        " FROM events",
    ),
)
def s23_stream_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s23: the ONLINE arm of x63's PSI drift gate — the live half of
    the events table (event_id parity, the x63 convention) arrives as a
    file stream; the reference half is a static histogram computed
    once.  jobs.streaming_psi_drift keeps the cumulative live histogram
    as mergeable integer counts and republishes the per-type PSI
    monitor every batch.  Because the state merge is a commutative sum
    and PSI is recomputed from totals, the drained monitor equals the
    batch formulation for ANY batch slicing — the oracle states that
    batch value directly (no single-batch precondition, unlike s22)."""
    ref_counts = (
        jobs.psi_buckets(
            load(spark, sf_dir, "events").filter(F.col("event_id") % 2 == 0)
        )
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("n_ref"))
    )
    stream = _read_events_stream(spark, sf_dir).filter(
        F.col("event_id") % 2 == 1
    )
    return _drain_files(
        spark,
        lambda out, state, ckpt: jobs.streaming_psi_drift(
            stream, ref_counts, state, out, ckpt
        ),
        lambda monitor: monitor.select("event_type", "psi_e9", "n_ref", "n_live"),
    )


@query(
    "s24_stream_contamination_gate",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_shingles_sql(_X27_K)} AS shingles
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
    ev AS (
      SELECT DISTINCT unnest(shingles) AS shingle FROM sh
      WHERE doc_id % {_X27_EVAL_MOD} = 0),
    cnt AS (
      SELECT p.doc_id, COUNT(*) AS n
      FROM (SELECT doc_id, unnest(shingles) AS shingle FROM sh) p
      JOIN ev USING (shingle)
      GROUP BY 1)
    SELECT s.doc_id
    FROM sh s LEFT JOIN cnt c ON c.doc_id = s.doc_id
    WHERE COALESCE(c.n, 0) < {_X27_MIN_SHARED}
    """,
)
def s24_stream_contamination_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """s24: benchmark-decontamination running ON THE INGEST STREAM —
    the apply-side arm of x27 (same 5-gram/min-shared-3 contract)
    filtering documents as they arrive, before they ever land in the
    training corpus.  The eval suite's distinct shingles collect once
    (benchmark-sized by construction) and ride the gate's per-task
    set (contamination_gate's iterator pandas UDF — built once per
    task, probed per doc); the gate itself is STATELESS row logic, so
    verdicts are batch-slicing-invariant and the batch oracle needs no
    drain precondition (contrast s22).  Eval-slice docs flag
    themselves (they share all their own shingles) — the stream drops
    them along with contaminated training docs, which is the correct
    production behavior: nothing from the benchmark enters the mix."""
    from fanstats_producer_spark.operators.llm_data import (
        contamination_gate,
        eval_shingle_set,
    )

    key = _fixture_cache_key(sf_dir)
    shingles = _EVAL_SHINGLES_CACHE.get(key)
    if shingles is None:
        # one collect per (sf_dir, session) — the suite is static, so
        # re-collecting it per drain was pure waste (the _doc_landing
        # rationale applied to the gate's constant side)
        ev_docs = load(spark, sf_dir, "documents").filter(
            F.col("doc_id") % _X27_EVAL_MOD == 0
        )
        shingles = _EVAL_SHINGLES_CACHE[key] = eval_shingle_set(ev_docs)
    kept = contamination_gate(_doc_landing(spark, sf_dir), shingles).select("doc_id")
    return _drain_memory(spark, kept, "append").localCheckpoint(eager=True)


@query(
    "s25_stream_bloom_dedup",
    oracle="""
    WITH d AS (
      SELECT doc_id, md5(text) AS digest, doc_id % 2 AS half
      FROM documents),
    bits AS (
      SELECT doc_id, half,
             CAST(('0x' || substr(md5(digest || ':' ||
               CAST(j AS VARCHAR)), 1, 15)) AS BIGINT) % 65536 AS bit
      FROM d CROSS JOIN range(4) AS t(j)),
    abits AS (
      SELECT DISTINCT bit FROM bits WHERE half = 0)
    SELECT b.doc_id,
           CAST(CASE WHEN b.half = 1 AND
                          COUNT(*) FILTER (a.bit IS NOT NULL) = 4
                     THEN 1 ELSE 0 END AS INT) AS is_dup
    FROM bits b LEFT JOIN abits a ON a.bit = b.bit
    GROUP BY b.doc_id, b.half
    """,
)
def s25_stream_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s25: CONSTANT-state approximate dedup on the ingest stream —
    jobs.streaming_bloom_dedup maintaining the x79 Bloom sketch online.
    Two micro-batches by doc_id parity (maxFilesPerTrigger=1, distinct
    mtimes): batch A seeds the sketch, batch B's docs flag iff all 4 of
    their content-digest bit positions were set by batch A — true
    duplicates AND any Bloom false positives alike, and the oracle
    reproduces both exactly because the bit arithmetic is engine-
    portable.  At sf0.1 the four flagged docs are all TRUE cross-half
    exact duplicates (the corpus plants them) and the FP count is 0,
    matching the (1-e^{-kn/m})^k ≈ 4e-4 expectation at n=2.5k — the
    number a capacity planner reads off before sizing m."""
    stream = _parity_landing(spark, sf_dir)
    return _drain_files(
        spark,
        lambda out, state, ckpt: jobs.streaming_bloom_dedup(stream, state, out, ckpt),
        lambda verdicts: verdicts.select("doc_id", "is_dup"),
    )


def _s26_oracle() -> str:
    # explicit module import so standalone worker imports register x66
    # first (the x61/x24 lesson)
    import fanstats_producer_spark.operators.similarity  # noqa: F401

    from fanstats_producer_spark import registry as _reg

    # s26's drained verdicts ARE x66's batch output (stateless gate +
    # integer-exact argmax -> batch-slicing-invariant), so the oracle
    # is shared verbatim
    return _reg.ORACLE["x66_semantic_decontam"]


@query("s26_stream_semantic_decontam", oracle=_s26_oracle())
def s26_stream_semantic_decontam(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """s26: embedding-space decontamination ON THE INGEST STREAM — the
    x66 gate (nearest eval vector by e6-quantized cosine, integer-exact
    contamination flag) running as stateless append over arriving
    vectors, the s24 pattern applied to the dense modality.  The eval
    matrix (vec_id < 20) aggregates to a ONE-ROW broadcast frame (no
    driver collect) and each micro-batch row reduces it with a
    composite-integer array_min, so verdicts are batch-slicing-
    invariant and the drained table equals x66's batch output exactly —
    the oracle is x66's, shared verbatim.  Paraphrase-level benchmark
    leakage gets caught before a vector ever lands in the training
    index; the n-gram gate (s24) and this one are the two production
    arms of the same admission pipeline."""

    from fanstats_producer_spark.operators.similarity import (
        _X66_N_EVAL,
        eval_matrix_row,
        semantic_decontam_gate,
    )

    emb = load(spark, sf_dir, "embeddings")
    evs = eval_matrix_row(emb)
    stream = _link_landing(spark, f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") >= _X66_N_EVAL
    )
    return (
        _drain_memory(spark, semantic_decontam_gate(stream, evs), "append")
        .select("vec_id", "nearest_eval_id", "max_sim_e6", "contaminated")
        .localCheckpoint(eager=True)
    )


@query(
    "s26b_stream_decontam_large_eval",
    oracle=f"""
    WITH e AS (SELECT vec_id AS eval_id, embedding::DOUBLE[] AS ev
               FROM embeddings WHERE vec_id % 2 = 0),
         c AS (SELECT vec_id, embedding::DOUBLE[] AS v
               FROM embeddings WHERE vec_id % 2 = 1),
         scored AS (
           SELECT c.vec_id, e.eval_id,
                  CAST(floor(list_cosine_similarity(c.v, e.ev) * 1e6 + 0.5)
                       AS BIGINT) AS sim_e6
           FROM c CROSS JOIN e),
         ranked AS (
           SELECT vec_id, eval_id, sim_e6,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY sim_e6 DESC, eval_id) AS rnk
           FROM scored)
    SELECT vec_id,
           eval_id AS nearest_eval_id,
           sim_e6 AS max_sim_e6,
           CAST(sim_e6 >= {_X66_THRESH_E6} AS INT) AS contaminated
    FROM ranked WHERE rnk = 1
    """,
)
def s26b_stream_decontam_large_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """s26b: the decontamination stream for LARGE eval suites — the
    BLAS batch scorer per micro-batch (jobs.streaming_decontam_blas,
    which runs similarity.decontam_blas) instead of s26's per-row HOF.
    The eval suite is every EVEN vec_id (scales with SF: 1,000 vectors
    at sf0.1, 10,000 at sf1 — VERDICT r9 watch item 1's regime), the
    stream is every ODD vec_id.

    HONEST FINDING (round 10): the r9 hypothesis was that a codegen'd
    SQL cross-join would serve this regime; measured, it does NOT — at
    10k evals the HOF and cross-join forms BOTH cost ~125 s
    (expression-tree-bound on the per-pair cosine), while the
    batched-matmul scorer costs ~2 s warm with identical verdicts
    (similarity.decontam_blas docstring has the measurement).  The
    scorer shares s26's integer-exact decision (e6-quantized cosine,
    eval_id tie-break, threshold 350000), pinned bitwise against the HOF gate by the
    parity pytest; since round 11 it is fold-exact BY CONSTRUCTION —
    entries whose fast sim lands within 1e-10 of an e6 floor boundary
    are recomputed with the fold's exact scalar sequence, so no ulp
    class remains."""
    from fanstats_producer_spark.operators.similarity import _as_double

    emb = load(spark, sf_dir, "embeddings")
    evals = emb.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("eval_id"),
        _as_double(F.col("embedding")).alias("ev"),
    )
    stream = (
        _link_landing(spark, f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") % 2 == 1)
        .select("vec_id", "embedding")
    )
    return _drain_files(
        spark,
        lambda out, _, ckpt: jobs.streaming_decontam_blas(stream, evals, out, ckpt),
        lambda verdicts: verdicts.select(
            "vec_id", "nearest_eval_id", "max_sim_e6", "contaminated"
        ),
    )


@query(
    "s27_stream_sequence_packing",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
             doc_id % 2 AS half
      FROM documents),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY half, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum
      FROM t)
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           cum - n_tokens AS start_offset,
           (cum - n_tokens) // 512 AS first_seq,
           (cum - 1) // 512 AS last_seq,
           (cum - 1) // 512 - (cum - n_tokens) // 512 + 1 AS n_seqs
    FROM c
    """,
)
def s27_stream_sequence_packing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """s27: ONLINE sequence packing — x91's concat-and-chunk manifest
    built incrementally (jobs.streaming_sequence_packing), state = one
    carried token offset promoted per batch under the _BATCH marker
    protocol.  The layout depends on arrival order BY DESIGN (a packer
    packs the stream it is given), so the registered drain stages the
    deterministic two-batch parity landing and the oracle states that
    order: ORDER BY (doc_id % 2), doc_id — batch A then batch B, each
    in doc_id order.  The cross-batch carry is the thing under test:
    batch B's offsets continue exactly where batch A's total ended."""
    stream = _parity_landing(spark, sf_dir)
    # the oracle states the two-parity-batch arrival order
    return _drain_files(
        spark,
        lambda out, state, ckpt: jobs.streaming_sequence_packing(
            stream, out, state, ckpt
        ),
        lambda manifest: manifest.select(
            "doc_id",
            "n_tokens",
            "start_offset",
            "first_seq",
            "last_seq",
            "n_seqs",
        ),
        batches=(2,),
    )


@query(
    "s28_stream_image_near_dup",
    oracle=f"""
    WITH {_phash_hash_ctes()},
    bands AS (
      SELECT doc_id, ph, b, (ph >> (b * 7)) & 127 AS val
      FROM hashes CROSS JOIN range(9) AS t(b)),
    bmin AS (
      SELECT b, val, MIN(doc_id) AS m, arg_min(ph, doc_id) AS mph
      FROM bands GROUP BY b, val),
    flags AS (
      SELECT a.doc_id,
             MAX(CASE WHEN bm.m < a.doc_id THEN 1 ELSE 0 END) AS c,
             MAX(CASE WHEN bm.m < a.doc_id
                       AND bit_count(xor(a.ph, bm.mph)) <= 8
                  THEN 1 ELSE 0 END) AS d
      FROM bands a JOIN bmin bm ON bm.b = a.b AND bm.val = a.val
      GROUP BY a.doc_id)
    SELECT h.doc_id,
           CAST(coalesce(f.c, 0) AS INT) AS is_candidate,
           CAST(coalesce(f.d, 0) AS INT) AS is_dup
    FROM hashes h LEFT JOIN flags f ON f.doc_id = h.doc_id
    """,
)
def s28_stream_image_near_dup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """s28: ONLINE perceptual image near-dup — x88's real-codec pHash +
    banded LSH running as a stream gate (jobs.streaming_phash_near_dup),
    the image arm of the s21/s22 online dedup family.  State is
    per-band-bucket (min id, min pHash) — the stored hash doubles as
    the verify payload, so the hamming gate needs no side table.  The
    oracle shares x88's hash CTE chain verbatim (the engines can't
    drift) and states the online rule exactly: per doc, partner = each
    colliding 7-bit band bucket's MINIMUM id, is_candidate = any such
    partner smaller than the doc, is_dup = additionally hamming <= 8
    against that partner's hash.

    ORACLE PRECONDITION (single-batch equivalence, the s22 rationale):
    "partner = global bucket minimum" equals the stream's
    first-arrival verdict only because the drain below consumes the
    whole landing in ONE data micro-batch — asserted loudly."""
    stream = _doc_landing(spark, sf_dir)
    return _drain_files(
        spark,
        lambda out, state, ckpt: jobs.streaming_phash_near_dup(
            stream, state, out, ckpt
        ),
        lambda verdicts: verdicts.select("doc_id", "is_candidate", "is_dup"),
        batches=(0, 1),
    )


@query(
    "s29_stream_audio_near_dup",
    oracle=f"""
    WITH {_x90_fp_ctes()},
    bands AS (
      SELECT doc_id, fp, b, (fp >> (b * 7)) & 127 AS val
      FROM fps CROSS JOIN range(9) AS t(b)),
    bmin AS (
      SELECT b, val, MIN(doc_id) AS m, arg_min(fp, doc_id) AS mfp
      FROM bands GROUP BY b, val),
    flags AS (
      SELECT a.doc_id,
             MAX(CASE WHEN bm.m < a.doc_id THEN 1 ELSE 0 END) AS c,
             MAX(CASE WHEN bm.m < a.doc_id
                       AND bit_count(xor(a.fp, bm.mfp)) <= 8
                  THEN 1 ELSE 0 END) AS d
      FROM bands a JOIN bmin bm ON bm.b = a.b AND bm.val = a.val
      GROUP BY a.doc_id)
    SELECT h.doc_id,
           CAST(coalesce(f.c, 0) AS INT) AS is_candidate,
           CAST(coalesce(f.d, 0) AS INT) AS is_dup
    FROM fps h LEFT JOIN flags f ON f.doc_id = h.doc_id
    """,
)
def s29_stream_audio_near_dup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """s29: ONLINE perceptual AUDIO near-dup — x90's real-WAV-codec
    energy-delta fingerprint through the SAME modality-blind streaming
    gate as s28 (jobs.streaming_phash_near_dup with the audio feature
    worker).  This closes the online multimodal dedup matrix: text
    (s21/s22), image (s28), audio (here) — all three share the banded
    bucket-min state machine; only the stateless fingerprint prefix
    differs.  The oracle shares x90's fingerprint CTE chain verbatim
    and states the s28 bucket-min partner rule on it.

    ORACLE PRECONDITION: single-batch drain (the s22/s28 rationale),
    asserted loudly below."""
    from fanstats_producer_spark.operators.multimodal import (
        audio_fp_features,
    )

    stream = _doc_landing(spark, sf_dir)
    return _drain_files(
        spark,
        lambda out, state, ckpt: jobs.streaming_phash_near_dup(
            stream, state, out, ckpt, features=audio_fp_features
        ),
        lambda verdicts: verdicts.select("doc_id", "is_candidate", "is_dup"),
        batches=(0, 1),
    )


@query("s30_stream_weighted_sample", oracle=sampling.X92_ORACLE)
def s30_stream_weighted_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """s30: ONLINE weighted reservoir — x92's deterministic A-Res
    top-k maintained incrementally (jobs.streaming_weighted_sample).
    The oracle is x92's VERBATIM: A-Res merges exactly
    (top-k(A ∪ B) = top-k(top-k(A) ∪ top-k(B)) — pytest-pinned in
    test_streaming), so the online sample equals the batch sample at
    ANY micro-batch slicing and no single-batch precondition exists —
    unlike the first-arrival gates (s22/s28/s29), this key is
    batching-invariant by algebra, not by drain shape."""
    stream = _doc_landing(spark, sf_dir)
    return _drain_files(
        spark,
        lambda out, _, ckpt: jobs.streaming_weighted_sample(stream, out, ckpt),
        lambda sample: sample.select("doc_id", "n_tokens", "key_e9"),
    )


@query("s31_stream_quantile_monitor", oracle=sketches.X97_ORACLE)
def s31_stream_quantile_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """s31: ONLINE quantile monitor — x97's deterministic bottom-k
    sample maintained incrementally (jobs.streaming_quantile_monitor),
    estimates extracted from the drained state with the SAME shared
    extraction as batch x97 (sketches.quantile_estimates).  The oracle
    is x97's verbatim: min-k merges exactly (min-k(A∪B) =
    min-k(min-k(A)∪min-k(B)) — pytest-pinned), so the online sketch is
    batching-invariant by algebra and no drain precondition exists."""
    stream = _read_events_stream(spark, sf_dir)
    return _drain_files(
        spark,
        lambda out, _, ckpt: jobs.streaming_quantile_monitor(stream, out, ckpt),
        sketches.quantile_estimates,
    )


@query("s32_stream_keyword_tags", oracle=text_extra.X101_ORACLE)
def s32_stream_keyword_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s32: the dictionary gate ONLINE — x101's Aho-Corasick tagger as
    a stateless streaming projection (mapInPandas rides an append-mode
    stream unchanged), the blocklist/PII-term scan a 100 TB ingest
    runs on arriving documents.  Stateless per-row logic ⇒ verdicts
    are batch-slicing-invariant by construction and the oracle is
    x101's VERBATIM (the naive every-start-position probe), with no
    drain precondition."""
    from fanstats_producer_spark.functions.text_extra import (
        _X101_TERMS,
        keyword_tags,
    )

    stream = _doc_landing(spark, sf_dir)
    return _drain_files(
        spark,
        lambda out, _, ckpt: keyword_tags(stream, _X101_TERMS)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(),
        lambda tags: tags.select("doc_id", "term", "n_hits"),
    )


@query("s33_stream_ks_monitor", oracle=quality_checks.X105_ORACLE)
def s33_stream_ks_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s33: ONLINE exact-KS drift matrix — the cumulative (type,
    value) count state (quality_checks.value_counts) sum-merged per
    batch by jobs.staged_sum, the KS matrix rebuilt from the drained
    state with the SAME shared downstream as batch x105
    (quality_checks.ks_matrix_from_counts).  Counts are sums, so the
    monitor is batch-slicing-invariant by commutativity and the
    oracle is x105's VERBATIM with no drain precondition."""
    stream = _read_events_stream(spark, sf_dir)
    return _drain_files(
        spark,
        lambda out, _, ckpt: jobs.staged_sum(
            stream, out, ckpt, partial=quality_checks.value_counts,
            counts=["c"], name="s33_stream_ks_monitor",
        ),
        quality_checks.ks_matrix_from_counts,
    )


@query("s34_stream_auc_monitor", oracle=quality_checks.X107_ORACLE)
def s34_stream_auc_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s34: ONLINE Mann-Whitney/ROC-AUC separability matrix — the
    rank-based member of the online drift battery (s23 PSI, s31
    quantile, s33 exact-KS), completing it: every batch statistic in
    the x105/x107 family now has an online twin.  The persisted state
    is the SAME cumulative (type, value) count table s33 keeps (one
    state, every rank/CDF statistic); the AUC matrix is rebuilt from
    the drained state via the shared
    quality_checks.auc_matrix_from_counts, whose
    doubled-midrank-from-counts algebra is integer-exact and therefore
    bit-identical to batch x107 on any input.  Counts are sums, so the
    monitor is batch-slicing-invariant by commutativity and the oracle
    is x107's VERBATIM with no drain precondition."""
    stream = _read_events_stream(spark, sf_dir)
    return _drain_files(
        spark,
        lambda out, _, ckpt: jobs.staged_sum(
            stream, out, ckpt, partial=quality_checks.value_counts,
            counts=["c"], name="s34_stream_auc_monitor",
        ),
        quality_checks.auc_matrix_from_counts,
    )


@query("s35_stream_chi2_monitor", oracle=quality_checks.X109_ORACLE)
def s35_stream_chi2_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s35: ONLINE chi-square independence audit — x109's lang × source
    contingency report maintained over the document stream, the
    categorical member closing the online battery (numeric: s23 PSI,
    s31 quantile, s33 KS, s34 AUC; categorical: s35).  State is the
    (lang, source) count table (quality_checks.contingency_counts) —
    bounded by the category domain forever; the report rebuilds from
    state via the shared quality_checks.chi2_from_counts, bit-identical
    to batch x109 (the per-cell expression reads only the counts).
    Counts are sums, so the monitor is batch-slicing-invariant by
    commutativity and the oracle is x109's VERBATIM with no drain
    precondition."""
    # the shared _doc_landing JSON staging drops the source column, so
    # stage the parquet directly
    stream = _link_landing(spark, f"{sf_dir}/documents.parquet")
    return _drain_files(
        spark,
        lambda out, _, ckpt: jobs.staged_sum(
            stream, out, ckpt, partial=quality_checks.contingency_counts,
            counts=["o"], name="s35_stream_chi2_monitor",
        ),
        quality_checks.chi2_from_counts,
    )


@query("s36_stream_embedding_drift", oracle=quality_checks.X114_ORACLE)
def s36_stream_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s36: ONLINE embedding-centroid drift — x114's per-label
    centroid-shift report maintained over the embedding stream, the
    vector member completing the online battery (numeric: s23 PSI,
    s31 quantile, s33 KS, s34 AUC; categorical: s35; vector: s36).
    State is the (label, half, k) exact component-sum table
    (quality_checks.embedding_component_sums) — bounded by
    |labels| x 2 x dim forever; the report rebuilds from state via the
    shared quality_checks.embedding_drift_from_sums, bit-identical to
    batch x114 (integer sums are batch-slicing-invariant by
    commutativity), so the oracle is x114's VERBATIM with no drain
    precondition."""
    stream = _link_landing(spark, f"{sf_dir}/embeddings.parquet")
    return _drain_files(
        spark,
        lambda out, _, ckpt: jobs.staged_sum(
            stream, out, ckpt,
            partial=quality_checks.embedding_component_sums,
            counts=["s", "n"], name="s36_stream_embedding_drift",
        ),
        quality_checks.embedding_drift_from_sums,
    )

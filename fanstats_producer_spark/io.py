"""Table IO: fixture scans in, driver-built rows in.

The reference's "catalog" is a Glue crawler over a date-partitioned S3
prefix (reference main.tf:301-314); here the analogue is parquet-per-table
directories plus Spark's in-session catalog (temp views), with schema read
from parquet footers rather than re-inferred per query.

Frames the driver builds itself (collected posts, union-find clusters,
numpy PageRank ranks, the MMR trajectory, the topics dimension) all land
through `local_frame`, as one Arrow table.  Handed a Python list instead,
Spark lands a pickled Python RDD, and every job over the frame then starts
Python workers to unpickle and re-pickle each row.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _make_type_verifier

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# (session id, sf_dir, table) → (session, analyzed DataFrame).  read.parquet re-lists
# the directory and re-reads a footer for the schema on every call; across
# ~100 bench queries × their table loads that driver-side latency adds up.
# The cached object is just the logical plan — execution is unaffected.
_LOAD_CACHE: dict[tuple[int, str, str], tuple[SparkSession, DataFrame]] = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Parquet scan → column pruning and predicate
    pushdown come free once callers filter/select on the result.

    events.parquet stores ts as TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects; we read nanos as long and floor-convert to microsecond
    timestamps (bit-identical to DuckDB's own ns→us truncation).
    """
    # The driver may hand us a default-config session: pin the runtime-
    # settable confs our results depend on (UTC timestamp semantics match
    # the DuckDB oracle's naive timestamps).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = (id(spark), sf_dir, name)
    cached = _LOAD_CACHE.get(key)
    # identity check guards against id() reuse after a session is GC'd
    if cached is not None and cached[0] is spark:
        return cached[1]
    if name == "events":
        from pyspark.sql.types import LongType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, LongType):
            # Only TIMESTAMP(NANOS) reads as long under nanosAsLong; an
            # unannotated INT64 epoch-micros column would too, and the
            # div-1000 would silently shift it 1000x.  Check one
            # sample's magnitude (2001..2262 in nanos is ~1e18..9.2e18)
            # before trusting the nanos interpretation.  A stream cannot
            # run this action, so stream readers call load first.
            sample = df.select("ts").first()
            if sample is not None and sample[0] is not None and not (
                1_000_000_000_000_000_000 <= abs(sample[0])
            ):
                raise ValueError(
                    f"events.ts read as INT64 with magnitude {sample[0]}: "
                    "not epoch-nanos; refusing to guess the unit"
                )
        df = normalize_events_ts(df)
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    _LOAD_CACHE[key] = (spark, df)
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Events `ts` as session-TZ (UTC) microsecond TIMESTAMP, for a
    batch or a stream frame alike.  Fixture generators have shipped ts
    as TIMESTAMP(NANOS) (read as long under nanosAsLong),
    TIMESTAMP(MICROS) without UTC adjustment (TIMESTAMP_NTZ) or UTC
    TIMESTAMP; downstream epoch math (cast to long, unix_timestamp,
    window()) needs one type.  Integer `div`, not `/` (epoch-nanos
    overflow double's exact range) and not cast('timestamp') (which
    reads a long as epoch SECONDS)."""
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if isinstance(ts_type, TimestampNTZType):
        # load pins the session TZ to UTC, so this is a pure type-tag
        # change, bit-identical values
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    if isinstance(ts_type, TimestampType):
        return df
    raise ValueError(f"events.ts has unrecognized type {ts_type}")


def local_frame(
    spark: SparkSession, rows: list[dict], schema: StructType | str
) -> DataFrame:
    """Land driver-side ``rows`` (dicts keyed by field name) as a frame
    with ``schema`` (a StructType or DDL string).

    Each row is first checked with the verifier ``createDataFrame`` runs
    on a list of rows, so a bad value raises the same error before any
    Spark job.  The rows then reach Spark as one Arrow table, and the
    frame's lineage is a JVM collection of Arrow batches (one partition
    per ``arrow.maxRecordsPerBatch`` rows): no job over it starts a
    Python worker.  Extra keys are ignored and missing keys land as
    null; a string field takes only ``str`` (any other scalar raises
    ``pyarrow.ArrowTypeError``)."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    verify = _make_type_verifier(schema)
    for row in rows:
        verify(row)
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema=schema)


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Parallelism guard for CPU-heavy transforms over small scans.

    A single parquet file with one row group is ONE input split, so an
    expensive explode/tokenize chained onto it runs in one task no
    matter how many cores exist.  When the frame has far fewer
    partitions than the cluster has slots, spend one cheap exchange of
    the RAW rows (KBs-MBs) to unlock N-way compute.  With `cols`, the
    spread hash-partitions on those keys so downstream aggregates and
    windows clustered on them add NO further exchange (Generate/Project
    preserve the partitioning).  The explicit partition count stops AQE
    from coalescing the tiny-by-bytes partitions back to one — the
    point is CPU spread, not byte balance.  At 100 TB inputs arrive in
    thousands of splits and this is a no-op.
    """
    if df.isStreaming:
        # partition introspection is illegal on streaming plans.  A file
        # stream's micro-batch plans its splits from the landing's file
        # layout (maxFilesPerTrigger bounds how many files make up a
        # batch, not how many splits it has), so a stream gets its
        # N-way compute where its landing is staged (_doc_landing).
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 4):
        return df.repartition(target, *cols) if cols else df.repartition(target)
    return df


def disk_checkpoint(df: DataFrame) -> DataFrame:
    """Materialized reuse point for a CORPUS/GRAPH-SCALE frame feeding
    multiple consumers (r14, VERDICT r13 item 5; guide §5).

    localCheckpoint with StorageLevel.DISK_ONLY: the blocks land on the
    executors' local dirs (the fast scratch — session._process_local_dir)
    and never compete with execution memory, unlike the default
    MEMORY_AND_DESER level a bare localCheckpoint pins.

    Why not DataFrame.persist(DISK_ONLY): persist registers the plan in
    the session CacheManager, which silently substitutes the cache into
    ANY later query whose analyzed subtree matches — across bench keys
    that is result reuse the bench contract bans (every key must compute
    from the parquet inputs), and within one key a lazy persist lets two
    concurrent stages race to double-compute the subtree.  localCheckpoint
    keeps the materialization private to this plan and the eager
    checkpoint makes it exactly-once.

    Caveat (unchanged from localCheckpoint): no lineage — losing an
    executor at cluster scale kills the query instead of recomputing.
    Deployments that need fault tolerance for these intermediates swap
    this seam for df.checkpoint() to reliable storage; bounded SMALL
    frames (vocab tables, per-label reports, pair lists) keep the plain
    localCheckpoint default where memory residency is the point."""
    from pyspark.storagelevel import StorageLevel

    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (Athena-catalog parity:
    the reference's Glue database `fanstatsai`, main.tf:301-303)."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)

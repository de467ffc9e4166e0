"""SparkSession factory.

Local mode mirrors the driver harness (local[$SPARK_GRAFT_CPUS]); the same
config block is what we would ship to a 1000-executor cluster, with the
scale-sensitive knobs (shuffle partitions, broadcast threshold, max
partition bytes) left to AQE + documented overrides rather than hardcoded
small-SF values.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Scale notes (100 TB posture):
# - AQE owns runtime shuffle-partition coalescing, skew-join splitting and
#   dynamic broadcast decisions, so the static shuffle.partitions value only
#   needs to be a sane *upper* bound for the largest stage; on a real
#   cluster this would be ~2-3x total cores (e.g. 8000 for 1000 executors
#   x 4 cores) and AQE coalesces down per-stage.  Locally we size it to the
#   core count so tiny SFs aren't dominated by empty-task overhead.
# - Parquet filter pushdown / column pruning are on by default; every query
#   in this repo is written so predicates and projections reach the scan
#   (verified in tests/test_plans.py via .explain checks).
# - spark.sql.files.maxPartitionBytes stays at the 128 MiB default: at
#   100 TB that is ~800k input splits, which is the right granularity for
#   dynamic allocation; we do NOT shrink it for local runs.


#: The checkout root, put at the front of spark.executorEnv.PYTHONPATH:
#: without it a Python worker finds the package only when the driver was
#: started from the checkout, since workers inherit its working directory.
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Free-space floor for auto-selecting the shared-memory scratch: a
#: stream drain's state/checkpoint/landing payload at bench SFs is MBs,
#: but refuse the tmpfs outright unless it has comfortable headroom so a
#: mis-sized host can never OOM itself into the page cache.
_SCRATCH_MIN_FREE = 16 << 30


def scratch_root() -> str | None:
    """Fastest usable local scratch for small, short-lived engine
    files — stream checkpoints, state tables, landing dirs, warmups.

    Order: $SPARK_GRAFT_SCRATCH (a cluster points this at its local
    NVMe, or sets "none" to disable), else /dev/shm when present with
    >= 16 GiB free.  Returns None when nothing qualifies (callers fall
    back to tempfile defaults).  Rationale (guide §6, measured r13):
    /tmp on this class of host is ext4 — every micro-batch commit
    fsyncs there, and moving the drains' dirs to tmpfs cut the seven
    heaviest stream cells 31.9 -> 19.8 s at sf0.1 while removing most
    of their run-to-run variance.  At 100 TB checkpoints go to
    reliable shared storage instead — these dirs are bench/local-mode
    plumbing, never the production state location.
    """
    env = os.environ.get("SPARK_GRAFT_SCRATCH")
    if env:
        if env.lower() == "none":
            return None
        return env if os.path.isdir(env) else None
    shm = "/dev/shm"
    try:
        st = os.statvfs(shm)
        if st.f_bavail * st.f_frsize >= _SCRATCH_MIN_FREE:
            return shm
    except OSError:
        pass
    return None


def scratch_dir(prefix: str) -> str:
    """tempfile.mkdtemp on scratch_root() (or the tempfile default when
    no scratch qualifies).  Callers own cleanup, same as mkdtemp."""
    import tempfile

    return tempfile.mkdtemp(prefix=prefix, dir=scratch_root())


#: One Spark local dir per PROCESS (shuffle files, block-manager spill,
#: JVM temp) on the fast scratch.  Cached because spark.local.dir and
#: java.io.tmpdir only take effect at JVM launch — repeated get_spark
#: calls in one process reuse the session AND the dir.
_PROCESS_LOCAL_DIR: str | None = None
_PROCESS_LOCAL_DIR_SET = False


def _process_local_dir() -> str | None:
    """Per-process Spark local dir on scratch_root(), or None when no
    scratch qualifies (Spark then keeps its /tmp default).  Lived in
    bench.py through r13; moved here (r14) so EVERY session — product
    pipelines, tests, scripts, bench — shares the same I/O substrate
    and the bench harness file can stay frozen (VERDICT r13 item 2).
    On a real cluster this is the executor's NVMe local-dir config; the
    env override is $SPARK_GRAFT_SCRATCH (see scratch_root)."""
    global _PROCESS_LOCAL_DIR, _PROCESS_LOCAL_DIR_SET
    if not _PROCESS_LOCAL_DIR_SET:
        _PROCESS_LOCAL_DIR_SET = True
        scr = scratch_root()
        if scr is not None:
            import atexit
            import shutil
            import tempfile

            _PROCESS_LOCAL_DIR = tempfile.mkdtemp(
                prefix="spark_local_", dir=scr
            )
            atexit.register(
                shutil.rmtree, _PROCESS_LOCAL_DIR, ignore_errors=True
            )
    return _PROCESS_LOCAL_DIR


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return int(cpus)
        except ValueError:
            pass
    return os.cpu_count() or 8


def shuffle_partitions_for_bytes(total_bytes: int) -> int:
    """Size the static shuffle-partition count to the data: target
    ~64 MiB per post-shuffle partition, floored at 8 and capped at
    3x cores (the healthy task:core ratio).  At 100 TB this yields
    thousands of partitions; at bench SFs it stops 600 k rows from
    being scheduled as 32 near-empty tasks.  AQE still coalesces
    per-stage below this bound at runtime.
    """
    by_size = max(total_bytes // (64 << 20), 1)
    return int(max(8, min(_default_parallelism() * 3, by_size)))


def get_spark(
    app_name: str = "fanstats-producer-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with the engine's standard config."""
    cores = _default_parallelism()
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Local mode = ONE JVM for driver + all 32 executor threads; the
        # 1 GiB spark.driver.memory default GC-thrashes under any
        # broadcast/collect_set/sort pressure (measured: multi-second GC
        # stalls absorbed by whichever queries run first).  Size the heap
        # to the machine, overridable via SPARK_GRAFT_DRIVER_MEM.  On a
        # real cluster this knob is the executor memory request instead;
        # it must be set before JVM launch, so it lives here, not in AQE.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
        )
        # NOTE: do NOT pin -Xms to the heap max.  Measured on this host:
        # -Xms24g slows a 46-query bench subset from 26.8 s to 41.9 s
        # (~1.6x) — pre-committing the whole heap gives G1 a huge young
        # gen and first-touch page-fault storms.  The r2 q00/q01 cold-
        # start cost is addressed by bench warmup's real columnar scans
        # instead.
        .config("spark.driver.maxResultSize", "4g")
        # Catalyst/AQE: runtime re-planning at shuffle boundaries.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its default (true).  Measured both
        # ways on the full 160-key bench: false trims ~0.1-0.15 s off
        # each floor-bound key (q00 median 0.66 -> 0.50 s) but coalesces
        # the compute-dense/small-byte dedup stages onto 1-2 tasks —
        # x04/x04e/x45/x52 each regress +1.7 s because AQE's 64 MiB
        # advisory sizing cannot see compute density, only bytes.  Net
        # ~+10 s. The default is the right call here AND at 100 TB,
        # where those stages carry real bytes too.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Deterministic cross-engine timestamp semantics (DuckDB oracle
        # reads parquet timestamps as naive; we pin the session to UTC).
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow transfer for every pandas UDF / toPandas hop.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Quieter local runs; no effect on plans.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    # Shuffle files / spill / JVM temp on the fast local scratch when
    # one qualifies (guide §6; measured r13: removes the ext4 fsync
    # variance under every stream drain).  extra_conf below can still
    # override both keys.
    _local = _process_local_dir()
    if _local is not None:
        builder = builder.config("spark.local.dir", _local).config(
            "spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={_local}"
        )
    conf = dict(extra_conf or {})
    pythonpath = "spark.executorEnv.PYTHONPATH"
    conf[pythonpath] = os.pathsep.join(filter(None, [_ROOT, conf.get(pythonpath)]))
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""The repo benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload stream --seed 1 --seconds 15 --trace 0

Each run is a closed loop with one client (this process) calling
sequentially into a ``local[nproc]`` session built by ``session.get_spark``
with the program's defaults.  It sets up ``SETUPS`` times, each in a
fresh JVM, and reports the median, checks every key's output against the
committed fingerprints outside the timed window, warms for
``WARM_SECONDS``, then runs sweeps in a seeded order until ``--seconds``
have passed (at least ``MIN_SWEEPS``).

``--trace 0`` prints the end-to-end metrics.  Their times leave out the
steal the hypervisor took from the critical path (``trace.StealClock``);
the record keeps the raw wall times beside it.  ``--trace 1`` runs half the
window untraced and half with spans and Spark's event log on, and prints
the per-layer metrics; the spans are written to
``.bench_build/perfbench/traces/``.  The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the full record, stamped with the resolved substrate.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# A set-up is cold (a fresh JVM) and costs about 20 s on stream and ingest;
# a second one per run would not fit the measurement budget.
SETUPS = 1
# Untimed passes over the inputs in a session before its window, the
# correctness pass included, take at least this long: on stream the
# correctness pass alone, on ingest two or three pipeline runs.
WARM_SECONDS = 8
# Timed sweeps per run at least: one stream sweep gives only five key
# times for key_p50_s.
MIN_SWEEPS = 2


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="fixture scale (default 0.1)")
    ap.add_argument("--keys", default=None, help="comma-separated subset of the workload's keys")
    ap.add_argument("--fingerprints", default=None, help="reference fingerprints file")
    return ap.parse_args(argv)


def _isolate(scratch: str) -> None:
    """Point every temp-file default at this run's scratch inside the
    checkout, and put the repo on the Python workers' path so the run
    works from any cwd."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # A command-line -Djava.io.tmpdir (get_spark sets one when it picks a
    # scratch) overrides this default.  HotSpot writes its perf-data file
    # to /tmp whatever java.io.tmpdir says; the counters stay in memory.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    # Spark prefers this over spark.local.dir, so it would hide the
    # program's own scratch choice and write outside the checkout.
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, args: argparse.Namespace, scratch: str) -> None:
        from perfbench import fingerprints
        from perfbench.trace import StealClock, Tracer
        from perfbench.workloads import SF, WORKLOADS, ensure_fixture

        self.wl = WORKLOADS[args.workload]
        self.keys = tuple(args.keys.split(",")) if args.keys else self.wl.keys
        unknown = set(self.keys) - set(self.wl.keys)
        if unknown:
            raise SystemExit(f"perfbench: keys not in {self.wl.name}: {sorted(unknown)}")
        self.seed, self.seconds, self.traced = args.seed, args.seconds, args.trace == 1
        self.sf = args.sf or SF
        self.scratch = scratch
        self.work = os.path.dirname(scratch)
        self.sf_dir, fixture_cached = ensure_fixture(self.work, self.sf)
        refs = fingerprints.load(args.fingerprints or fingerprints.PATH)
        self.refs = refs.get(str(self.sf), {})
        self.tracer = Tracer()
        self.clock = StealClock()
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.landings: list = []
        self.n_setups = 0
        self.spark = None
        self.warmed = 0.0  # seconds of untimed passes in the current session
        self.record: dict = {
            "workload": self.wl.name,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": int(self.traced),
            "keys": list(self.keys),
            "fixture": {"sf": self.sf, "cached": fixture_cached},
        }

    # --- set-up -------------------------------------------------------------

    def setup(self, extra_conf: dict | None = None, cold: bool = True) -> tuple[float, float]:
        """One set-up into ``self.spark``; returns its wall seconds and the
        seconds stolen from it.  A cold one
        stops the previous session's JVM first, so it pays the JVM launch
        with the program's heap and JVM options, and the workload's
        first-use paths."""
        from fanstats_producer_spark.session import get_spark, shuffle_partitions_for_bytes
        from perfbench.workloads import fixture_bytes, warm

        if self.spark is not None:
            self.spark.stop()
            if cold:
                _stop_jvm()
        self.n_setups += 1
        self.warmed = 0.0
        self.record["caches"]["before_setup"].append(self.cache_state())
        t0, lost0 = time.perf_counter(), self.clock.now()
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                f"perfbench-{self.wl.name}",
                shuffle_partitions=shuffle_partitions_for_bytes(fixture_bytes(self.sf_dir)),
                extra_conf=extra_conf,
            )
        warm_dir = os.path.join(self.scratch, f"setup{self.n_setups}")
        warm(self.spark, self.wl, self.sf_dir, warm_dir, self.tracer)
        return time.perf_counter() - t0, self.clock.now() - lost0

    def substrate(self, spark) -> dict:
        import duckdb
        import pyspark

        from fanstats_producer_spark.session import scratch_root

        conf = spark.conf
        root = scratch_root()
        return {
            "cores": spark.sparkContext.defaultParallelism,
            "driver_memory": conf.get("spark.driver.memory", "1g"),
            "heap_gb": _gib(conf.get("spark.driver.memory", "1g")),
            "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
            "scratch_root": root,
            "scratch_tmpfs": _fstype(root or tempfile.gettempdir()) == "tmpfs",
            "spark_local_dir": conf.get("spark.local.dir", None),
            "spark": spark.version,
            "pyspark": pyspark.__version__,
            "python": sys.version.split()[0],
            "duckdb": duckdb.__version__,
            "host_cpus": os.cpu_count(),
            "host_load": list(os.getloadavg()),
            "env_overrides": {
                k: os.environ[k]
                for k in ("SPARK_GRAFT_SCRATCH", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_CPUS")
                if k in os.environ
            },
        }

    def cache_state(self) -> dict:
        """Whether the program's on-disk and in-process caches were cold or
        warm when the timed window opened."""
        from fanstats_producer_spark.operators import layout
        from fanstats_producer_spark.streaming import driver_entries as de

        return {
            "layout_copy": "warm"
            if os.path.exists(os.path.join(layout._layout_dir(self.sf_dir), "_SUCCESS"))
            else "cold",
            "stream_landings": len(de._DOC_LANDING_CACHE) + len(de._PARITY_LANDING_CACHE),
        }

    # --- operations ---------------------------------------------------------

    def attempt(self, what: str, fn) -> None:
        self.attempted += 1
        try:
            fn()
        except Exception:
            self.fail(f"{what}: {traceback.format_exc(limit=3)}")

    def fail(self, why: str) -> None:
        self.failed += 1
        self.failures.append(why)
        print(f"perfbench: FAIL {why}", file=sys.stderr)

    def check(self, spark) -> None:
        """Outside the timed window: every key's output against its
        reference fingerprint.  Ingest runs are checked after the window."""
        from fanstats_producer_spark import registry
        from perfbench import fingerprints

        t0 = time.perf_counter()
        for key in self.keys:
            ref = self.refs.get(key)

            def compare(key=key, ref=ref):
                got = fingerprints.spark_fingerprint(
                    registry.QUERIES[key](spark, self.sf_dir), hashed="sha256" in (ref or {})
                )
                why = fingerprints.mismatch(ref, got)
                if why:
                    raise AssertionError(why)

            self.attempt(f"check {key}", compare)
        self.record["check_s"] = time.perf_counter() - t0
        self.warmed += self.record["check_s"]

    def measure(self, spark, seconds: float, run0: int = 0, min_sweeps: int = MIN_SWEEPS):
        """Untimed sweeps until the session has warmed for ``WARM_SECONDS``,
        then sweeps in seeded order for ``seconds`` (at least
        ``min_sweeps``)."""
        from perfbench.workloads import ingest_configs

        rng = random.Random(f"{self.seed}|{self.wl.name}|{run0}")
        configs = None if self.keys else ingest_configs(spark, os.path.join(self.scratch, "config"))
        # The JIT and the heap keep settling for a few sweeps after the
        # correctness pass; timed, they would make each run's median depend
        # on how many sweeps fit the window.
        tracing, self.tracer.enabled = self.tracer.enabled, False
        while self.warmed < WARM_SECONDS:
            sw = self.sweep(spark, rng, configs, run0)
            run0, self.warmed = sw["next"], self.warmed + sw["wall"]
        self.tracer.enabled = tracing
        self.verify_landings()
        sweeps: list[dict] = []
        t_open = time.perf_counter()
        # Start another sweep only while it should end inside the window.
        while len(sweeps) < min_sweeps or (
            (time.perf_counter() - t_open) * (1 + 1 / len(sweeps)) <= seconds
        ):
            sweeps.append(self.sweep(spark, rng, configs, sweeps[-1]["next"] if sweeps else run0))
        return sweeps

    def sweep(self, spark, rng: random.Random, configs, run: int) -> dict:
        """Every key once in seeded order, or one scheduled pipeline run."""
        from perfbench.workloads import run_ingest, run_key

        if self.keys:
            ops = list(self.keys)
            rng.shuffle(ops)
        else:
            ops = [f"run{run}"]
        start, t0, lost0 = time.time(), time.perf_counter(), self.clock.now()
        times, stolen = [], []
        for op in ops:
            self.tracer.key, self.tracer.run = op, run
            t, lost = time.perf_counter(), self.clock.now()
            with self.tracer.span("op"):
                if self.keys:
                    self.attempt(op, lambda op=op: run_key(spark, op, self.sf_dir, self.tracer))
                else:
                    self.attempt(op, lambda run=run: self.landings.append(
                        run_ingest(spark, self.seed, run, configs, self.scratch, self.tracer)
                    ))
            times.append(time.perf_counter() - t)
            stolen.append(self.clock.now() - lost)
            run += 1
        return {"wall": time.perf_counter() - t0, "stolen": self.clock.now() - lost0,
                "start": start, "end": time.time(), "ops": dict(zip(ops, times)),
                "ops_stolen": dict(zip(ops, stolen)), "next": run}

    def verify_landings(self) -> tuple[int, int, int]:
        """Landed posts per run against the generator's own count of posts
        that pass the source filters; returns (posts, files, bytes)."""
        from perfbench.workloads import count_landed

        totals = [0, 0, 0]
        landings, self.landings = self.landings, []
        for feeds, lake in landings:
            posts, files, size = count_landed(lake)
            if posts != feeds.expected:
                self.fail(f"run{feeds.run}: landed {posts} posts, expected {feeds.expected}")
            for i, v in enumerate((posts, files, size)):
                totals[i] += v
            shutil.rmtree(lake, ignore_errors=True)
        return totals[0], totals[1], totals[2]

    # --- runs ---------------------------------------------------------------

    def run(self) -> dict:
        from perfbench.trace import RssSampler

        self.record["caches"] = {"before_setup": []}
        with self.clock:
            if self.traced:
                # Walking the process tree every 0.2 s would take interpreter
                # time from the timed loop, so memory is a traced-run metric.
                with RssSampler() as rss:
                    metrics = self.run_traced()
                metrics["session.peak_rss_mb"] = {"value": rss.peak_bytes / 2**20, "unit": "MiB"}
            else:
                metrics = self.run_timed()
        # Steal summed over vCPUs for the whole run; a high figure means the
        # neighbours were busy.
        self.record["host_steal_s"] = self.clock.total
        self.record["attempted"], self.record["failed"] = self.attempted, self.failed
        self.record["fail_ratio"] = self.failed / max(self.attempted, 1)
        self.record["failures"] = self.failures
        self.record["metrics"] = metrics
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    def run_timed(self) -> dict:
        """End-to-end metrics.  Every time is wall time less the steal
        ``self.clock`` counted on the critical path: on a shared host the
        raw wall times move with the neighbours' load, by up to 40% between
        runs of the same code (perfbench/README.md has the figures)."""
        setups = [self.setup() for _ in range(SETUPS)]
        spark = self.spark
        self.record["substrate"] = self.substrate(spark)
        self.check(spark)
        self.record["caches"]["window_open"] = self.cache_state()
        sweeps = self.measure(spark, self.seconds)
        spark.stop()
        posts = self.verify_landings()[0]
        op_times = [t - sw["ops_stolen"][op] for sw in sweeps for op, t in sw["ops"].items()]
        items = posts if not self.keys else len(op_times)
        self.record["setups_s"] = [{"wall": wall, "stolen": lost} for wall, lost in setups]
        self.record["sweeps"] = [_sweep_record(sw) for sw in sweeps]
        return {
            "setup_s": {"value": median([wall - lost for wall, lost in setups]), "unit": "s"},
            "sweep_s": {"value": median([sw["wall"] - sw["stolen"] for sw in sweeps]), "unit": "s"},
            "key_p50_s": {"value": median(op_times), "unit": "s"},
            "items_per_s": {"value": items / sum(op_times), "unit": "1/s"},
        }

    def run_traced(self) -> dict:
        """Per-layer metrics, from raw wall-clock spans."""
        from perfbench.trace import instrument, read_event_log, union_length

        self.tracer.enabled = True
        self.setup()
        spark = self.spark
        start_s = self.tracer.total("session.start")
        warm_scan_s = self.tracer.total("io.warm_scan")
        sub = self.substrate(spark)
        self.record["substrate"] = sub
        self.tracer.enabled = False
        self.check(spark)
        self.record["caches"]["window_open"] = self.cache_state()
        # Both halves warm by sweeps alone, so they time equally warm passes.
        # One timed sweep per half is enough for the per-layer figures and
        # keeps a traced stream run well inside its time limit.
        self.warmed = 0.0
        untraced = self.measure(spark, self.seconds / 2, min_sweeps=1)
        self.verify_landings()

        log_dir = os.path.join(self.scratch, "eventlog")
        os.makedirs(log_dir)
        self.setup(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            },
            # The same JVM, so both halves run on an equally warm JIT.
            cold=False,
        )
        spark = self.spark
        self.tracer.spans.clear()
        self.tracer.counts.clear()
        self.tracer.enabled = True
        with instrument(self.tracer):
            traced = self.measure(spark, self.seconds / 2, run0=10_000, min_sweeps=1)
        self.tracer.enabled = False
        app_id = spark.sparkContext.applicationId
        spark.stop()
        fetches = [iv for feeds, _ in self.landings for iv in feeds.fetch_intervals]
        posts, files, size = self.verify_landings()

        n = len(traced)
        windows = [(sw["start"], sw["end"]) for sw in traced]
        mat = [(s.start, s.end) for s in self.tracer.spans if s.name == "spark.materialize"]
        engine, triggers = read_event_log(log_dir, app_id, windows, mat, sub["cores"])
        self.tracer.nest("streaming.trigger", triggers, parent="registry.build")
        self.tracer.nest("sources.fetch", fetches, parent="sources.scan")
        own = self.tracer.self_times()
        tr = self.tracer
        traced_sweep = median([sw["wall"] for sw in traced])
        untraced_sweep = median([sw["wall"] for sw in untraced])
        # Per traced sweep, the time the layers' spans account for, set
        # against the untraced sweeps' wall clock.
        layers = sum(v for name, v in own.items() if name != "op") / n
        values = {
            "session.start_s": (start_s, "s"),
            "session.cores": (sub["cores"], "count"),
            "session.heap_gb": (sub["heap_gb"], "GiB"),
            "session.shuffle_partitions": (sub["shuffle_partitions"], "count"),
            "session.scratch_tmpfs": (int(sub["scratch_tmpfs"]), "bool"),
            "io.warm_scan_s": (warm_scan_s, "s"),
            "io.load_calls": (tr.counts.get("io.load_calls", 0) / n, "count"),
            "io.load_s": (tr.total("io.load") / n, "s"),
            "registry.build_s": (tr.total("registry.build") / n, "s"),
            "registry.build_p50_s": (median(tr.durations("registry.build")), "s"),
            "registry.self_s": (own.get("registry.build", 0.0) / n, "s"),
            "spark.materialize_s": (tr.total("spark.materialize") / n, "s"),
        }
        units = {"jobs": "count", "stages": "count", "tasks": "count", "batches": "count",
                 "input_rows": "count", "state_rows": "count"}
        for name, v in engine.items():
            layer = "streaming" if name in _STREAMING else "spark"
            unit = units.get(name, "MiB" if name.endswith("_mb") else "s")
            values[f"{layer}.{name}"] = (v / n, unit)
        values.update(
            {
                "sources.fetch_s": (union_length(fetches) / n, "s"),
                "sources.scan_s": (own.get("sources.scan", 0.0) / n, "s"),
                "sources.write_s": (tr.total("sources.write") / n, "s"),
                "sources.posts_landed": (posts / n, "count"),
                "sources.files_written": (files / n, "count"),
                "sources.bytes_per_post": (size / posts if posts else 0.0, "B"),
                "pipeline.run_s": (tr.total("pipeline.run") / n, "s"),
                "pipeline.self_s": (own.get("pipeline.run", 0.0) / n, "s"),
                "trace.sweep_s": (traced_sweep, "s"),
                "trace.untraced_sweep_s": (untraced_sweep, "s"),
                "trace.overhead_s": (traced_sweep - untraced_sweep, "s"),
                "trace.reconcile_pct": (100 * layers / untraced_sweep, "%"),
            }
        )
        self.record["sweeps"] = [_sweep_record(sw) for sw in traced]
        self.record["untraced_sweeps"] = [sw["wall"] for sw in untraced]
        self.record["self_s"] = {k: v / n for k, v in own.items()}
        self._write_spans()
        return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}

    def _write_spans(self) -> None:
        out = os.path.join(self.work, "traces")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{self.wl.name}-seed{self.seed}.json")
        with open(path, "w") as fh:
            json.dump({"record": self.record, "spans": self.tracer.to_json()}, fh)
        self.record["spans_file"] = os.path.relpath(path, ROOT)


_STREAMING = {
    "batches", "input_rows", "add_batch_s", "wal_commit_s", "commit_offsets_s",
    "query_planning_s", "trigger_s", "state_rows", "state_commit_s", "overhead_s",
}


def _gib(mem: str) -> float:
    units = {"k": 2**-20, "m": 2**-10, "g": 1, "t": 2**10}
    mem = mem.strip().lower().rstrip("b")
    return float(mem[:-1]) * units[mem[-1]] if mem[-1] in units else float(mem) / 2**30


def _fstype(path: str) -> str:
    """Filesystem type of the mount holding ``path``."""
    best, kind = "", ""
    path = os.path.realpath(path)
    with open("/proc/mounts") as fh:
        for line in fh:
            parts = line.split()
            mnt = parts[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                best, kind = mnt, parts[2]
    return kind


def _sweep_record(sw: dict) -> dict:
    return {k: sw[k] for k in ("wall", "stolen", "ops", "ops_stolen")}


def _stop_jvm(timeout: float = 60) -> None:
    """Stop the py4j gateway JVM this process launched and wait until it
    and every other descendant (the PySpark daemon and workers) is gone."""
    from pyspark import SparkContext

    from perfbench.trace import process_tree

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while len(process_tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "fanstats_producer_spark")):
        print(f"perfbench: no program at {ROOT}/fanstats_producer_spark", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=work)
    try:
        _isolate(scratch)
        from fanstats_producer_spark import registry
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        registry.load_all()
        bench = Bench(args, scratch)
        try:
            result = bench.run()
        finally:
            _stop_jvm()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(bench.record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

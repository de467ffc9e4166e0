"""In-memory spans and counts, the Spark event-log reader and the
process-tree memory sampler.

Spans are recorded only from the benchmark's own files, around the calls
it makes into each layer's public functions.  The engine-side numbers
(task metrics, Python-worker SQL metrics, streaming progress) come from
Spark's own event log, which the traced run enables through
``get_spark(extra_conf=...)``.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    run: int
    key: str | None


@dataclass
class Tracer:
    """Spans and counters kept in memory until the run ends.

    Spans opened on the main thread nest through a stack; spans opened on
    other threads (the collectors' fetch pool) become leaves of whatever
    main-thread span is open at the time.
    """

    enabled: bool = False
    run: int = 0
    key: str | None = None
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=itertools.count)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        main = threading.current_thread() is threading.main_thread()
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        if main:
            self._stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            if main:
                self._stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self.run, self.key))

    def count(self, name: str, n: float = 1) -> None:
        if not self.enabled:
            return
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    def wrap(self, fn, name: str, counter: str | None = None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if counter:
                self.count(counter)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def self_times(self) -> dict[str, float]:
        """Per span name: span time minus the part its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_length(
                (max(a, s.start), min(b, s.end)) for a, b in children.get(s.id, ())
            )
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def nest(self, name: str, intervals, parent: str) -> None:
        """Add recorded (start, end) intervals as spans under the ``parent``
        span that contains each start.  Overlapping intervals (parallel
        fetch threads) are merged first, so the spans count wall time."""
        hosts = [s for s in self.spans if s.name == parent]
        for a, b in merge(intervals):
            host = next((h for h in hosts if h.start <= a <= h.end), None)
            if host is not None:
                self.spans.append(Span(next(self._ids), name, a, b, host.id, host.run, host.key))

    def to_json(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "start": round(s.start, 6),
                "end": round(s.end, 6),
                "id": s.id,
                "parent": s.parent,
                "run": s.run,
                "key": s.key,
            }
            for s in self.spans
        ]


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the layers' public functions in spans for the enclosed block:
    ``io.load`` wherever a module bound it, the three collectors' scans,
    and the pipeline's partitioned sink."""
    import sys

    from fanstats_producer_spark import io, pipeline
    from fanstats_producer_spark.sources import facebook, reddit, rest

    targets = [
        (mod, "load", "io.load", "io.load_calls")
        for mod in list(sys.modules.values())
        if getattr(mod, "__name__", "").startswith("fanstats_producer_spark")
        and getattr(mod, "load", None) is io.load
    ]
    targets += [
        (rest.PaginatedSource, "scan", "sources.scan", None),
        (reddit.RedditListingSource, "scan", "sources.scan", None),
        (facebook.FacebookFeedSource, "scan", "sources.scan", None),
        (pipeline, "write_partitioned", "sources.write", None),
    ]
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _, _ in targets]
    try:
        for owner, attr, name, counter in targets:
            setattr(owner, attr, tracer.wrap(getattr(owner, attr), name, counter))
        yield
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)


def merge(intervals) -> list[tuple[float, float]]:
    """Overlapping (start, end) pairs merged into disjoint ones."""
    out: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def union_length(intervals) -> float:
    """Total length covered by possibly-overlapping (start, end) pairs."""
    return sum(b - a for a, b in merge(intervals))


def _inside(t: float, windows: list[tuple[float, float]]) -> bool:
    return any(a <= t <= b for a, b in windows)


_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


def read_event_log(
    log_dir: str,
    app_id: str,
    windows: list[tuple[float, float]],
    materialize: list[tuple[float, float]],
    cores: int,
) -> tuple[dict[str, float], list[tuple[float, float]]]:
    """Sum the event log's engine metrics over the traced windows.

    Jobs, stages and tasks are attributed by submission or launch time to
    the windows (epoch seconds).  Streaming triggers come back as
    intervals so the caller can nest them under the builder span that
    drained them.
    """
    m = dict.fromkeys(
        (
            "jobs stages tasks executor_run_s executor_cpu_s gc_s shuffle_write_mb"
            " shuffle_read_mb spill_mb python_worker_s python_sent_mb"
            " materialize_run_s batches input_rows add_batch_s wal_commit_s"
            " commit_offsets_s query_planning_s trigger_s state_rows state_commit_s"
        ).split(),
        0.0,
    )
    triggers: list[tuple[float, float]] = []
    for line in _event_lines(log_dir, app_id):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if _inside(ev["Submission Time"] / 1e3, windows):
                m["jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            sub = ev["Stage Info"].get("Submission Time")
            if sub is not None and _inside(sub / 1e3, windows):
                m["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            launch = info["Launch Time"] / 1e3
            if not _inside(launch, windows):
                continue
            m["tasks"] += 1
            run_s = tm.get("Executor Run Time", 0) / 1e3
            m["executor_run_s"] += run_s
            if _inside(launch, materialize):
                m["materialize_run_s"] += run_s
            m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            sw = tm.get("Shuffle Write Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            m["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            m["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / 2**20
            m["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 2**20
            for acc in info.get("Accumulables") or ():
                name, upd = acc.get("Name"), acc.get("Update")
                if name == _PY_TIME and upd is not None:
                    m["python_worker_s"] += float(upd) / 1e3
                elif name == _PY_SENT and upd is not None:
                    m["python_sent_mb"] += float(upd) / 2**20
        elif kind == _PROGRESS:
            p = ev["progress"]
            d = p.get("durationMs") or {}
            start = _iso_epoch(p["timestamp"])
            trig = d.get("triggerExecution", 0) / 1e3
            if not _inside(start, windows):
                continue
            triggers.append((start, start + trig))
            m["batches"] += 1
            m["input_rows"] += sum(src.get("numInputRows", 0) for src in p.get("sources") or ())
            m["add_batch_s"] += d.get("addBatch", 0) / 1e3
            m["wal_commit_s"] += d.get("walCommit", 0) / 1e3
            m["commit_offsets_s"] += d.get("commitOffsets", 0) / 1e3
            m["query_planning_s"] += d.get("queryPlanning", 0) / 1e3
            m["trigger_s"] += trig
            for op in p.get("stateOperators") or ():
                m["state_rows"] += op.get("numRowsTotal", 0)
                m["state_commit_s"] += op.get("commitTimeMs", 0) / 1e3
    m["idle_core_s"] = cores * union_length(materialize) - m.pop("materialize_run_s")
    m["overhead_s"] = m["trigger_s"] - m["add_batch_s"]
    return m, triggers


def _event_lines(log_dir: str, app_id: str):
    """Lines of one application's event log: a single file, or the numbered
    parts of a rolling log (Spark 4's default layout)."""
    rolling = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if os.path.isdir(rolling):
        parts = [f for f in os.listdir(rolling) if f.startswith("events_")]
        paths = [os.path.join(rolling, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]
    else:
        paths = [os.path.join(log_dir, app_id)]
    for path in paths:
        with open(path) as fh:
            yield from fh


def _iso_epoch(ts: str) -> float:
    import datetime

    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class RssSampler:
    """Peak summed RSS of this process and every descendant (the driver
    JVM, the PySpark daemon and its forked workers), sampled on a thread."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        total = 0
        for pid in process_tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue  # the process exited between listing and reading
        self.peak_bytes = max(self.peak_bytes, total)


class StealClock:
    """Wall time the hypervisor took from this VM's critical path.

    On a shared host the hypervisor runs other guests on this VM's vCPUs
    (steal time), and a sweep slows by whatever it takes.  Every
    ``interval`` the clock reads each vCPU's steal counter and adds the
    largest increase to ``lost``: steal only accrues on a vCPU that has work,
    a serial step runs on one vCPU, and a parallel step waits for its
    slowest part.  ``total`` is the steal summed over vCPUs.  Both only
    grow; ``now()`` brings them up to date and returns ``lost``, so a timed
    call reads it before and after.
    """

    def __init__(self, interval: float = 0.05) -> None:
        self.interval = interval
        self.lost = self.total = 0.0
        self._hz = os.sysconf("SC_CLK_TCK")
        self._prev = self.read()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="steal-clock", daemon=True)

    def __enter__(self) -> StealClock:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.now()

    @staticmethod
    def read() -> list[int]:
        """Steal ticks so far, one entry per vCPU."""
        with open("/proc/stat") as fh:
            return [int(line.split()[8]) for line in fh if line[:3] == "cpu" and line[3].isdigit()]

    def now(self) -> float:
        with self._lock:
            cur = self.read()
            step = [c - p for c, p in zip(cur, self._prev)]
            self._prev = cur
            self.lost += max(step, default=0) / self._hz
            self.total += sum(step) / self._hz
            return self.lost


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant pid."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
            except OSError:
                continue
    return out

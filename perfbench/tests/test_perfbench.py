"""The benchmark's own tests: a small-fixture smoke run of every workload,
a tampered fingerprint that must count as a failure, and the metric names
and units promised by BENCHMARK.json.

    python3 -m pytest perfbench/tests -q

Each smoke run starts its own Spark JVM (about 20-40 s each).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import fingerprints  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

SMOKE_KEYS = {
    "relational": "q02_filter,q20_agg",
    "stream": "s15_rocksdb_state,s32_stream_keyword_tags",
    "pyworker": "u02_pandas_udf,x01_sentiment",
    "ingest": None,
}


def bench(workload: str, trace: int = 0, *extra: str, cwd: str = ROOT) -> tuple[dict, dict]:
    """Run the benchmark at sf0.001; returns (record, result)."""
    cmd = [
        sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--sf", "0.001", *extra,
    ]
    if SMOKE_KEYS[workload]:
        cmd += ["--keys", SMOKE_KEYS[workload]]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    record, result = (json.loads(line) for line in proc.stdout.strip().splitlines()[-2:])
    return record, result


def _check_result(result: dict, names: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert {m["name"]: m["unit"] for m in names} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_each_workload(workload, tmp_path):
    """Every workload runs clean from a foreign cwd and prints every
    end-to-end metric with its unit."""
    record, result = bench(workload, 0, cwd=str(tmp_path))
    assert result["correct"] and result["failed"] == 0, record["failures"]
    _check_result(result, SPEC["end_to_end"])
    for m in ("setup_s", "sweep_s", "key_p50_s", "items_per_s"):
        assert result["metrics"][m]["value"] > 0
    assert record["substrate"]["cores"] >= 1
    # The reported times are the raw wall times less the steal counted on them.
    assert result["metrics"]["sweep_s"]["value"] == pytest.approx(
        statistics.median(sw["wall"] - sw["stolen"] for sw in record["sweeps"])
    )
    # Every set-up starts cold: a fresh JVM, no layout copy, no landings.
    assert len(record["setups_s"]) == len(record["caches"]["before_setup"]) >= 1
    for state in record["caches"]["before_setup"]:
        assert state == {"layout_copy": "cold", "stream_landings": 0}


@pytest.mark.parametrize("workload", ["stream", "ingest"])
def test_traced_run_reports_every_layer_metric(workload):
    record, result = bench(workload, 1)
    assert result["correct"], record["failures"]
    _check_result(result, SPEC["per_layer"])
    m = {k: v["value"] for k, v in result["metrics"].items()}
    # The layers' self times are set against the untraced half's wall
    # clock, not against the traced sweeps they were cut from.
    layers = sum(v for k, v in record["self_s"].items() if k != "op")
    untraced = statistics.median(record["untraced_sweeps"])
    assert m["trace.reconcile_pct"] == pytest.approx(100 * layers / untraced)
    # One short sweep per half at sf0.001 is noisy; the 85-115% bar is for
    # sf0.1 runs.  Here the spans must still account for most of a sweep.
    assert 50 <= m["trace.reconcile_pct"] <= 150
    if workload == "stream":
        assert m["streaming.batches"] > 0 and m["streaming.trigger_s"] > 0
        assert m["spark.python_worker_s"] > 0  # s32 runs a Python worker
    else:
        assert m["sources.posts_landed"] > 0 and m["pipeline.run_s"] > 0
    assert os.path.exists(os.path.join(ROOT, record["spans_file"]))


def test_steal_clock_counts_the_most_stolen_vcpu(monkeypatch):
    """A serial step waits out its one vCPU's steal and a parallel step its
    slowest vCPU's; an idle vCPU accrues none."""
    from perfbench.trace import StealClock

    ticks = iter([[0, 0, 0, 0], [10, 0, 0, 0], [15, 12, 3, 0]])
    monkeypatch.setattr(StealClock, "read", staticmethod(lambda: next(ticks)))
    clock = StealClock()
    hz = os.sysconf("SC_CLK_TCK")
    assert clock.now() == pytest.approx(10 / hz)
    assert clock.now() == pytest.approx(22 / hz)
    assert clock.total == pytest.approx(30 / hz)


def test_tampered_fingerprint_counts_as_failure(tmp_path):
    refs = fingerprints.load()
    ref = refs["0.001"]["q20_agg"]
    ref["sha256"] = "0" * 64
    path = tmp_path / "tampered.json"
    path.write_text(json.dumps(refs))
    record, result = bench("relational", 0, "--fingerprints", str(path))
    assert not result["correct"]
    assert result["failed"] == 1 and result["failed"] / result["attempted"] > 0
    assert record["fail_ratio"] > 0
    assert "q20_agg" in record["failures"][0]


def test_exits_nonzero_without_the_program(tmp_path):
    """A directory holding only BENCHMARK.json and perfbench/ must fail
    fast without printing a result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "relational", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_spec_matches_workloads():
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)
    refs = fingerprints.load()
    for sf in ("0.1", "0.001"):
        for w in WORKLOADS.values():
            assert set(w.keys) <= set(refs[sf]), (sf, w.name)


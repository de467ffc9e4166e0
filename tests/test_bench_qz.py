"""Roundtrip test for the compact per-key "qz" line form: bench.py's
3-chars/key base36-centisecond encoder and bench_compare.py's decoder
must agree on every value to the centisecond, 'zzz' must act as the
reserved overflow sentinel (decoding to +inf, never to a silent
466.55 s — ADVICE r11), the key-list fingerprint must gate decoding,
and a representative 251-key line must fit the driver's ~2000-char
stdout capture window."""

import hashlib
import json
import os
import random


def _b36w3(cs: int) -> str:
    # mirror of bench.py's encoder, including the reserved sentinel
    b36 = "0123456789abcdefghijklmnopqrstuvwxyz"
    if cs >= 36**3 - 1:
        return "zzz"
    cs = max(0, cs)
    return b36[cs // 1296] + b36[(cs // 36) % 36] + b36[cs % 36]


def _decode(rec):
    # mirror of bench_compare.py's decoder contract (pinned end-to-end
    # through the real CLI below)
    qz, keys = rec["qz"], rec["qz_keys"]
    assert len(qz) == 3 * len(keys)

    def _val(code):
        cs = int(code, 36)
        return float("inf") if cs >= 36**3 - 1 else cs / 100.0

    return {k: _val(qz[3 * i : 3 * i + 3]) for i, k in enumerate(keys)}


def test_qz_roundtrip_and_line_budget():
    rng = random.Random(11)
    keys = sorted(f"k{i:03d}_{'x' * (i % 17)}" for i in range(251))
    timings = {k: rng.uniform(0.0, 12.0) for k in keys}
    timings[keys[0]] = 0.0
    timings[keys[1]] = 500.0  # past the clamp -> 'zzz' -> decodes +inf
    timings[keys[2]] = (36**3 - 2) / 100.0  # largest representable

    qz = "".join(_b36w3(int(round(timings[k] * 100))) for k in keys)
    qzk = hashlib.sha256("\n".join(keys).encode()).hexdigest()[:8]
    rec = {"qz": qz, "qzu": "centisec_b36w3", "qzk": qzk, "qz_keys": keys}

    got = _decode(rec)
    assert got[keys[1]] == float("inf")
    assert got[keys[2]] == (36**3 - 2) / 100.0
    for k in keys:
        cs = int(round(timings[k] * 100))
        want = float("inf") if cs >= 36**3 - 1 else cs / 100.0
        assert got[k] == want

    # the slim driver line: qz + top-10 queries + sentinel must fit
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    line = json.dumps(
        {
            "metric": "total_sec",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "sf": 0.1,
            "n_queries": len(timings),
            "queries": {k: round(v, 3) for k, v in slowest.items()},
            "queries_truncated_to": 10,
            "qz": qz,
            "qzu": "centisec_b36w3",
            "qzk": qzk,
            "sentinel": {
                "spark_agg_s": 0.1847,
                "stream_drain_s": 0.3688,
                "duckdb_cpu_s": 1.234,
            },
        },
        separators=(",", ":"),
    )
    assert len(line) <= 1990, len(line)


def _run_compare(old_p, new_p, *extra):
    import subprocess
    import sys

    return subprocess.run(
        [
            sys.executable,
            os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "scripts",
                "bench_compare.py",
            ),
            str(old_p),
            str(new_p),
            *extra,
        ],
        capture_output=True,
        text=True,
    )


def _rec(t, with_keys=True, truncate_to=2):
    slow = dict(sorted(t.items(), key=lambda kv: -kv[1])[:truncate_to])
    r = {
        "metric": "total_sec",
        "value": round(sum(t.values()), 3),
        "unit": "sec",
        "sf": 0.1,
        "queries": slow,
        "queries_truncated_to": len(slow),
        "qz": "".join(_b36w3(int(round(t[k] * 100))) for k in sorted(t)),
        "qzu": "centisec_b36w3",
        "qzk": hashlib.sha256("\n".join(sorted(t)).encode()).hexdigest()[:8],
    }
    if with_keys:
        r["qz_keys"] = sorted(t)
    return r


def test_qz_decoder_in_bench_compare_gates_on_fingerprint(tmp_path):
    """End-to-end through the real bench_compare CLI: a truncated line
    with qz + qz_keys decodes to full per-key coverage; a WRONG qzk with
    no qz_keys must refuse positional decoding (falls back to the
    truncated map)."""
    keys = [f"q{i:02d}_thing" for i in range(40)]
    t_old = {k: 1.00 for k in keys}
    t_new = dict(t_old)
    t_new[keys[5]] = 3.00  # a real regression, visible only via qz

    old_p, new_p = tmp_path / "old.json", tmp_path / "new.json"
    old_p.write_text(json.dumps(_rec(t_old)))
    new_p.write_text(json.dumps(_rec(t_new)))
    out = _run_compare(old_p, new_p, "--pct", "30", "--abs", "0.3")
    assert out.returncode == 1, out.stdout + out.stderr
    assert "q05_thing" in out.stdout
    assert "40 shared" in out.stdout

    # wrong fingerprint + no key list: decoder must refuse, comparison
    # degrades to the 2-key truncated maps (no crash, no bogus names)
    bad = _rec(t_new, with_keys=False)
    bad["qzk"] = "00000000"
    new_p.write_text(json.dumps(bad))
    out2 = _run_compare(old_p, new_p)
    assert out2.returncode in (0, 1)
    assert "2 shared" in out2.stdout or "shared" in out2.stdout


def test_qz_decode_survives_overflow_fallback_line(tmp_path):
    """bench.py's last-resort slim line carries queries_truncated_to: 0
    with an EMPTY queries map; the decoder must still use qz (gate on
    presence, not truthiness — ADVICE r11), and a 'zzz' overflow code
    must surface as a flagged regression, not a silent 466.55 s."""
    keys = [f"q{i:02d}_thing" for i in range(40)]
    t_old = {k: 1.00 for k in keys}
    t_new = dict(t_old)
    t_new[keys[7]] = 2.50  # regression only visible via qz
    t_new[keys[9]] = 9999.0  # encodes as the 'zzz' sentinel

    old_p, new_p = tmp_path / "old.json", tmp_path / "new.json"
    old_p.write_text(json.dumps(_rec(t_old, truncate_to=0)))
    new_p.write_text(json.dumps(_rec(t_new, truncate_to=0)))
    assert json.loads(new_p.read_text())["queries"] == {}

    out = _run_compare(old_p, new_p, "--pct", "30", "--abs", "0.3")
    assert out.returncode == 1, out.stdout + out.stderr
    assert "40 shared" in out.stdout
    assert "q07_thing" in out.stdout
    assert "q09_thing" in out.stdout  # the overflow key is flagged
    assert "466.5" not in out.stdout  # never silently reads the clamp


def test_float_queries_overlay_unclamps_qz(tmp_path):
    """ADVICE r12: when BOTH records clamp a key to the 'zzz' sentinel,
    inf-vs-inf yields a quiet nan delta — but the float queries map
    carries the exact values, and the decoder must overlay them so the
    regression (here 500 -> 700 s) is flagged with real numbers."""
    keys = [f"q{i:02d}_thing" for i in range(40)]
    t_old = {k: 1.00 for k in keys}
    t_new = dict(t_old)
    t_old[keys[3]] = 500.0  # clamped in qz on both sides...
    t_new[keys[3]] = 700.0  # ...but a real +200 s regression

    old_p, new_p = tmp_path / "old.json", tmp_path / "new.json"
    old_p.write_text(json.dumps(_rec(t_old)))
    new_p.write_text(json.dumps(_rec(t_new)))
    out = _run_compare(old_p, new_p, "--pct", "30", "--abs", "0.3")
    assert out.returncode == 1, out.stdout + out.stderr
    assert "q03_thing" in out.stdout
    assert "500.00" in out.stdout and "700.00" in out.stdout
    assert "inf" not in out.stdout


def test_pool_depth_mismatch_warns(tmp_path):
    """VERDICT r12 item 5: per-key minima from pools of different
    depths are not comparable — records carrying differing pool_depth
    must trigger a loud warning (equal depths must not)."""
    keys = [f"q{i:02d}_thing" for i in range(10)]
    t = {k: 1.00 for k in keys}
    a, b = _rec(t), _rec(t)
    a["pool_depth"], b["pool_depth"] = 6, 2
    old_p, new_p = tmp_path / "old.json", tmp_path / "new.json"
    old_p.write_text(json.dumps(a))
    new_p.write_text(json.dumps(b))
    out = _run_compare(old_p, new_p)
    assert "pool depths differ" in out.stdout, out.stdout + out.stderr

    b["pool_depth"] = 6
    new_p.write_text(json.dumps(b))
    out2 = _run_compare(old_p, new_p)
    assert "pool depths differ" not in out2.stdout


def test_py_worker_sentinel_normalizes_codec_keys(tmp_path):
    """VERDICT r12 item 2: a python-worker-bound key whose cell moved
    with measured python-worker speed (sentinel 2x, cell 2x) must NOT
    be flagged; an identical move on a JVM-normalized key (agg drift
    1.0) must still be flagged."""
    keys = [f"q{i:02d}_thing" for i in range(10)] + ["x96_image"]
    t_old = {k: 1.00 for k in keys}
    t_old["x96_image"] = 2.00
    t_new = dict(t_old)
    t_new["x96_image"] = 4.00  # 2x — exactly the sentinel's move
    t_new["q05_thing"] = 2.00  # 2x with flat agg sentinel -> flagged

    a, b = _rec(t_old), _rec(t_new)
    for r in (a, b):
        r["py_worker_keys"] = ["x96_image"]
        r["sentinel"] = {
            "spark_agg_s": 0.2,
            "stream_drain_s": 0.4,
            "duckdb_cpu_s": 1.0,
            "py_worker_s": 0.3,
        }
    b["sentinel"]["py_worker_s"] = 0.6  # host's python workers 2x slower

    old_p, new_p = tmp_path / "old.json", tmp_path / "new.json"
    old_p.write_text(json.dumps(a))
    new_p.write_text(json.dumps(b))
    out = _run_compare(old_p, new_p, "--pct", "30", "--abs", "0.3")
    assert out.returncode == 1, out.stdout + out.stderr
    assert "q05_thing" in out.stdout
    assert "REGRESSED x96_image" not in out.stdout
    assert "py_worker x2.000" in out.stdout


def test_py_worker_keys_exist_in_registry():
    """The normalization list must track the registry — a renamed or
    removed key in PY_WORKER_KEYS would silently lose its treatment."""
    from fanstats_producer_spark import registry

    registry.load_all()
    missing = sorted(registry.PY_WORKER_KEYS - set(registry.QUERIES))
    assert not missing, f"PY_WORKER_KEYS not in registry: {missing}"

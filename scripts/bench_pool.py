"""Build a BENCH_LOCAL pool record from N full bench.py runs.

VERDICT r12 item 5: r11's pool was 6 runs deep, r12's 2 — per-key
minima are not comparable across depths, and the resulting ~+20%
"drift" polluted cross-round adjudication.  This script pins the
protocol: run bench.py a FIXED number of times (default 3), take the
per-key minimum, carry the per-probe MEDIAN sentinel, and stamp
"pool_depth" into the record so scripts/bench_compare.py can warn when
two records disagree on depth.

Usage:
    python scripts/bench_pool.py --runs 3 --out BENCH_LOCAL_r13.json \
        [--note "..."]

Each run's full payload is parsed from BENCH_FULL_LATEST.json (which
bench.py rewrites); the committed working-tree copy is restored
afterwards unless --keep-latest is passed.  Timing protocol: QUIET
host required (check uptime; stop any sf10/sweep background run
first — round-state memory).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", required=True)
    ap.add_argument("--note", default="")
    ap.add_argument(
        "--keep-latest",
        action="store_true",
        help="leave the last run's BENCH_FULL_LATEST.json in place"
        " instead of restoring the committed copy",
    )
    ap.add_argument(
        "--envelope",
        default=None,
        help="also write a per-key noise-envelope JSON (min/median/max"
        " + every run's value + per-run sentinels) so a later judge can"
        " check a single driver run against the observed in-round"
        " spread instead of flagging noise as regression (VERDICT r13"
        " item 8); scripts/bench_compare.py consumes it via --envelope",
    )
    args = ap.parse_args()

    latest = os.path.join(ROOT, "BENCH_FULL_LATEST.json")
    payloads = []
    totals = []
    for i in range(args.runs):
        t0 = time.time()
        r = subprocess.run(
            [sys.executable, os.path.join(ROOT, "bench.py")],
            cwd=ROOT,
            capture_output=True,
            text=True,
        )
        if r.returncode != 0:
            print(r.stdout[-2000:])
            print(r.stderr[-2000:])
            raise SystemExit(f"bench.py run {i + 1} failed")
        with open(latest) as f:
            p = json.load(f)
        payloads.append(p)
        totals.append(p["value"])
        print(
            f"run {i + 1}/{args.runs}: total {p['value']:.1f} s"
            f" (wall {time.time() - t0:.0f} s)"
        )

    keys = sorted(payloads[0]["queries"])
    for p in payloads[1:]:
        if sorted(p["queries"]) != keys:
            raise SystemExit("key sets differ across runs — aborting pool")

    timings = {
        k: round(min(p["queries"][k] for p in payloads), 3) for k in keys
    }
    sentinel = {
        probe: round(
            statistics.median(p["sentinel"][probe] for p in payloads), 4
        )
        for probe in payloads[0]["sentinel"]
    }

    _B36 = "0123456789abcdefghijklmnopqrstuvwxyz"

    def _b36w3(cs: int) -> str:
        if cs >= 36**3 - 1:
            return "zzz"
        cs = max(0, cs)
        return _B36[cs // 1296] + _B36[(cs // 36) % 36] + _B36[cs % 36]

    qz = "".join(_b36w3(int(round(timings[k] * 100))) for k in keys)
    note = (
        f"per-key minimum across {args.runs} full bench.py runs"
        f" (pinned pool depth — VERDICT r12 item 5); sentinel = the"
        f" pool's per-probe median; per-run totals"
        f" {[round(t, 1) for t in totals]}"
    )
    if args.note:
        note += "; " + args.note
    record = {
        "metric": "total_query_wall_clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": payloads[0]["sf"],
        "n_queries": len(keys),
        "pool_depth": args.runs,
        "note": note,
        "sentinel": sentinel,
        "py_worker_keys": payloads[0].get("py_worker_keys", []),
        "queries": timings,
        "qz": qz,
        "qzu": "centisec_b36w3",
        "qzk": hashlib.sha256("\n".join(keys).encode()).hexdigest()[:8],
        "qz_keys": keys,
    }
    with open(os.path.join(ROOT, args.out), "w") as f:
        json.dump(record, f, indent=1)
    print(f"wrote {args.out}: {record['value']:.1f} s over {len(keys)} keys")

    if args.envelope:
        env = {
            "note": (
                "per-key noise envelope over this pool's runs —"
                " single-run values outside [min, max] on a"
                " sentinel-comparable host indicate a real change;"
                " inside it they are the documented run-to-run noise"
                " (VERDICT r13 item 8)"
            ),
            "pool_depth": args.runs,
            "sf": payloads[0]["sf"],
            "sentinel_per_run": [p["sentinel"] for p in payloads],
            "per_key": {
                k: {
                    "runs": [
                        round(p["queries"][k], 3) for p in payloads
                    ],
                    "min": timings[k],
                    "median": round(
                        statistics.median(
                            p["queries"][k] for p in payloads
                        ),
                        3,
                    ),
                    "max": round(
                        max(p["queries"][k] for p in payloads), 3
                    ),
                }
                for k in keys
            },
        }
        with open(os.path.join(ROOT, args.envelope), "w") as f:
            json.dump(env, f, indent=1)
        print(f"wrote {args.envelope}")

    if not args.keep_latest:
        subprocess.run(
            ["git", "checkout", "--", "BENCH_FULL_LATEST.json"],
            cwd=ROOT,
            check=False,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

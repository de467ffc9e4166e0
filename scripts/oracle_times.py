"""Time oracle_sql() queries in DuckDB over one sf dir (single-threaded,
warm best-of-N) and write JSON {"sf_dir", "total", "queries": {key: sec}}
(-1.0 for a query that errors) — the DuckDB side of BASELINE.md's
per-query comparison and scaling-trend tables.  Keys default to every
registered oracle; name some to time a trend subset at a local SF
(scripts/gen_sf.py output).

--spark takes the Spark side, timed by bench.py (BENCH_FULL_LATEST.json)
or by `scripts/time_keys.py --json`, and prints the markdown table body
(spark sec, duckdb sec, ratio) for the keys it times, rows-only keys
marked.

Usage:
  python scripts/oracle_times.py [sf_dir] [key ...] [--out F] [--runs N]
      [--spark SPARK.json]
  e.g. python bench.py && python scripts/oracle_times.py \
           --spark BENCH_FULL_LATEST.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from fanstats_producer_spark import registry
from fanstats_producer_spark.io import TABLES
from scripts.check_oracle import TESTDATA, connect

registry.load_all()


def table(spark: dict, oracle: dict) -> None:
    """BASELINE.md's table body: spark vs duckdb seconds per spark key."""
    print("| query key | spark sec | duckdb oracle sec | ratio |")
    print("|---|---|---|---|")
    s_tot = d_tot = 0.0
    for key in sorted(spark):
        s = spark[key]
        s_tot += s
        d = oracle.get(key)
        if d is None:
            print(f"| {key} | {s:.2f} | — (rows-only) | — |")
        elif d < 0:
            print(f"| {key} | {s:.2f} | ERR | — |")
        elif d == 0:
            print(f"| {key} | {s:.2f} | <0.001 | — |")
        else:
            d_tot += d
            print(f"| {key} | {s:.2f} | {d:.3f} | {s / d:.1f}x |")
    print()
    print(
        f"totals: spark {s_tot:.1f} s over {len(spark)} queries; "
        f"duckdb {d_tot:.1f} s over {len(oracle)} oracle queries"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default=os.path.join(TESTDATA, "sf0.1"))
    ap.add_argument("keys", nargs="*")
    ap.add_argument("--out", default="/tmp/oracle_times.json")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument(
        "--spark",
        help="Spark timings ({key: sec}, or a bench record's 'queries')"
        " to print the comparison table against",
    )
    args = ap.parse_args()
    keys = args.keys or sorted(registry.QUERIES)
    unknown = [k for k in keys if k not in registry.QUERIES]
    if unknown:
        ap.error(f"unknown keys: {unknown}")

    con = connect(args.sf_dir)
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.execute(f"SELECT count(*) FROM {t}").fetchall()  # warm page cache

    times: dict[str, float] = {}
    for key in (k for k in keys if k in registry.ORACLE):
        best = float("inf")
        try:
            for _ in range(args.runs):
                t0 = time.perf_counter()
                con.execute(registry.ORACLE[key]).fetchall()
                best = min(best, time.perf_counter() - t0)
            times[key] = round(best, 3)
        except Exception as e:  # noqa: BLE001 — record, keep timing the rest
            times[key] = -1.0
            print(f"ERR {key}: {str(e)[:100]}", file=sys.stderr)

    with open(args.out, "w") as fh:
        json.dump(
            {"sf_dir": args.sf_dir,
             "total": round(sum(v for v in times.values() if v > 0), 3),
             "queries": times},
            fh, indent=1,
        )
    print(json.dumps({"total": sum(v for v in times.values() if v > 0),
                      "n": len(times)}))
    if args.spark:
        with open(args.spark) as fh:
            spark = json.load(fh)
        spark = spark.get("queries", spark)
        table({k: v for k, v in spark.items() if k in keys}, times)


if __name__ == "__main__":
    main()

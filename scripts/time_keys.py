"""Per-key timing harness for optimization iteration: run the named
keys (or every registered key) through the bench's noop
sink in ONE warm session, best-of-N, and print a compact table.

Faster inner loop than a full bench.py run (no 260-key sweep, no
sentinel battery) for before/after checks on a handful of keys; the
committed BENCH_LOCAL pool record stays the round's evidence of
record — this script is a screwdriver, not a gauge.

The Spark side of BASELINE.md's tables: `--json` output is what
`scripts/oracle_times.py --spark` prints the comparison against (e.g. a
scaling-trend key list at a gen_sf.py SF).

Usage:
    python scripts/time_keys.py x96_image_cluster_dedup x47_edit_verify
    python scripts/time_keys.py --runs 3 --sf-dir /root/testdata/sf0.1 KEY...
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
from fanstats_producer_spark.io import TABLES, load
from fanstats_producer_spark.operators.layout import ensure_layout
from fanstats_producer_spark.session import get_spark, shuffle_partitions_for_bytes
from scripts.check_oracle import TESTDATA

registry.load_all()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="*")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.path.join(TESTDATA, "sf0.1"))
    ap.add_argument("--json", default=None, help="also dump {key: best} JSON here")
    args = ap.parse_args()

    keys = args.keys or sorted(registry.QUERIES)
    unknown = [k for k in keys if k not in registry.QUERIES]
    if unknown:
        print(f"unknown keys: {unknown}", file=sys.stderr)
        return 2

    total_bytes = sum(
        os.path.getsize(os.path.join(args.sf_dir, f))
        for f in os.listdir(args.sf_dir)
        if f.endswith(".parquet")
    )
    # mirror bench.py's session exactly, or the numbers aren't comparable
    # (get_spark puts the local dir on the scratch, as for bench.py)
    spark = get_spark(
        "time-keys", shuffle_partitions=shuffle_partitions_for_bytes(total_bytes)
    )
    # same steady-state treatment as bench.py: warm codegen + the tables
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in TABLES:
        load(spark, args.sf_dir, t).write.format("noop").mode("overwrite").save()
    ensure_layout(spark, args.sf_dir)

    out: dict[str, float] = {}
    for key in keys:
        fn = registry.QUERIES[key]
        runs = []
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"time_keys:{key}")
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        out[key] = round(min(runs), 3)
        print(
            f"{key:38s} best {min(runs):7.3f}  runs "
            + " ".join(f"{r:6.2f}" for r in runs),
            flush=True,
        )
    print(f"TOTAL(best) {sum(out.values()):.2f}")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

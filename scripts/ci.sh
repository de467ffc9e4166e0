#!/bin/bash
# Full local gate: unit+integration tests, oracle differential check at the
# driver's SF, dtype audit, and the benchmark line.
set -e
cd "$(dirname "$0")/.."
python -m pytest tests/ -q
# perfbench imports driver-entry helpers (_few_partitions, _skip_nodata_batch,
# _rocksdb_state, the landing caches): its tests gate their names
python -m pytest perfbench/tests -q
python scripts/check_oracle.py /root/testdata/sf0.01
# bench-SF sweep: catches cardinality-regime drift the sf0.01 gate
# misses (r6: HLL lgConfigK default was exact at sf0.01, wrong at sf0.1)
python scripts/check_oracle.py /root/testdata/sf0.1
python scripts/check_oracle.py --types
# bench.py ALSO rewrites BENCH_FULL_LATEST.json (full per-key detail —
# the driver's own artifact truncates to top-10 past ~200 keys, so this
# file is the per-key record; un-gitignored in r10 so the round's final
# state IS committed; VERDICT r9 item 7).  Fail the gate if that
# contract ever breaks.
# Stash the last COMMITTED record first so the fresh run can be diffed
# against it (bench.py overwrites the working copy).
# Keep the mktemp path in its own variable and rm it via an EXIT trap:
# under set -e a bench_compare regression exit (or a git show failure)
# must not leak the stashed baseline (ADVICE r12).
PREV_TMP=$(mktemp /tmp/bench_prev.XXXXXX.json)
trap 'rm -f "$PREV_TMP"' EXIT
PREV_BENCH="$PREV_TMP"
git show HEAD:BENCH_FULL_LATEST.json > "$PREV_BENCH" 2>/dev/null || PREV_BENCH=""
python bench.py
# Hard per-key regression gate vs the committed record (VERDICT r11
# item 6): sentinel-normalized, flags only >30% AND >0.3s slower.
# Re-probe a flagged key solo before believing it — stream-drain pool
# cells are interference-prone (round-state memory).
if [ -n "$PREV_BENCH" ]; then
  python scripts/bench_compare.py "$PREV_BENCH" BENCH_FULL_LATEST.json --pct 30 --abs 0.3
fi
python - <<'PY'
import json, os, sys, time
p = "BENCH_FULL_LATEST.json"
age = time.time() - os.path.getmtime(p)
if age > 3600:
    sys.exit(f"{p} was not refreshed by bench.py (age {age:.0f}s)")
json.load(open(p))
print(f"{p} refreshed OK")
PY

#!/bin/bash
# Full local gate: unit+integration tests, oracle differential check at the
# driver's SF, dtype audit, and the benchmark line.
set -e
cd "$(dirname "$0")/.."
# Driver-built rows become a frame only through io.local_frame (row
# verifier, then one Arrow table); a createDataFrame( call anywhere else
# in the package lands a pickled Python RDD that starts Python workers.
if grep -rn "createDataFrame(" fanstats_producer_spark --include=*.py |
  grep -v "^fanstats_producer_spark/io.py:"; then
  echo "createDataFrame( outside fanstats_producer_spark/io.py" >&2
  exit 1
fi
# The opt-in scale arms these options selected were deleted: no
# registered key set them, and each remaining arm is chosen from input
# size.  Re-adding one needs a key that runs it.
if grep -rnwE "bucket_join|max_bucket|max_posting|max_df|broadcast_threshold" \
  fanstats_producer_spark --include=*.py; then
  echo "deleted opt-in scale option re-added in fanstats_producer_spark" >&2
  exit 1
fi
# The multimodal keys cross the Arrow-batch -> Python boundary through
# one combinator, multimodal.payload_worker: a key states a row function,
# and a batch loop anywhere else in the module owns that boundary again.
if awk '/^[^ #]/ { top = $0 }
  /for pdf in batches/ && top !~ /^def payload_worker\(/ {
    print FILENAME ":" FNR ":" $0; bad = 1 }
  END { exit !bad }' fanstats_producer_spark/operators/multimodal.py; then
  echo "batch loop outside multimodal.payload_worker" >&2
  exit 1
fi
# The stream keys drain through combinators: a file sink's private work
# dir belongs to _drain_files (s20 stages its two sources in its own),
# and a staged landing's exit-time removal to _landing.  A _work_dir( call
# or an atexit.register( anywhere else in the module is a hand-copied
# drain or landing stager again.
if awk '/^[^ #]/ { top = $0 }
  (/_work_dir\(/ && $0 !~ /^def _work_dir\(/ &&
    top !~ /^def (_drain_files|s20_union_streams)\(/) ||
  (/atexit\.register\(/ && top !~ /^def _landing\(/) {
    print FILENAME ":" FNR ":" $0; bad = 1 }
  END { exit !bad }' fanstats_producer_spark/streaming/driver_entries.py; then
  echo "_work_dir( outside _drain_files/s20 or atexit.register( outside _landing" >&2
  exit 1
fi
# A count-table state merges by SUM through one combinator,
# jobs.staged_sum: a staged_merge( combine that F.sum(s) anywhere else in
# the module is a hand-copied summed-state monitor again.
if awk '/^[^ #]/ { top = $0; comb = 0 }
  /combine=/ { comb = 1 }
  /^ *(idempotent|emit|name)=/ { comb = 0 }
  comb && /F\.sum\(/ && top !~ /^def staged_sum\(/ {
    print FILENAME ":" FNR ":" $0; bad = 1 }
  END { exit !bad }' fanstats_producer_spark/streaming/jobs.py; then
  echo "sum-merging staged_merge( combine outside jobs.staged_sum" >&2
  exit 1
fi
# Scripts and tests find their checkout from their own __file__: a
# hard-coded checkout path makes a run from any other copy (a parent
# copy for an A/B, say) silently import and measure that fixed checkout.
if grep -rnF --include=*.py "$PWD" scripts tests fanstats_producer_spark bench.py; then
  echo "hard-coded checkout path; derive it from __file__" >&2
  exit 1
fi
# One tool per job in scripts/: these were folded into the closure
# harness, planted_sweep.py, dump_plans.py and oracle_times.py.
for f in sf1_closure_check x57_sweep x84_sweep x103_sweep dump_key_plans \
  scale_trend baseline_table; do
  if [ -e "scripts/$f.py" ]; then
    echo "scripts/$f.py re-added; its job belongs to another script" >&2
    exit 1
  fi
done
# The producer has one crawl path (rest.paginate -> rest.fan_out ->
# io.local_frame) and one sink (ndjson.write_partitioned).  The Python
# DataSource crawl/upload fork and the Kafka arm, which no registered
# key or run_pipeline ran, were deleted: a Python DataSource (the only
# way to register a custom read/write format from Python) or a Kafka
# scan in the package is a second producer path.
if grep -rnF -e "pyspark.sql.datasource" -e 'format("kafka")' \
  fanstats_producer_spark --include=*.py; then
  echo "second producer path re-added in fanstats_producer_spark" >&2
  exit 1
fi
# The two AST audits and the stated-once scan start no Spark: an unset
# default, a package def no program reaches or a restated oracle rule
# fails here in seconds, before the Spark suite.
python -m pytest tests/test_driver_contract.py -q -k "defaulted or reached or stated_once"
python -m pytest tests/ -q
# perfbench imports driver-entry helpers (_few_partitions, _skip_nodata_batch,
# _rocksdb_state, the landing caches): its tests gate their names
python -m pytest perfbench/tests -q
# Short smokes: the producer path (ingest), and the stream drains over
# the real sf0.1 landings (stream: s12/s15/s21/s25/s32 against their
# fingerprints).  perfbench exits 0 even when a run fails, so the gate is
# its last line: correct and no failures.
for workload in ingest stream; do
  python3 perfbench/run.py --workload "$workload" --seed 1 --seconds 2 --trace 0 |
    tail -n 1 | python3 -c '
import json, sys
w = sys.argv[1]
r = json.loads(sys.stdin.read())
if r.get("correct") is not True or r.get("failed") != 0:
    sys.exit(f"{w} smoke failed: {r}")
print(f"{w} smoke OK")' "$workload"
done
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

"""Formatted physical plans (`.explain("formatted")`), the `.explain and
iterate` evidence trail, in two modes that share one session, registry
and explain path:

- no keys: regenerate PLANS.md — the headline queries' plans with the
  scale-relevant property of each annotated (run after any
  plan-affecting change);
- KEY... --tag T --suffix before|after: write each key's full plan to
  plans/<T>/<key>_<suffix>.txt — the optimization-round trail, one
  `<key>_before.txt` / `<key>_after.txt` pair per touched key, against
  which plan claims are checked.  A streaming key's captured plan is the
  post-drain batch summary its builder returns; the stream's own
  micro-batch plan is not a DataFrame that can be explained offline.

Usage:
    python scripts/dump_plans.py
    python scripts/dump_plans.py --tag r13 --suffix before KEY...
"""

from __future__ import annotations

import argparse
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from fanstats_producer_spark import registry
from fanstats_producer_spark.operators.layout import ensure_layout
from fanstats_producer_spark.plans.checks import explain_str
from fanstats_producer_spark.session import get_spark
from scripts.check_oracle import TESTDATA

registry.load_all()

HEADLINERS = {
    "q00_flagship_daily_rollup": (
        "Selective date filter reaches the orders parquet scan "
        "(PushedFilters); the filtered side broadcasts, so the lineitem "
        "fact table never shuffles for the join; aggregation is "
        "partial+final hash agg on the grouping keys."
    ),
    "q14_star": (
        "5-way star join: nation/region broadcast by hint, "
        "customer/orders by AQE; single shuffle for the final rollup."
    ),
    "q16_asof": (
        "As-of join as union+window: ONE hash partitioning on user_id, "
        "then a linear per-key scan — no quadratic inequality join."
    ),
    "x04_neardup_jaccard": (
        "Near-dup pairs: shingles collapse to xxhash64 before the ONE "
        "shuffle (8-byte exchange keys); candidate pairs expand map-side "
        "from posting lists with per-doc sizes riding along, so the "
        "final hash agg needs no size-join at all."
    ),
    "x05_knn": (
        "Brute-force kNN: the 3-row query set broadcasts; the corpus "
        "streams once through a BroadcastNestedLoopJoin; per-query "
        "top-k via partitioned window (no global sort)."
    ),
    "q34_sort": (
        "Global top-k plans TakeOrderedAndProject: per-partition heaps, "
        "no full sort at any scale."
    ),
    "q40_partition_prune": (
        "Partition-pruned scan: the date filter shows up as "
        "PartitionFilters on the scan node; executed-plan metrics report "
        "3 of ~30 partition directories read (tests/test_plans.py)."
    ),
    "x19_corpus_pipeline": (
        "Composed corpus prep: dedup window, language+quality filters, "
        "chunk explode, packing window in ONE plan — the Filter sits "
        "BELOW the chunk Generate (gates run before rows multiply), and "
        "only two exchanges appear (content-hash window, shard window)."
    ),
    "q50_scd2": (
        "SCD2 merge in one pass: pushed-down delinquency filter on the "
        "update side, broadcast join on the dimension key, matched rows "
        "fan out to closed+opened via a single Generate (explode) — no "
        "triple-branch union rescanning the join."
    ),
    "q51_interval_join": (
        "Big-big interval overlap without a nested loop: both sides "
        "explode to fixed-width bins and the join is a plain equi-join "
        "on bin, so Catalyst is free to pick the physical strategy — "
        "at this SF AQE broadcasts the smaller side; at 100 TB the same "
        "plan becomes an evenly-keyed shuffle join on bin.  The "
        "exact-once bin condition replaces a distinct pass."
    ),
    "x04d_minhash_native": (
        "Native MinHash: one groupBy computes all 64 signature minima "
        "(universal hashes (a_i*w+b_i) mod 2^31-1 — per-component "
        "independent minimizers, the r4 precision fix); 16 banding "
        "buckets expand candidate pairs map-side; similarity estimated "
        "from signature agreement. Pure JVM expressions."
    ),
    "x22_tfidf": (
        "TF-IDF: the corpus shuffles once on (doc, token); the "
        "(token, df) aggregate and corpus-size scalar broadcast back "
        "into the scoring join, so no reshuffle by token; per-doc "
        "ranking keys on integers only."
    ),
    "x24_kmeans": (
        "k-means: the k-row centroid table broadcasts into BOTH "
        "assignment passes (BroadcastNestedLoopJoin over the vector "
        "scan) — vectors never shuffle by cluster.  Wide exchanges "
        "carry only (vec_id, cid, dist2) triples for the argmin "
        "windows, one vec_id-keyed embedding shuffle feeds the refit, "
        "and the k x dim centroid partials combine map-side."
    ),
    "q57_sessionize": (
        "Sessionization: lag window, running-sum window, and the final "
        "session group-by all share ONE hash partitioning on user_id — "
        "a single exchange in the whole plan."
    ),
    "q52_corr": (
        "Correlation from split-accumulator sums (dsum_pos): each "
        "measure quantizes to a scaled long and sums as three plain "
        "long digits (codegen fast path, 6x faster than decimal sums), "
        "recombined exactly in decimal at the 6-row group level — ONE "
        "aggregation pass, bit-identical on any partitioning."
    ),
    "x27_decontaminate": (
        "Decontamination as an inverted index: the corpus shingle-"
        "explodes ONCE, 5-grams collapse to xxhash64 before the single "
        "shuffle, and (train, eval) hits expand map-side from each "
        "posting pair — no second corpus scan, no broadcast of an "
        "exploded eval side."
    ),
    "x28_vocab": (
        "Vocabulary ids without a single-task window: range exchange "
        "on (freq desc, token), per-partition row_number, and broadcast "
        "cumulative offsets — the only rows that ever reach the driver "
        "are one COUNT per partition."
    ),
    "x36_runtime_filter": (
        "Runtime-filter fact-fact join: the build side's distinct "
        "bucket bitmap broadcasts into a LEFT SEMI that prunes the "
        "probe BEFORE its shuffle; false positives are re-filtered by "
        "the exact join, so the result is provably the plain join's."
    ),
    "x39_span_dedup": (
        "C4-style span dedup: 8-token chunks hash to md5 and the ONLY "
        "corpus shuffle is on that hash for the first-occurrence "
        "window; document rebuild is a per-doc aggregate of surviving "
        "chunks — text never shuffles twice."
    ),
    "q62_tpch_q3": (
        "Decision-support anchor (TPC-H Q3 shape): date filters reach "
        "both parquet scans, the customer dim broadcasts, and the "
        "top-10 is TakeOrderedAndProject — no global sort."
    ),
    "q65_pagerank": (
        "Iterative graph analytics: the rank vector broadcasts into "
        "every iteration's edge join, so the edge list NEVER shuffles; "
        "contributions combine map-side into a |nodes|-sized aggregate; "
        "integer rank units keep 5 iterations bit-reproducible."
    ),
    "x47_edit_verify": (
        "Edit-distance verification: the SPREAD candidate pair list is "
        "the probe side and the text lookups broadcast ONTO it, so the "
        "pushed-down levenshtein filter lands in a wide stage — joined "
        "the other way, predicate pushdown sinks the O(len²) DP into "
        "the single-split corpus scan task (measured 11-19 s vs ~2 s)."
    ),
    "q67_tpch_q18": (
        "Decision-support anchor (TPC-H Q18 shape): lineitem is scanned "
        "and shuffled exactly once — the HAVING aggregate's per-order "
        "sum IS the output measure, so the textbook re-join of the "
        "facts is eliminated; the qualifying-order frame broadcasts; "
        "top-100 is TakeOrderedAndProject."
    ),
    "x57_ivfpq_ann": (
        "Composed IVF+PQ ANN: routing seeds, probe assignments, "
        "per-query LUTs, and the shortlist all BROADCAST (every one is "
        "bounded by query count or list count); the corpus-sized "
        "tables — nearest-seed assignment and PQ codes — each shuffle "
        "once on vec_id for their joins, and raw vectors are fetched "
        "only for the 100-deep shortlist re-rank.  At 100 TB the code "
        "table (8 B/vector) is what the ADC stage scans; the raw "
        "embedding scan is shortlist-sized."
    ),
    "x58_png_decode": (
        "Real PNG decode in the pipeline: documents spread across "
        "partitions, then ONE mapInPandas stage does encode+decode per "
        "Arrow batch — zero shuffles, zero collect; codec work scales "
        "with executors exactly like a production CV stage."
    ),
    "x59_verified_dedup": (
        "Precision-gated dedup composition: banded-MinHash candidates "
        "(one band-key shuffle), levenshtein verify over the SPREAD "
        "candidate list with texts broadcast onto it (the x47 wide-"
        "stage shape), size-gated connected components over confirmed "
        "pairs, and a broadcast cluster map into the keep-best window "
        "— the corpus text itself is never shuffled at any stage."
    ),
    "x64_wav_decode": (
        "Real audio decode: the WAV encode/decode round trip plus "
        "frame-energy arithmetic all run inside ONE ArrowEvalPython "
        "(mapInPandas) over the spread scan — no shuffle, no collect; "
        "at 100 TB the codec work is embarrassingly parallel across "
        "executors."
    ),
    "x65_gif_decode": (
        "Real animation decode: animated-GIF89a encode (real LZW) and "
        "block-walk parse ride the same single mapInPandas stage as "
        "x64 — zero shuffles; per-frame rows are generated inside the "
        "Arrow batch, never exchanged."
    ),
    "x66_semantic_decontam": (
        "Semantic decontamination: the eval set broadcasts "
        "(BroadcastNestedLoopJoin); the corpus is hash-partitioned once "
        "by `spread` and the per-doc argmax window REUSES that "
        "partitioning — no further exchange after the broadcast join."
    ),
    "q70_triangles": (
        "Triangle motifs: per-order posting lists collapse the pair "
        "aggregation to ONE wide exchange (combos expand map-side); the "
        "support-pruned edge list broadcasts into both motif joins — "
        "no shuffle touches the quadratic stage."
    ),
    "x68_substring_dup": (
        "Position-level substring dedup: window hashes project per-row "
        "(no explode before the 16-byte pair); the per-hash aggregate "
        "joins back onto the probe by hash (AQE broadcasts it at this "
        "SF; at corpus scale it is a shuffle join on h — the third "
        "exchange), and the doc rollup reuses the spread partitioning."
    ),
    "q72_tpch_q1": (
        "TPC-H Q1 pricing summary: the date predicate reaches the "
        "parquet scan, projection prunes to the six measure columns, "
        "and all eight aggregates are partial (map-side) before one "
        "exchange of <=9 groups — pure scan + combine, the shape a "
        "100 TB full-table rollup must have."
    ),
    "q74_tpch_q19": (
        "TPC-H Q19 OR-of-ANDs: Catalyst extracts the side-local "
        "residuals of the disjunction — the quantity envelope pushes to "
        "the lineitem scan and the brand/size envelope to part — so "
        "both inputs arrive pre-pruned at the broadcast join and the "
        "cross-side conjuncts evaluate as the join residual."
    ),
    "q75_tpch_q17": (
        "TPC-H Q17 correlated average: the broadcast part slice prunes "
        "the fact to ~0.5% before anything else; the pruned frame "
        "materializes once (localCheckpoint) and feeds both the "
        "per-part stats aggregate and the threshold filter — zero "
        "lineitem re-scans, stats rejoin by broadcast, and the 20% "
        "threshold is integer-exact (qty*5*cnt < exact-sum)."
    ),
    "x72_paragraph_dedup": (
        "CCNet paragraph dedup: 20-token segments build as per-row "
        "array slices (the exploded unit is the segment, never the "
        "token), first-occurrence rank is one window over the segment "
        "key — the only wide shuffle — and per-doc reassembly sorts "
        "(seg_idx, seg) structs inside the aggregate, no per-group "
        "sort pass."
    ),
    "x73_snapshot_diff": (
        "Snapshot diff: both snapshot projections carry 32-byte digests "
        "instead of texts into the ONE full-outer join on doc_id; the "
        "status rollup is map-side combinable; with doc_id-bucketed "
        "snapshot tables the join is exchange-free."
    ),
    "x74_containment_dup": (
        "Containment dedup: distinct (doc, window-hash) pairs build "
        "map-side; the posting cap (2..16 docs/hash) drops signal-free "
        "hot windows BEFORE the self-join expands ordered pairs, so the "
        "expansion is bounded by cap^2 per window; the per-doc size "
        "frame joins back on id_a as the provably-small side."
    ),
    "x78_repetition_chars": (
        "Gopher repetition battery: exploded codegen'd hash aggregates "
        "keyed by doc_id/(doc_id,gram)/(doc_id,pos) — the per-row "
        "nested-HOF formulation the oracle uses measured 14x slower on "
        "Spark (lambdas are interpreted, outside codegen; BASELINE "
        "round-8 note); all exchanges stay narrow at any corpus size."
    ),
    "x79_bloom_filter": (
        "Portable Bloom sketch: bit_or word aggregation is map-side "
        "combinable (2048-word fixed state); the sketch broadcasts to "
        "the probe side — the semi-join-reduction shape that gates a "
        "100 TB fact scan before its shuffle.  Build keys checkpoint "
        "once and feed both the sketch and the exact flag."
    ),
    "x80_zorder_layout": (
        "Z-order clustering: quantization and Morton interleave are "
        "pure integer per-row arithmetic (scalar max broadcasts); one "
        "aggregate yields the per-file min/max statistics that drive "
        "two-dimensional file pruning (pytest proves the second-dim "
        "pruning a 1-D sort cannot give)."
    ),
    "x82_sparse_text_topk": (
        "Sparse retriever: hashed-TF postings materialize ONCE "
        "(localCheckpoint — the persisted index at scale); the 3-query "
        "posting slice broadcasts, so dot products only materialize on "
        "shared features and the corpus never shuffles pairwise; "
        "per-query top-k via partitioned window."
    ),
    "x88_image_neardup": (
        "Perceptual image dedup: pHash computes in ONE mapInPandas pass "
        "(real codec decode, zero shuffle); the banded self-join "
        "shuffles only 9x(7-bit key, 8-byte hash) per doc and is "
        "EXACT-COMPLETE at hamming<=8 by pigeonhole — the sub-quadratic "
        "plan provably equals brute force."
    ),
    "x91_sequence_packing": (
        "Concat-and-chunk packing manifest: one bucketed running sum "
        "(256 md5-prefix buckets + broadcast offsets — no single-task "
        "window) and integer division; every executor can render any "
        "shard range from the manifest independently."
    ),
    "x92_weighted_sample": (
        "Weighted reservoir sample: one scan computing the "
        "deterministic A-Res key, then TakeOrderedAndProject — "
        "per-partition k-heaps merged once, never a global sort."
    ),
    "x94_kneser_ney_bits": (
        "Kneser-Ney bigram scoring (kn_bits at order 2): bigram "
        "extraction is one per-row expression (arrays_zip of shifted "
        "slices: NO window, NO shuffle on the corpus side); the model "
        "is ONE partial-agg groupBy of the bigram frame, its context "
        "totals, N1 and continuation counts riding as windows on that "
        "table and the distinct-bigram total as a one-row broadcast; "
        "the occurrence stream meets the distinct-bigram score in ONE "
        "broadcast hash join.  At fixture scale the cross-joined score "
        "frame's static size estimate (a product of its inputs) is the "
        "larger, so the occurrence stream is the build side and the "
        "per-doc aggregate adds one doc_id exchange."
    ),
    "x95_unigram_encode": (
        "Unigram-LM tokenizer encode: the type->segmentation map is "
        "computed distributed (Viterbi in mapInPandas over the gated "
        "word-type table) and BROADCAST-joined onto the corpus token "
        "stream — the corpus side is one scan + one broadcast hash "
        "join + one per-doc aggregate, no corpus shuffle on any "
        "per-token path."
    ),
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="*")
    ap.add_argument("--tag", default="r13")
    ap.add_argument("--suffix", choices=["before", "after"])
    ap.add_argument(
        "--sf-dir", help="default: sf0.01 for PLANS.md, sf0.1 for named keys"
    )
    args = ap.parse_args()
    if args.keys and not args.suffix:
        ap.error("KEY... needs --suffix before|after")
    unknown = [k for k in args.keys if k not in registry.QUERIES]
    if unknown:
        print(f"unknown keys: {unknown}", file=sys.stderr)
        return 2
    sf = args.sf_dir or os.path.join(TESTDATA, "sf0.1" if args.keys else "sf0.01")

    spark = get_spark("plan-dump")
    layout = os.path.dirname(ensure_layout(spark, sf))
    plans = {
        key: explain_str(registry.QUERIES[key](spark, sf), "formatted")
        for key in args.keys or HEADLINERS
    }

    if args.keys:
        outdir = os.path.join(ROOT, "plans", args.tag)
        os.makedirs(outdir, exist_ok=True)
        for key, plan in plans.items():
            path = os.path.join(outdir, f"{key}_{args.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"wrote {path}")
        return 0

    out = ["# PLANS — headline physical plans (generated by scripts/dump_plans.py)",
           "",
           "Formatted `.explain` output per headline query, with the scale",
           "property each plan is designed around.  Regenerate after any",
           "plan-affecting change: `python scripts/dump_plans.py`.",
           ""]
    # The same plan must write the same file on any host: the partitioned
    # layout copy lives under a per-host temp dir, and Catalyst numbers
    # expression ids per session.  PushedFilters print source filters,
    # which carry no ids but may hold '#' in a literal (q74's Brand#4).
    for key, note in HEADLINERS.items():
        plan = plans[key]
        # keep the operator tree + scan metadata, drop the verbose field lists
        tree = plan.split("\n\n")[0]
        details = "\n".join(
            line if line.startswith("PushedFilters")
            else re.sub(r"#\d+", "#N", line.replace(layout, "<fanstats_layout>"))
            for line in plan.splitlines()
            if re.search(r"PushedFilters|PartitionFilters|ReadSchema|Location", line)
        )
        out += [f"## {key}", "", note, "", "```", tree, "", details, "```", ""]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")
    return 0


if __name__ == "__main__":
    sys.exit(main())

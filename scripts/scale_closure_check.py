"""Scale-proof harness for the closure-oracle dedup family and the heavy
ANN keys at ANY locally generated SF: x04e, x59, x61, x96 (recursive-CTE
transitive closures), x60 (quadratic pair-set monitor), and plain keys
whose registered oracle runs directly (x68/x74/s26b by default).
Results flush per key, so a long run commits partial evidence.

Past sf0.1 the registered recursive-CTE oracles OOM DuckDB reproducibly
("Failed to allocate block...", 122 GB free at sf1) — recursive CTE
state cannot spill.  The closure keys' oracle side therefore runs a
STAGED restatement: temp tables with the closure computed by an
ITERATIVE min-label-propagation loop (the same algorithm the Spark
side's connected_components runs: neighbor-min + pointer-jump per
round, O(log diameter) rounds), which spills fine.  `--deep` swaps in
the per-stage-materialized restatements for the sf10 memory envelope,
and a plain key whose registered shape cannot finish at scale has a
staged-plain restatement.  Soundness: before any scale run, ONE pin loop
runs every restatement in use against the REGISTERED oracle at sf0.01
(where it still runs) — any drift fails loudly before the scale run
spends minutes.

The staged closure materializes `reach(node, r)` with ONE row per node
(node, component-min).  Every registered suffix consumes reach only as
`MIN(r) ... GROUP BY node`, for which the single-row form is
equivalent.

Usage:
    python scripts/scale_closure_check.py --sf-dir localdata/sf10 \
        --out SF10_CLOSURE.json
    # the sf1 closure record:
    python scripts/scale_closure_check.py --sf-dir localdata/sf1 \
        --plain '' --out SF1_CLOSURE_LATEST.json
    # subset / reorder:
    python scripts/scale_closure_check.py --sf-dir localdata/sf10 \
        --keys x59_verified_dedup,x61_semdedup --plain ''

Keys run cheapest-first (measured at sf1) so partial results carry the
most coverage per minute; every key's result is flushed to --out as it
lands.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from fanstats_producer_spark import registry  # noqa: E402
from fanstats_producer_spark.operators.dedup import (  # noqa: E402
    _CLOSURE_SQL,
    _EDGES_SQL,
    _MH_CHAIN,
    _MH_CHAIN_SQL,
    _X04_CHAIN,
    _X04_FINAL,
    _X60_FINAL,
    _X61_PAIRS_SQL,
)
from fanstats_producer_spark.session import get_spark  # noqa: E402
from scripts.check_oracle import (  # noqa: E402
    TESTDATA,
    canon_rows,
    connect,
    fetch,
)

registry.load_all()

PIN_SF = os.path.join(TESTDATA, "sf0.01")
SPILL = "/tmp/duckdb_spill"
# cheapest-first by measured sf1 cost (spark + staged oracle seconds:
# x59 151, x61 124, x60 407, x96 430, x04e 665)
CLOSURE_KEYS = [
    "x59_verified_dedup",
    "x61_semdedup",
    "x60_verify_gate_effect",
    "x96_image_cluster_dedup",
    "x04e_dedup_clusters",
]
PLAIN_KEYS = [
    "x68_substring_dup",
    "x74_containment_dup",
    "s26b_stream_decontam_large_eval",
]


def _connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = connect(sf_dir)
    os.makedirs(SPILL, exist_ok=True)
    con.execute(f"SET temp_directory='{SPILL}'")
    con.execute("SET preserve_insertion_order=false")
    # an explicit ceiling makes spillable operators spill EARLY instead
    # of racing the default 80%-of-RAM limit against Spark's JVM (the
    # sf10 x59 staged oracle hard-OOMed without it; with it, whatever
    # still fails is genuinely unspillable state — the honest signal).
    # Derived from the host, not hardcoded (ADVICE r12): a flat 60GB on
    # a <75GB host would RAISE the ceiling above DuckDB's default 80%
    # and make hard-OOM more likely — the opposite of the intent.
    # Override with SPARK_GRAFT_DUCKDB_MEM if needed.
    limit = os.environ.get("SPARK_GRAFT_DUCKDB_MEM")
    if not limit:
        try:
            with open("/proc/meminfo") as mf:
                kb = int(
                    next(ln for ln in mf if ln.startswith("MemTotal")).split()[1]
                )
            limit = f"{min(60, max(1, int(kb / 1024 / 1024 * 0.6)))}GB"
        except (OSError, StopIteration, ValueError):
            limit = "60GB"
    con.execute(f"SET memory_limit='{limit}'")
    return con


def _split_closure(oracle_sql: str) -> tuple[str, str]:
    """Split a registered closure oracle at dedup._CLOSURE_SQL into (the
    query producing its `pairs` CTE, the suffix after the closure)."""
    pre, suffix = oracle_sql.split(_CLOSURE_SQL)
    pairs_query = (
        pre.replace("WITH RECURSIVE", "WITH", 1).rstrip().rstrip(",")
        + "\n    SELECT id_a, id_b FROM pairs"
    )
    return pairs_query, suffix


def _iterative_closure(con: duckdb.DuckDBPyConnection) -> int:
    """Temp table `edges(src, dst)` (both directions) -> temp table
    `reach(node, r)` with one row per node holding its component min.
    Neighbor-min propagation + pointer jump per round — the exact
    algorithm operators/dedup.py::connected_components runs."""
    con.execute("DROP TABLE IF EXISTS lbl")
    con.execute(
        "CREATE TEMP TABLE lbl AS SELECT DISTINCT src AS node, src AS label"
        " FROM edges"
    )
    prev = None
    rounds = 0
    while True:
        rounds += 1
        con.execute(
            """
            CREATE TEMP TABLE lbl_p AS
            SELECT l.node,
                   LEAST(l.label, COALESCE(nm.m, l.label)) AS label
            FROM lbl l LEFT JOIN (
              SELECT e.src AS node, MIN(lb.label) AS m
              FROM edges e JOIN lbl lb ON lb.node = e.dst
              GROUP BY e.src) nm USING (node)
            """
        )
        con.execute(
            """
            CREATE TEMP TABLE lbl_j AS
            SELECT l.node, COALESCE(p.label, l.label) AS label
            FROM lbl_p l LEFT JOIN lbl_p p ON p.node = l.label
            """
        )
        con.execute("DROP TABLE lbl")
        con.execute("DROP TABLE lbl_p")
        con.execute("ALTER TABLE lbl_j RENAME TO lbl")
        cur = con.execute("SELECT SUM(label) FROM lbl").fetchone()[0]
        if cur == prev:
            break
        prev = cur
        if rounds > 60:
            raise RuntimeError("closure did not converge")
    con.execute("DROP TABLE IF EXISTS reach")
    con.execute(
        "CREATE TEMP TABLE reach AS SELECT node, label AS r FROM lbl"
    )
    con.execute("DROP TABLE lbl")
    return rounds


def _closure_suffix(con, key: str):
    """Run the registered oracle's post-closure suffix against the
    staged `reach` temp table."""
    _, suffix = _split_closure(registry.ORACLE[key])
    if suffix.lstrip().startswith(","):
        final = "WITH " + suffix.lstrip().lstrip(",")
    else:
        final = suffix
    return fetch(con, final)


def _ds(con, name: str, sql: str) -> None:
    con.execute(f"DROP TABLE IF EXISTS {name}")
    con.execute(f"CREATE TEMP TABLE {name} AS {sql}")


def _close_over(con, key: str):
    """Undirected edges (dedup._EDGES_SQL) from the temp pair table
    `pairs(id_a, id_b)`, dropped once read, the iterative closure, then
    key's registered suffix."""
    _ds(con, "edges", _EDGES_SQL)
    con.execute("DROP TABLE pairs")
    _iterative_closure(con)
    return _closure_suffix(con, key)


def staged_oracle(con: duckdb.DuckDBPyConnection, key: str):
    """Evaluate the registered oracle via staged temp tables; returns
    (columns, rows)."""
    if key == "x61_semdedup":
        # the suffix reads the prefix CTE `asg` (the k-means assignment,
        # also the expensive stage): materialize it once as a temp table
        # and run x61's own pair CTEs over it.
        _ds(
            con,
            "asg",
            "SELECT vec_id, cluster_id AS cid, dist2_e6"
            f" FROM ({registry.ORACLE['x24_kmeans']})",
        )
        _ds(con, "pairs", f"WITH {_X61_PAIRS_SQL} SELECT id_a, id_b FROM pairs")
        return _close_over(con, key)

    if key == "x60_verify_gate_effect":
        # no closure — the OOM risk is the three quadratic pair sets;
        # materialize each once (the registered oracle recomputes the
        # banding inside both x04d and x47) and run the tiny final
        # aggregation over them.
        for name, src in (("exact_pairs", "x04_neardup_jaccard"),
                          ("banded", "x04d_minhash_native"),
                          ("verified", "x47_edit_verify")):
            _ds(con, name, f"SELECT id_a, id_b FROM ({registry.ORACLE[src]})")
        return fetch(con, "WITH " + _X60_FINAL)

    # x04e / x59 / x96: generic surgery — their suffixes reference only
    # `reach` and base views, never a prefix CTE.
    _ds(con, "pairs", _split_closure(registry.ORACLE[key])[0])
    return _close_over(con, key)


# --- staged restatements for PLAIN keys whose registered oracle has a
# shape that cannot finish at the probe SF (same protocol as the
# closure keys: pinned staged==registered at sf0.01 before use).
#
# s26b: the registered oracle ranks the full |stream|x|evals| scored
# relation with row_number() OVER (PARTITION BY vec_id ORDER BY
# sim_e6 DESC, eval_id) — a window that must MATERIALIZE the quadratic
# relation (measured at sf10: 1e10 rows, >50 min spilling, unfinished).
# The per-vector argmax is equivalently MIN over the composite integer
# (1e6 − sim_e6)·1e10 + eval_id — the Spark arm's own decode — which
# hash-aggregates in |vectors| state and streams the cross join
# without materializing it.  Equivalence: sim DESC, eval_id ASC
# lexicographic order == composite ascending order because
# (1e6 − sim_e6) ∈ [0, 2e6] and eval_id < 1e10 never carries.


def _s26b_staged_sql() -> str:
    from fanstats_producer_spark.operators.similarity import _X66_THRESH_E6

    return f"""
    WITH e AS (SELECT vec_id AS eval_id, embedding::DOUBLE[] AS ev
               FROM embeddings WHERE vec_id % 2 = 0),
         c AS (SELECT vec_id, embedding::DOUBLE[] AS v
               FROM embeddings WHERE vec_id % 2 = 1),
         agg AS (
           SELECT c.vec_id,
                  MIN((1000000 - CAST(floor(
                        list_cosine_similarity(c.v, e.ev) * 1e6 + 0.5)
                      AS BIGINT)) * 10000000000 + e.eval_id) AS comp
           FROM c CROSS JOIN e GROUP BY c.vec_id)
    SELECT vec_id,
           comp % 10000000000 AS nearest_eval_id,
           1000000 - comp // 10000000000 AS max_sim_e6,
           CAST((1000000 - comp // 10000000000) >= {_X66_THRESH_E6}
                AS INT) AS contaminated
    FROM agg
    """


STAGED_PLAIN = {"s26b_stream_decontam_large_eval": _s26b_staged_sql}


# --- DEEP staging (VERDICT r12 item 1) --------------------------------------
# At sf10 the sf1-grade staged oracles still build each EDGE SET in one
# statement (the whole shingle -> minhash -> band -> est -> levenshtein
# pipeline as nested CTEs): DuckDB holds several materialized CTEs of
# the 500k-doc run live at once and the x59 attempt died with "Failed
# to allocate block" even at memory_limit=60GB.  Deep staging
# materializes EVERY pipeline stage as its own temp table and drops its
# inputs immediately, so the live working set is one stage, each
# individually spillable.  x96 additionally replaces the registered
# all-pairs hamming join (O(n^2) = 1.25e11 comparisons at sf10) with
# the pigeonhole-exact 9-band pre-filter the Spark arm uses (hamming
# <= 8 over 9 disjoint bands => at least one band matches exactly), then
# verifies bit_count(xor()) <= 8 on the bounded candidate list.
# Protocol unchanged: every deep restatement is pinned row-identical to
# the REGISTERED oracle at sf0.01 before any scale run.


def _stage_chain(con, chain, drops: dict) -> None:
    """Stage each (name, body) CTE of a dedup.py oracle chain as a temp
    table of its own name; `drops` maps a stage to the table it is the
    last reader of, dropped as soon as that stage lands."""
    for name, body in chain:
        _ds(con, name, body)
        if name in drops:
            con.execute(f"DROP TABLE {drops[name]}")


def _stage_banded(con) -> None:
    """documents -> banded(id_a, id_b, est_jaccard_e6), the x04d result:
    dedup._MH_CHAIN staged, then the registered x04d oracle's candidate
    and estimate tail over it."""
    _stage_chain(con, _MH_CHAIN, {"post": "sh", "sig": "post", "sigl": "sig"})
    x04d = registry.ORACLE["x04d_minhash_native"]
    _ds(con, "banded", "WITH " + x04d.split(_MH_CHAIN_SQL + ",", 1)[1])
    con.execute("DROP TABLE bands")
    con.execute("DROP TABLE sigl")


def _stage_verified(con) -> None:
    """banded -> verified: the registered x47 oracle, with the x04d
    oracle it embeds replaced by the staged `banded` table."""
    x04d = f"({registry.ORACLE['x04d_minhash_native']})"
    x47 = registry.ORACLE["x47_edit_verify"]
    assert x47.count(x04d) == 1
    _ds(con, "verified", x47.replace(x04d, "banded"))


def _stage_exact(con) -> None:
    """documents -> exact_pairs(id_a, id_b), the x04 result (shared by
    x04e's edges): dedup._X04_CHAIN staged, then x04's quantize-then-
    compare tail over it."""
    _stage_chain(con, _X04_CHAIN, {"sizes": "sh", "inter": "post"})
    _ds(con, "exact_pairs", f"SELECT id_a, id_b FROM ({_X04_FINAL})")
    con.execute("DROP TABLE inter")
    con.execute("DROP TABLE sizes")


def _stage_phash_pairs(con) -> None:
    """documents -> pairs(id_a, id_b) — x96's hamming<=8 pair set.  The
    DCT/pHash prefix is reused VERBATIM from the registered oracle
    (sliced at its pairs CTE); the all-pairs join is replaced by the
    pigeonhole-exact 9-band candidate pre-filter (8+7x8 = 64 bits;
    hamming <= 8 can touch at most 8 bands, so >= 1 band is equal) and
    the registered bit_count(xor()) <= 8 verify on the candidates."""
    o = registry.ORACLE["x96_image_cluster_dedup"]
    pre = o.split("pairs AS (")[0].rstrip().rstrip(",")
    hashes_sql = (
        pre.replace("WITH RECURSIVE", "WITH", 1)
        + "\n    SELECT doc_id, ph FROM hashes"
    )
    _ds(con, "t_hashes", hashes_sql)
    # ph rides INTO the band table so the hamming predicate can run
    # INSIDE the band join, before the DISTINCT — same filter-first
    # shape as the Spark arm (the DISTINCT over raw banding candidates
    # is ~8.7e9 rows at sf10; the survivors are ~1e-3 of that).
    _ds(
        con,
        "t_hbands",
        """
        SELECT doc_id, ph, b,
               CASE WHEN b = 0 THEN ph & 255
                    ELSE (ph >> (8 + (b - 1) * 7)) & 127 END AS bv
        FROM t_hashes CROSS JOIN range(9) AS t(b)
        """,
    )
    _ds(
        con,
        "pairs",
        """
        SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
        FROM t_hbands a JOIN t_hbands c
          ON a.b = c.b AND a.bv = c.bv AND a.doc_id < c.doc_id
        WHERE bit_count(xor(a.ph, c.ph)) <= 8
        """,
    )
    con.execute("DROP TABLE t_hbands")
    con.execute("DROP TABLE t_hashes")


def _deep_x59(con):
    _stage_banded(con)
    _stage_verified(con)
    con.execute("DROP TABLE banded")
    con.execute("ALTER TABLE verified RENAME TO pairs")
    return _close_over(con, "x59_verified_dedup")


def _deep_x04e(con):
    _stage_exact(con)
    con.execute("ALTER TABLE exact_pairs RENAME TO pairs")
    return _close_over(con, "x04e_dedup_clusters")


def _deep_x96(con):
    _stage_phash_pairs(con)
    return _close_over(con, "x96_image_cluster_dedup")


def _deep_x60(con):
    # three staged pair sets, then x60's registered final aggregation
    _stage_exact(con)
    _stage_banded(con)
    _stage_verified(con)
    return fetch(con, "WITH " + _X60_FINAL)


DEEP_STAGED = {
    "x59_verified_dedup": _deep_x59,
    "x04e_dedup_clusters": _deep_x04e,
    "x96_image_cluster_dedup": _deep_x96,
    "x60_verify_gate_effect": _deep_x60,
}

# record field holding each oracle arm's seconds
ORACLE_SEC = {
    "staged": "staged_oracle_sec",
    "deep-staged": "deep_staged_oracle_sec",
    "staged-plain": "staged_plain_oracle_sec",
    "registered": "oracle_sec",
}


def oracle_kind(key: str, closure: bool, deep: bool) -> str:
    """Which oracle arm key runs: a closure key its (deep-)staged
    restatement, a plain key its staged-plain one or the registered
    oracle."""
    if closure:
        return "deep-staged" if deep and key in DEEP_STAGED else "staged"
    return "staged-plain" if key in STAGED_PLAIN else "registered"


def restated(con, kind: str, key: str):
    """(columns, rows) of key's oracle arm `kind` on con."""
    if kind == "staged":
        return staged_oracle(con, key)
    if kind == "deep-staged":
        return DEEP_STAGED[key](con)
    if kind == "staged-plain":
        return fetch(con, STAGED_PLAIN[key]())
    return fetch(con, registry.ORACLE[key])


def pin(sf_dir: str, arms) -> dict:
    """The pin loop: each (kind, key) restatement against the REGISTERED
    oracle at sf_dir, compared as canon_rows.  Returns
    {(kind, key): (equal, rows)}."""
    out = {}
    for kind, key in arms:
        t0 = time.time()
        con = _connect(sf_dir)
        try:
            sc, sr = canon_rows(*restated(con, kind, key))
            rc, rr = canon_rows(*fetch(con, registry.ORACLE[key]))
        finally:
            con.close()
        good = sc == rc and sr == rr
        out[kind, key] = (good, len(sr))
        print(
            f"{'PIN-OK' if good else 'PIN-FAIL'} {key}: {kind} "
            f"{'==' if good else '!='} registered at {sf_dir} "
            f"({len(sr)} rows, {time.time() - t0:.1f}s)"
        )
    return out


def _err(e: Exception) -> str:
    return f"{type(e).__name__}: {str(e)[:300]}"


def run_key(spark, sf_dir: str, key: str, kind: str, phase: str = "both",
            canon_dir: str = "") -> dict:
    """Spark arm, then oracle arm, each timed and error-isolated: an
    oracle that cannot finish at this SF (the x59-at-sf10 finding —
    DuckDB OOM in the STAGED closure, one staging level past the
    recursive-CTE OOM at sf1) must still leave the Spark side's
    completion time and row count in the record, because 'Spark
    finishes, the single-node oracle does not' IS the scale result.

    Two-phase variant (round 13): phase 'spark' runs ONLY the Spark arm
    and pickles its canonical rows + timing under canon_dir; phase
    'oracle' loads that pickle, runs the oracle arm, and emits the final
    record.  Lets the hour-scale oracle grind be scheduled away from
    quiet-host timing windows without losing the Spark evidence (the r12
    lesson: evidence must survive arm boundaries)."""
    pkl = os.path.join(canon_dir, f"{key}.pkl")
    if phase == "oracle":
        with open(pkl, "rb") as f:
            scols, srows, t_spark = pickle.load(f)
    else:
        t0 = time.time()
        try:
            sdf = registry.QUERIES[key](spark, sf_dir)
            scols, srows = canon_rows(
                sdf.columns, [tuple(r) for r in sdf.collect()]
            )
        except Exception as e:
            return {
                "match": False,
                "spark_error": _err(e),
                "spark_sec": round(time.time() - t0, 1),
            }
        t_spark = time.time() - t0
        if phase == "spark":
            os.makedirs(canon_dir, exist_ok=True)
            with open(pkl, "wb") as f:
                pickle.dump((scols, srows, t_spark), f)
            return {
                "match": "pending-oracle",
                "rows": len(srows),
                "spark_sec": round(t_spark, 1),
            }
    spark_rec = {"rows": len(srows), "spark_sec": round(t_spark, 1)}
    t0 = time.time()
    # _connect itself can fail under memory pressure (ADVICE r12: the
    # x59-at-sf10 record lost its spark_sec exactly this way) — treat a
    # connect failure like any other oracle-arm failure so the Spark
    # side's completion evidence survives.
    try:
        con = _connect(sf_dir)
        try:
            ocols, orows = canon_rows(*restated(con, kind, key))
        finally:
            con.close()
    except Exception as e:
        return {
            "match": False,
            **spark_rec,
            "oracle_error": _err(e),
            ORACLE_SEC[kind]: round(time.time() - t0, 1),
        }
    return {
        "match": scols == ocols and srows == orows,
        **spark_rec,
        ORACLE_SEC[kind]: round(time.time() - t0, 1),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.path.join(ROOT, "localdata", "sf10"))
    ap.add_argument("--out", default=os.path.join(ROOT, "SF10_CLOSURE.json"))
    ap.add_argument("--keys", default=",".join(CLOSURE_KEYS))
    ap.add_argument("--plain", default=",".join(PLAIN_KEYS))
    ap.add_argument(
        "--no-validate",
        action="store_true",
        help="skip the sf0.01 staged==registered pin of the closure keys"
        " (already pinned); staged-plain pins are cheap and always run",
    )
    ap.add_argument(
        "--deep",
        action="store_true",
        help="use the per-stage-materialized DEEP restatements for the"
        " closure keys that have one (sf10 memory envelope)",
    )
    ap.add_argument(
        "--phase",
        choices=["both", "spark", "oracle"],
        default="both",
        help="run only one arm; 'spark' pickles canonical rows under"
        " --canon-dir, 'oracle' loads them and writes the final record",
    )
    ap.add_argument("--canon-dir", default="/tmp/scale_canon")
    args = ap.parse_args()

    arms = [
        (k, oracle_kind(k, False, args.deep)) for k in args.plain.split(",") if k
    ] + [(k, oracle_kind(k, True, args.deep)) for k in args.keys.split(",") if k]
    pins = [
        (kind, key)
        for key, kind in arms
        if kind == "staged-plain" or (kind != "registered" and not args.no_validate)
    ]
    if not all(good for good, _ in pin(PIN_SF, pins).values()):
        print("restatement pin FAILED — not running the scale sweep")
        return 1

    def _fresh_spark():
        return get_spark("scale-closure-check")

    def _ensure_alive(spark):
        """A heap-OOM in one key's Spark arm shuts the whole
        SparkContext down (observed: x60 at sf10), and every later
        key then fails with 'SparkContext was shut down' — cascade
        errors, not evidence.  Probe the session before each key and
        rebuild it if dead."""
        try:
            spark.sql("SELECT 1").collect()
            return spark
        except Exception:
            print("SparkContext dead — rebuilding the session")
            try:
                spark.stop()
            except Exception:
                pass
            from pyspark.sql import SparkSession

            # clear the cached session so get_spark builds a new JVM
            SparkSession._instantiatedSession = None
            SparkSession._activeSession = None
            return _fresh_spark()

    # the oracle phase reads the Spark arm's pickles and needs no JVM
    spark = _fresh_spark() if args.phase != "oracle" else None
    results: dict = {}
    if os.path.exists(args.out):
        with open(args.out) as f:
            results = json.load(f)

    def flush() -> None:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)

    for key, kind in arms:
        if key in results and results[key].get("match") is True:
            print(f"SKIP {key}: already green in {args.out}")
            continue
        try:
            if args.phase != "oracle":
                spark = _ensure_alive(spark)
            results[key] = run_key(
                spark, args.sf_dir, key, kind, args.phase, args.canon_dir
            )
        except Exception as e:  # keep sweeping; record the failure
            results[key] = {"match": False, "error": f"{type(e).__name__}: {e}"}
        flush()
        r = results[key]
        print(
            f"{'OK' if r['match'] else 'FAIL'} {key}: "
            + json.dumps(r, default=str)
        )
    flush()
    return 0 if all(r.get("match") for r in results.values()) else 1


if __name__ == "__main__":
    raise SystemExit(main())

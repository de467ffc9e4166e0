"""Planted-fixture sweeps: run one ANN/mining key's parameterized surface
over a grid of its knobs on BOTH the base fixture and a planted variant
of the embeddings fixture (gen_sf.py), so the planted-vs-base gap shows
how much of a reported recall or margin is fixture geometry rather than
operator quality.  Each key rewrites its record under the checkout root.

- x57: IVF+PQ recall-vs-wall-clock over the composed pipeline's three
  runtime knobs — n_probe, shortlist, m — through ivfpq_recall.  VERDICT
  r6 item 2: x57b reported recall@5 ≈ 0.73 on the base fixture, whose
  neighborhoods are barely separated (top-5 cosine 0.34-0.45 vs p99
  0.29) — at that geometry recall measures fixture noise, not index
  quality.  Planted: 10 true near neighbors at cosine ≈ 0.9+ per probe
  query.  Record: X57_SWEEP_r7.json.
- x84: x84_hard_negatives AT THE REGISTERED DEFAULTS.  VERDICT r8 marked
  x84 `weak`: on the base fixture every anchor's margin is NEGATIVE
  (labels are uncorrelated with cosine neighborhoods), so the operator
  passes its oracle but nothing demonstrates it MINES.  Planted: 10
  same-label near neighbors at cosine ≈ 0.9+ per anchor.  The planted
  run must match the DuckDB oracle (parity on non-degenerate geometry
  too) and have every margin POSITIVE, or the sweep exits 1; base
  documents the degenerate baseline.  Record: X84_SWEEP_r9.json.
- x103: JL-projection recall-vs-wall-clock over out_dim x
  (min_shortlist, frac_div) through jl_ann_recall.  VERDICT r10 item 5:
  the registered knobs (16, max(25, n/10)) reported recall@5 =
  [0.8, 0, 0.8] at sf0.1 — JL-16 loses one noise-floor query entirely.
  Record: X103_SWEEP.json, the artifact behind the registered defaults.

Usage: python scripts/planted_sweep.py {x57,x84,x103} [sf]
       (default sf 0.1 → 2000 vectors)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from typing import Callable, NamedTuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from fanstats_producer_spark import registry
from fanstats_producer_spark.operators import similarity
from fanstats_producer_spark.session import get_spark
from scripts.check_oracle import TESTDATA, connect, fetch
from scripts.gen_sf import generate

registry.load_all()


class Sweep(NamedTuple):
    planted: dict  # gen_sf.generate option that plants the geometry
    fixture: str  # planted fixture's directory under localdata/, by sf
    order: tuple[str, ...]  # fixtures in record order
    knobs: tuple[str, ...]
    grid: list[tuple]
    run: Callable  # (spark, sf_dir, *point) -> record fields
    time_field: str
    out: str  # record file under the checkout root
    record: Callable  # (sf, rows, fixture dirs) -> the JSON record


def _x57(spark, sf_dir: str, n_probe: int, shortlist: int, m: int) -> dict:
    rows = similarity.ivfpq_recall(spark, sf_dir, n_probe, shortlist, m).collect()
    return {"recall": round(sum(r.recall_e6 for r in rows) / (1e6 * len(rows)), 4)}


def _x103(spark, sf_dir: str, out_dim: int, min_sl: int, frac_div: int) -> dict:
    rows = similarity.jl_ann_recall(
        spark, sf_dir, out_dim=out_dim, min_shortlist=min_sl, frac_div=frac_div
    ).collect()
    per_q = {int(r.query_id): r.recall_e6 / 1e6 for r in rows}
    mean = sum(per_q.values()) / len(per_q) if per_q else 0.0
    return {"mean_recall": round(mean, 4), "per_query": per_q}


_X84_COLS = ("query_id", "pos_id", "pos_sim_e6", "neg_id", "neg_sim_e6", "margin_e6")


def _by_query(rows) -> list[dict]:
    return sorted(
        ({c: r[c] for c in _X84_COLS} for r in rows), key=lambda d: d["query_id"]
    )


def _x84(spark, sf_dir: str) -> dict:
    rows = similarity.x84_hard_negatives(spark, sf_dir).collect()
    return {"anchors": _by_query(rows)}


def _x84_record(sf: float, rows: list[dict], dirs: dict) -> dict:
    fixtures = {}
    for row in rows:
        anchors = row["anchors"]
        entry = {"dir": dirs[row["fixture"]], "sec": row["sec"], "anchors": anchors}
        if row["fixture"] == "planted":
            con = connect(dirs["planted"])
            try:
                cols, want = fetch(con, registry.ORACLE["x84_hard_negatives"])
            finally:
                con.close()
            want = _by_query(dict(zip(cols, r)) for r in want)
            entry["oracle_match"] = want == anchors
            entry["all_margins_positive"] = all(a["margin_e6"] > 0 for a in anchors)
        fixtures[row["fixture"]] = entry
    planted = fixtures.get("planted", {})
    ok = planted.get("oracle_match") and planted.get("all_margins_positive")
    return {
        "sf": sf,
        "planted_margins": SWEEPS["x84"].planted["planted_margins"],
        "fixtures": fixtures,
        "pass": bool(ok),
    }


SWEEPS = {
    "x57": Sweep(
        planted={"planted_neighbors": 10},
        fixture="planted{sf:g}",
        order=("planted", "base"),
        knobs=("n_probe", "shortlist", "m"),
        # the knobs' defaults were (5, 100, 16) when this grid was set
        grid=[
            (1, 100, 16),
            (3, 100, 16),
            (5, 100, 16),
            (8, 100, 16),
            (10, 100, 16),
            (5, 25, 16),
            (5, 50, 16),
            (5, 200, 16),
            (5, 100, 8),
            (5, 100, 32),
            (10, 200, 32),
        ],
        run=_x57,
        time_field="sec",
        out="X57_SWEEP_r7.json",
        record=lambda sf, rows, dirs: {
            "note": f"x57 IVF+PQ recall-vs-cost sweep (scripts/planted_sweep.py"
            f" x57, sf{sf:g}, planted = 10 true neighbors cosine~0.9 per"
            " probe query)",
            "grid": rows,
        },
    ),
    "x84": Sweep(
        planted={"planted_margins": 10},
        fixture="margins{sf:g}_m10",
        order=("planted", "base"),
        knobs=(),
        grid=[()],  # the registered defaults only
        run=_x84,
        time_field="sec",
        out="X84_SWEEP_r9.json",
        record=_x84_record,
    ),
    "x103": Sweep(
        planted={"planted_neighbors": 10},
        fixture="planted{sf:g}",
        order=("base", "planted"),
        knobs=("out_dim", "min_shortlist", "frac_div"),
        # registered: (16, 25, 10)
        grid=[
            (8, 25, 10),
            (16, 25, 10),
            (24, 25, 10),
            (32, 25, 10),
            (16, 50, 10),
            (16, 100, 10),
            (16, 200, 10),
            (16, 25, 5),
            (24, 100, 10),
            (32, 100, 10),
            (32, 200, 5),
        ],
        run=_x103,
        time_field="wall_s",
        out="X103_SWEEP.json",
        record=lambda sf, rows, dirs: {"sf": sf, "results": rows},
    ),
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("key", choices=sorted(SWEEPS))
    ap.add_argument("sf", nargs="?", type=float, default=0.1)
    args = ap.parse_args()
    sweep = SWEEPS[args.key]

    spark = get_spark(f"{args.key}-sweep")
    dirs = {
        "planted": os.path.join(ROOT, "localdata", sweep.fixture.format(sf=args.sf)),
        "base": os.path.join(TESTDATA, f"sf{args.sf:g}"),
    }
    # ALWAYS regenerate (seconds at sweep SFs): an existence check would
    # silently reuse a fixture generated with a different planted count
    # or an older gen_sf, recording a pass against stale geometry
    generate(args.sf, dirs["planted"], **sweep.planted)

    rows = []
    for fixture in sweep.order:
        sf_dir = dirs[fixture]
        if not os.path.exists(os.path.join(sf_dir, "embeddings.parquet")):
            print(f"-- skip {fixture}: {sf_dir} missing")
            continue
        for point in sweep.grid:
            t0 = time.time()
            fields = sweep.run(spark, sf_dir, *point)
            row = {
                "fixture": fixture,
                **dict(zip(sweep.knobs, point)),
                **fields,
                sweep.time_field: round(time.time() - t0, 2),
            }
            rows.append(row)
            print(json.dumps(row))

    record = sweep.record(args.sf, rows, dirs)
    out = os.path.join(ROOT, sweep.out)
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1)
    print(f"wrote {out}")
    return 0 if record.get("pass", True) else 1


if __name__ == "__main__":
    sys.exit(main())

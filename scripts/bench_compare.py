"""Compare two bench.py JSON outputs and flag per-query regressions.

Usage: python scripts/bench_compare.py OLD.json NEW.json [--pct 30] [--abs 0.3]

A query is flagged only when it slowed by BOTH more than --pct percent and
more than --abs seconds — the double threshold keeps the sub-second
scheduling-floor noise (±30% run-to-run on local[32]) from drowning real
regressions.  Exit code 1 if any regression is flagged, so the check can
gate CI.  New/removed keys are reported informationally.

When both records carry the fixed-cost "sentinel" block (bench.py times
constant-input probes every run), the OLD side is scaled by the measured
host-speed drift before comparing — so flags mean code changes, not host
weather (r7 carried a +2% caveat, r8 +13%; this removes the caveat).
Printed old-side values are the drift-ADJUSTED baselines in that mode;
--no-drift-norm compares raw.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--pct", type=float, default=30.0)
    ap.add_argument("--abs", dest="abs_s", type=float, default=0.3)
    ap.add_argument(
        "--no-drift-norm",
        action="store_true",
        help="compare raw numbers even when both records carry sentinels",
    )
    ap.add_argument(
        "--envelope",
        default=None,
        help="noise-envelope JSON from scripts/bench_pool.py --envelope"
        " (VERDICT r13 item 8): a flagged regression whose NEW value"
        " lies at or under the envelope's per-key max (drift-scaled) is"
        " downgraded to 'within noise envelope' instead of failing the"
        " comparison — single cold runs stop generating false flags",
    )
    args = ap.parse_args()

    with open(args.old) as f:
        old = json.load(f)
    with open(args.new) as f:
        new = json.load(f)

    # The driver line's per-query values switched to integer units in
    # round 7 (self-described by "queries_unit": centisec/decisec;
    # BENCH_FULL/BENCH_LOCAL records carry float seconds and no unit
    # field).  Normalize BOTH sides to seconds so deltas and the --abs
    # threshold always mean seconds regardless of which era/format each
    # file comes from.
    _SCALE = {"centisec": 100.0, "decisec": 10.0, None: 1.0, "sec": 1.0}

    def _qz_decode(rec: dict) -> dict | None:
        """Round-11+ driver lines carry ALL per-key values as "qz": 3
        base36 digits per key (centiseconds), keys in sorted-registry
        order, with "qzk" = sha256[:8] of the newline-joined key list.
        The key list rides in full records as "qz_keys"; a slim driver
        line omits it, so re-derive from the current registry and accept
        only when the fingerprint matches (a changed key set must not
        decode positionally against the wrong names)."""
        qz = rec.get("qz")
        if not qz or rec.get("qzu") != "centisec_b36w3":
            return None
        keys = rec.get("qz_keys")
        if keys is None:
            try:
                from fanstats_producer_spark import registry

                registry.load_all()
                cand = sorted(registry.QUERIES)
                fp = hashlib.sha256(
                    "\n".join(cand).encode()
                ).hexdigest()[:8]
                if fp == rec.get("qzk"):
                    keys = cand
            except Exception:
                return None
        if keys is None or len(qz) != 3 * len(keys):
            return None
        def _val(code: str) -> float:
            cs = int(code, 36)
            # 'zzz' is the reserved overflow sentinel (bench.py clamps
            # there): decode to +inf so a key past the clamp is flagged
            # as a regression instead of silently reading 466.55 s
            return float("inf") if cs >= 36**3 - 1 else cs / 100.0

        return {
            k: _val(qz[3 * i : 3 * i + 3]) for i, k in enumerate(keys)
        }

    def _in_seconds(rec: dict) -> dict:
        unit = rec.get("queries_unit")
        scale = _SCALE.get(unit)
        if scale is None:
            raise SystemExit(
                f"bench_compare: unknown queries_unit {unit!r} — add it"
                f" to _SCALE (known: {sorted(k for k in _SCALE if k)})"
            )
        q = {k: v / scale for k, v in rec.get("queries", {}).items()}
        if "qz" in rec:
            # a qz block always carries FULL per-key fidelity — prefer a
            # successful decode whenever one is present.  Gating this on
            # queries_truncated_to being truthy (pre-r12) skipped the
            # decode exactly in bench.py's final overflow fallback, which
            # emits queries_truncated_to: 0 with an empty queries map
            # (ADVICE r11).
            full = _qz_decode(rec)
            if full:
                # Overlay the float queries map on top of the decode
                # (ADVICE r12): qz clamps keys past 'zzz' (466.55 s) to
                # +inf, so two clamped records compare inf-vs-inf and a
                # real regression of an already-clamped key is invisible
                # even though exact values sit under "queries".  The
                # float map always wins where present — it is complete
                # full-fidelity seconds in BENCH_FULL records and the
                # top-N (which contains any clamped key) in driver lines.
                full.update(q)
                return full
        return q

    oq, nq = _in_seconds(old), _in_seconds(new)

    # Pool-depth sanity (VERDICT r12 item 5): per-key minima from pools
    # of different depths are not comparable — a 6-run pool's min sits
    # systematically below a 2-run pool's, which reads as ~+20% "drift"
    # across records.  Warn loudly when the depths differ.
    op, np_ = old.get("pool_depth"), new.get("pool_depth")
    if op is not None and np_ is not None and op != np_:
        print(
            f"WARNING: pool depths differ (old={op} new={np_}) — per-key"
            f" minima are not comparable across depths; deltas below are"
            f" partly pool-depth artifact"
        )

    # Drift normalization (VERDICT r8 item 7): both records may carry a
    # "sentinel" block — fixed-cost constant-input probes timed alongside
    # the run (bench.py).  The ratio new/old per probe measures HOST
    # speed change between sessions, independent of code changes; scale
    # the OLD per-key numbers by the matching ratio so flagged deltas are
    # code regressions, not host weather.  Stream-drain-floored keys
    # normalize by the drain probe, everything else by the agg probe.
    drift_agg = drift_drain = drift_py = 1.0
    py_keys: set[str] = set()
    os_, ns_ = old.get("sentinel"), new.get("sentinel")
    if os_ and ns_ and not args.no_drift_norm:
        if os_.get("spark_agg_s") and ns_.get("spark_agg_s"):
            drift_agg = ns_["spark_agg_s"] / os_["spark_agg_s"]
        if os_.get("stream_drain_s") and ns_.get("stream_drain_s"):
            drift_drain = ns_["stream_drain_s"] / os_["stream_drain_s"]
        # Python-worker sentinel (VERDICT r12 item 2): codec/BLAS/UDF
        # cells are dominated by python batch workers, whose speed the
        # JVM/drain/duckdb probes don't see — the x96 class.  Normalize
        # the keys either record declares python-worker-bound (union, so
        # a key gains the treatment as soon as one side knows about it).
        if os_.get("py_worker_s") and ns_.get("py_worker_s"):
            drift_py = ns_["py_worker_s"] / os_["py_worker_s"]
            py_keys = set(old.get("py_worker_keys") or []) | set(
                new.get("py_worker_keys") or []
            )
        print(
            f"sentinel drift: agg x{drift_agg:.3f}"
            f" drain x{drift_drain:.3f}"
            + (
                f" duckdb x{ns_['duckdb_cpu_s'] / os_['duckdb_cpu_s']:.3f}"
                if os_.get("duckdb_cpu_s") and ns_.get("duckdb_cpu_s")
                else ""
            )
            + (
                f" py_worker x{drift_py:.3f} ({len(py_keys)} keys)"
                if py_keys
                else ""
            )
            + " (old-side per-key baselines scaled accordingly)"
        )

    def _drift_for(key: str) -> float:
        if key in py_keys:
            return drift_py
        return drift_drain if key.startswith("s") else drift_agg

    added = sorted(set(nq) - set(oq))
    removed = sorted(set(oq) - set(nq))
    both = sorted(set(oq) & set(nq))

    # Optional per-key noise envelope (VERDICT r13 item 8): when the
    # new value of a would-be regression sits at or under the max this
    # round's pool observed for the key (scaled by the same sentinel
    # drift between the envelope's runs and the NEW record), the flag
    # is noise by construction — the pool itself produced such a value
    # with identical code.
    env_max: dict[str, float] = {}
    env_drift: dict[str, float] = {}
    if args.envelope:
        with open(args.envelope) as f:
            env = json.load(f)
        env_max = {
            k: v["max"] for k, v in env.get("per_key", {}).items()
        }
        sents = env.get("sentinel_per_run") or []
        if sents and ns_:
            import statistics as _st

            med = {
                p: _st.median(s[p] for s in sents if p in s)
                for p in sents[0]
            }

            def _env_drift(key: str) -> float:
                probe = (
                    "stream_drain_s"
                    if key.startswith("s")
                    else "spark_agg_s"
                )
                if med.get(probe) and ns_.get(probe):
                    return ns_[probe] / med[probe]
                return 1.0

            env_drift = {k: _env_drift(k) for k in env_max}

    regressions, improvements, in_envelope = [], [], []
    for k in both:
        base = oq[k] * _drift_for(k)
        delta = nq[k] - base
        pct = 100.0 * delta / base if base else float("inf")
        if delta > args.abs_s and pct > args.pct:
            cap = env_max.get(k)
            if cap is not None and nq[k] <= cap * env_drift.get(k, 1.0):
                in_envelope.append((k, base, nq[k], pct))
            else:
                regressions.append((k, base, nq[k], pct))
        elif -delta > args.abs_s and -pct > args.pct:
            improvements.append((k, base, nq[k], pct))

    # keep the header reconcilable with the drift-adjusted per-key
    # lines below: show what the old total WOULD be on this host
    adj = ""
    if drift_agg != 1.0 or drift_drain != 1.0:
        adj_total = sum(oq[k] * _drift_for(k) for k in oq)
        adj = f" (old drift-adjusted: {adj_total:.1f} s)"
    print(
        f"total: {old.get('value')} -> {new.get('value')} s{adj} "
        f"({len(both)} shared, +{len(added)} new, -{len(removed)} removed)"
    )
    for label, rows in (
        ("REGRESSED", regressions),
        ("improved", improvements),
        ("in-envelope", in_envelope),
    ):
        for k, a, b, pct in rows:
            print(f"  {label:11s} {k:32s} {a:7.2f} -> {b:7.2f}  ({pct:+.0f}%)")
    if added:
        print("  new keys:", ", ".join(added))
    if removed:
        print("  removed keys:", ", ".join(removed))
    return 1 if regressions else 0


if __name__ == "__main__":
    sys.exit(main())

"""Reference output fingerprints for the query workloads.

A fingerprint is the row count plus a SHA-256 over the rows in canonical
form, by ``scripts/check_oracle.canon_rows``: columns sorted by name,
floats at nine significant digits, rows sorted.  References come
from the DuckDB oracle (``registry.ORACLE``) over the benchmark's fixture;
keys without an oracle pin their Spark row count only.

Regenerate after changing a workload's keys or the fixture:

    python3 perfbench/fingerprints.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fingerprints.json")


def fingerprint(cols, rows, hashed: bool = True) -> dict:
    from scripts.check_oracle import canon_rows

    names, canon = canon_rows(list(cols), rows)
    fp: dict = {"rows": len(canon)}
    if hashed:
        h = hashlib.sha256("\x1e".join(names).encode())
        for row in canon:
            h.update(b"\n" + "\x1f".join(row).encode())
        fp["sha256"] = h.hexdigest()
    return fp


def spark_fingerprint(df, hashed: bool) -> dict:
    rows = [tuple(r) for r in df.collect()]
    return fingerprint(df.columns, rows, hashed)


def load(path: str = PATH) -> dict:
    with open(path) as fh:
        return json.load(fh)


def mismatch(expected: dict | None, got: dict) -> str | None:
    """None when ``got`` matches the reference, else a one-line reason."""
    if expected is None:
        return "no reference fingerprint"
    for field in ("rows", "sha256"):
        if field in expected and expected[field] != got.get(field):
            return f"{field}: expected {expected[field]}, got {got.get(field)}"
    return None


def main() -> int:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    import duckdb

    from fanstats_producer_spark import registry
    from fanstats_producer_spark.io import TABLES
    from fanstats_producer_spark.session import get_spark
    from perfbench.workloads import SF, WORKLOADS, ensure_fixture

    registry.load_all()
    work = os.path.join(root, ".bench_build", "perfbench")
    keys = sorted(k for w in WORKLOADS.values() for k in w.keys)
    spark = get_spark("perfbench-fingerprints")
    out, bad = {}, 0
    for sf in (SF, 0.001):
        sf_dir, _ = ensure_fixture(work, sf)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        refs = {}
        for key in keys:
            got = spark_fingerprint(registry.QUERIES[key](spark, sf_dir), hashed=True)
            if key in registry.ORACLE:
                res = con.execute(registry.ORACLE[key])
                refs[key] = fingerprint([d[0] for d in res.description], res.fetchall())
            else:
                refs[key] = {"rows": got["rows"]}
            why = mismatch(refs[key], got)
            bad += why is not None
            print(f"{'FAIL' if why else 'ok  '} sf{sf} {key}: {why or refs[key]}", file=sys.stderr)
        out[str(sf)] = refs
        con.close()
    spark.stop()
    with open(PATH, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())

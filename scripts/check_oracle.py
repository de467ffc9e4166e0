"""Local mirror of the driver's correctness gate: run every registered
query on Spark and its DuckDB oracle side-by-side, compare row count,
column names, and order-insensitive canonical values.

Also what the other scripts share: `connect` (a DuckDB view per
fixture table) and `canon_rows` (the order-insensitive row form).

Usage: python scripts/check_oracle.py [sf_dir] [key ...]
       python scripts/check_oracle.py --types
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from fanstats_producer_spark import registry
from fanstats_producer_spark.io import TABLES
from fanstats_producer_spark.session import get_spark

registry.load_all()

# the read-only sf0.001/sf0.01/sf0.1 fixtures (TESTDATA.md)
TESTDATA = "/root/testdata"


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per fixture table of sf_dir."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def fetch(con: duckdb.DuckDBPyConnection, sql: str):
    """(columns, rows) of one query."""
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def canon_value(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(v)
    return repr(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_value(r[i]) for i in order) for r in rows]
    out.sort()
    return [c for _, c in sorted(enumerate(cols), key=lambda t: t[1])], out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(TESTDATA, "sf0.01")
    keys = sys.argv[2:] or sorted(registry.QUERIES)
    spark = get_spark("oracle-check")
    con = connect(sf_dir)

    failures = 0
    for key in keys:
        fn = registry.QUERIES[key]
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL  {key}: spark error")
            traceback.print_exc()
            failures += 1
            continue
        spark_sec = time.time() - t0
        if key not in registry.ORACLE:
            print(f"rows  {key}: {len(s_rows)} rows (rows-only, {spark_sec:.1f}s)")
            continue
        try:
            d_cols, d_rows = fetch(con, registry.ORACLE[key])
        except Exception:
            print(f"FAIL  {key}: duckdb error")
            traceback.print_exc()
            failures += 1
            continue
        sc, sr = canon_rows(s_cols, s_rows)
        dc, dr = canon_rows(d_cols, d_rows)
        if sc != dc:
            print(f"FAIL  {key}: columns spark={sc} duckdb={dc}")
            failures += 1
        elif len(sr) != len(dr):
            print(f"FAIL  {key}: rowcount spark={len(sr)} duckdb={len(dr)}")
            failures += 1
        elif sr != dr:
            bad = next(i for i, (a, b) in enumerate(zip(sr, dr)) if a != b)
            print(f"FAIL  {key}: values differ at sorted-row {bad}:")
            print(f"      spark : {sr[bad]}")
            print(f"      duckdb: {dr[bad]}")
            failures += 1
        else:
            print(f"OK    {key}: {len(sr)} rows ({spark_sec:.1f}s)")
    print(f"\n{len(keys) - failures}/{len(keys)} passed")
    return 1 if failures else 0


def audit_types() -> int:
    """--types: assert Spark output dtypes equal DuckDB oracle dtypes
    (the driver may compare schemas strictly; int32-vs-int64 drift is a
    silent correctness failure waiting to happen)."""
    sf_dir = os.path.join(TESTDATA, "sf0.01")
    spark = get_spark("type-audit")
    con = connect(sf_dir)
    dmap = {
        "BIGINT": "bigint", "INTEGER": "int", "DOUBLE": "double",
        "VARCHAR": "string", "DATE": "date", "BOOLEAN": "boolean",
        "FLOAT": "float", "TIMESTAMP": "timestamp",
    }
    bad = 0
    for key in sorted(registry.ORACLE):
        sdf = registry.QUERIES[key](spark, sf_dir)
        stypes = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
        desc = con.execute(
            f"DESCRIBE SELECT * FROM ({registry.ORACLE[key]})"
        ).fetchall()
        dtypes = {r[0]: r[1] for r in desc}
        for col, st in stypes.items():
            dt = dtypes.get(col)
            if dt is None:
                print(f"TYPE  {key}.{col}: missing in oracle")
                bad += 1
            elif dmap.get(dt, dt.lower()) != st:
                print(f"TYPE  {key}.{col}: spark={st} duckdb={dt}")
                bad += 1
    print(f"type audit: {bad} mismatches")
    return 1 if bad else 0


if __name__ == "__main__":
    if "--types" in sys.argv:
        raise SystemExit(audit_types())
    raise SystemExit(main())

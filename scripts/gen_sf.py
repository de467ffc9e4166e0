"""Local fixture generator for scale factors the driver does not ship
(the driver provides read-only sf0.001/0.01/0.1 under /root/testdata;
TESTDATA.md forbids touching them).  Used for the sf1 scaling-trend
probe in BASELINE.md: same schemas, key ranges, value domains, and
duplicate structure as the driver fixture (measured off sf0.1 —
distributions documented inline), sizes scaled linearly.

This is NOT the driver's generator (its source is not in the sandbox):
absolute values differ, so sf1 numbers are comparable across ENGINES
and across SFs for trend purposes, not row-for-row with driver SFs.

Usage: python scripts/gen_sf.py <sf> <out_dir>   (seed fixed at 42)
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch"
).split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECI", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PADJ = ["large", "hot", "blue", "green", "small", "dark", "ivory", "metal"]
PNOUN = ["ring", "bolt", "screw", "washer", "anchor", "plate", "rod", "clip"]
ETYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "de", "zh", "fr", "es"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

US_DAY = 86_400_000_000


def _ts_us(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "us").astype("int64")
    hi = np.datetime64(end, "us").astype("int64")
    return rng.integers(lo, hi, n)


def _write(out, name, cols: dict, schema: pa.Schema) -> None:
    t = pa.table(cols, schema=schema)
    pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    print(f"{name}: {t.num_rows} rows")


def generate(
    sf: float,
    out: str,
    seed: int = 42,
    planted_neighbors: int = 0,
    planted_margins: int = 0,
) -> None:
    """planted_neighbors > 0 plants that many REAL near neighbors (cosine
    ≈ 0.9+) in `embeddings` for each of the three x57 probe queries
    (vec_id 16-18): the base fixture's neighborhoods are barely
    separated (top-5 cosine 0.34-0.45 vs p99 0.29 — VERDICT r6), so
    ANN recall on it measures noise, not the index.  Planted ids start
    at 64 (clear of the query/seed/codebook layout [16, 61)).

    planted_margins > 0 plants that many SAME-LABEL near neighbors
    (cosine ≈ 0.9+, label forced to the anchor's) for each of the three
    x84 anchor queries (vec_id 16-18): the base fixture's labels are
    uncorrelated with cosine neighborhoods (VERDICT r8 — every anchor's
    hard-negative margin is NEGATIVE there), so mining quality on it
    measures label noise, not the miner.  With a genuinely-close
    positive planted, x84's margin must recover POSITIVE (the natural
    impostor ceiling is ~0.45 cosine vs the planted ~0.9)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)

    _write(
        out,
        "region",
        {"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS},
        pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    )
    _write(
        out,
        "nation",
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        },
        pa.schema(
            [
                ("n_nationkey", pa.int32()),
                ("n_name", pa.string()),
                ("n_regionkey", pa.int32()),
            ]
        ),
    )

    ncust = int(150_000 * sf)
    _write(
        out,
        "customer",
        {
            "c_custkey": np.arange(ncust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(ncust)],
            "c_nationkey": rng.integers(0, 25, ncust).astype("int32"),
            "c_acctbal": np.round(rng.uniform(-1000, 10000, ncust), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, ncust)],
        },
        pa.schema(
            [
                ("c_custkey", pa.int64()),
                ("c_name", pa.string()),
                ("c_nationkey", pa.int32()),
                ("c_acctbal", pa.float64()),
                ("c_mktsegment", pa.string()),
            ]
        ),
    )

    nsupp = int(10_000 * sf)
    _write(
        out,
        "supplier",
        {
            "s_suppkey": np.arange(nsupp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(nsupp)],
            "s_nationkey": rng.integers(0, 25, nsupp).astype("int32"),
            "s_acctbal": np.round(rng.uniform(-1000, 10000, nsupp), 2),
        },
        pa.schema(
            [
                ("s_suppkey", pa.int64()),
                ("s_name", pa.string()),
                ("s_nationkey", pa.int32()),
                ("s_acctbal", pa.float64()),
            ]
        ),
    )

    npart = int(200_000 * sf)
    pk = np.arange(npart, dtype="int64")
    _write(
        out,
        "part",
        {
            "p_partkey": pk,
            "p_name": [
                f"{PADJ[i % 8]} {PNOUN[(i // 8) % 8]}" for i in range(npart)
            ],
            "p_brand": [f"Brand#{1 + i % 25}" for i in range(npart)],
            "p_type": np.array(PTYPES)[rng.integers(0, 6, npart)],
            "p_size": rng.integers(1, 51, npart).astype("int32"),
            # the fixture's exact pattern: 900.0 + (key % 1000)/10
            "p_retailprice": 900.0 + (pk % 1000) / 10.0,
        },
        pa.schema(
            [
                ("p_partkey", pa.int64()),
                ("p_name", pa.string()),
                ("p_brand", pa.string()),
                ("p_type", pa.string()),
                ("p_size", pa.int32()),
                ("p_retailprice", pa.float64()),
            ]
        ),
    )

    nord = int(1_500_000 * sf)
    _write(
        out,
        "orders",
        {
            "o_orderkey": np.arange(nord, dtype="int64"),
            "o_custkey": rng.integers(0, ncust, nord),
            "o_orderstatus": np.array(["O", "P", "F"])[
                rng.integers(0, 3, nord)
            ],
            "o_totalprice": np.round(rng.uniform(1000, 500_000, nord), 2),
            "o_orderdate": (
                _ts_us(rng, nord, "1995-01-01", "2001-08-01") // US_DAY
            )
            * US_DAY,
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, nord)],
        },
        pa.schema(
            [
                ("o_orderkey", pa.int64()),
                ("o_custkey", pa.int64()),
                ("o_orderstatus", pa.string()),
                ("o_totalprice", pa.float64()),
                ("o_orderdate", pa.timestamp("us")),
                ("o_orderpriority", pa.string()),
            ]
        ),
    )

    nli = int(6_000_000 * sf)
    _write(
        out,
        "lineitem",
        {
            "l_orderkey": rng.integers(0, nord, nli),
            "l_partkey": rng.integers(0, npart, nli),
            "l_suppkey": rng.integers(0, nsupp, nli),
            "l_linenumber": rng.integers(1, 8, nli).astype("int32"),
            "l_quantity": rng.integers(1, 51, nli).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, nli), 2),
            "l_discount": rng.integers(0, 11, nli) / 100.0,
            "l_tax": rng.integers(0, 9, nli) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nli)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nli)],
            "l_shipdate": (
                _ts_us(rng, nli, "1995-01-02", "2001-11-04") // US_DAY
            )
            * US_DAY,
        },
        pa.schema(
            [
                ("l_orderkey", pa.int64()),
                ("l_partkey", pa.int64()),
                ("l_suppkey", pa.int64()),
                ("l_linenumber", pa.int32()),
                ("l_quantity", pa.float64()),
                ("l_extendedprice", pa.float64()),
                ("l_discount", pa.float64()),
                ("l_tax", pa.float64()),
                ("l_returnflag", pa.string()),
                ("l_linestatus", pa.string()),
                ("l_shipdate", pa.timestamp("us")),
            ]
        ),
    )

    nev = int(1_000_000 * sf)
    nuser = int(15_000 * sf)
    _write(
        out,
        "events",
        {
            "event_id": np.arange(nev, dtype="int64"),
            "ts": _ts_us(rng, nev, "2024-01-01", "2024-01-31"),
            "user_id": rng.integers(0, max(nuser, 1), nev),
            "event_type": np.array(ETYPES)[rng.integers(0, 5, nev)],
            "value": np.round(rng.uniform(0, 520, nev), 2),
            "props": [
                json.dumps({"k": int(k)}) for k in rng.integers(0, 100, nev)
            ],
        },
        pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        ),
    )

    # documents: vocab text, ~5% near-dups (copy of an earlier doc with
    # one token replaced by the out-of-vocab marker 'dup'), ~0.16% exact
    # dups — the sf0.1 structure (255 'dup' tokens, 8/5000 exact copies).
    ndoc = int(50_000 * sf)
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, ndoc)
    texts: list[str] = []
    for i in range(ndoc):
        toks = vocab[rng.integers(0, len(vocab), lens[i])]
        texts.append(" ".join(toks))
    n_near = int(round(ndoc * 0.051))
    near_ids = rng.choice(np.arange(1, ndoc), size=n_near, replace=False)
    for i in near_ids:
        src = int(rng.integers(0, i))
        toks = texts[src].split(" ")
        toks[int(rng.integers(0, len(toks)))] = "dup"
        texts[int(i)] = " ".join(toks)
    n_exact = max(int(round(ndoc * 0.0016)), 1)
    exact_ids = rng.choice(
        np.setdiff1d(np.arange(1, ndoc), near_ids), size=n_exact, replace=False
    )
    for i in exact_ids:
        src = int(rng.integers(0, i))
        texts[int(i)] = texts[src]
    _write(
        out,
        "documents",
        {
            "doc_id": np.arange(ndoc, dtype="int64"),
            "text": texts,
            "lang": np.array(LANGS)[
                rng.choice(5, size=ndoc, p=LANG_P)
            ],
            "source": [f"src{i % 20}" for i in range(ndoc)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        },
        pa.schema(
            [
                ("doc_id", pa.int64()),
                ("text", pa.string()),
                ("lang", pa.string()),
                ("source", pa.string()),
                ("n_chars", pa.int64()),
            ]
        ),
    )

    # embeddings: 64-dim float32, 10 labeled clusters, unit-normalized
    nvec = int(20_000 * sf)
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, nvec)
    vecs = centers[labels] * 0.8 + rng.normal(size=(nvec, 64)) * 0.35
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    if planted_neighbors > 0:
        # near-copies of each probe query, scattered through the corpus
        # above the reserved id layout; noise scale 0.22 lands cosine
        # ≈ 0.90-0.95 — unambiguous nearest neighbors
        free = np.arange(64, nvec)
        if len(free) < 3 * planted_neighbors:
            raise ValueError(
                f"planted_neighbors={planted_neighbors} needs at least"
                f" {64 + 3 * planted_neighbors} embedding vectors, but"
                f" sf={sf} yields only {nvec}; lower planted_neighbors"
                " or raise sf"
            )
        picks = rng.choice(free, size=3 * planted_neighbors, replace=False)
        for qi, q in enumerate((16, 17, 18)):
            for pid in picks[qi * planted_neighbors:(qi + 1) * planted_neighbors]:
                nb = vecs[q] + rng.normal(size=64) * 0.22
                vecs[pid] = nb / np.linalg.norm(nb)
    if planted_margins > 0:
        # SAME-LABEL planted positives for the x84 anchors — disjoint
        # from any planted_neighbors ids so both arms can coexist
        taken = set(picks.tolist()) if planted_neighbors > 0 else set()
        free = np.array(
            [i for i in range(64, nvec) if i not in taken], dtype="int64"
        )
        if len(free) < 3 * planted_margins:
            raise ValueError(
                f"planted_margins={planted_margins} needs"
                f" {3 * planted_margins} free embedding ids above 64,"
                f" but sf={sf} leaves only {len(free)}; lower"
                " planted_margins or raise sf"
            )
        mpicks = rng.choice(free, size=3 * planted_margins, replace=False)
        for qi, q in enumerate((16, 17, 18)):
            for pid in mpicks[qi * planted_margins:(qi + 1) * planted_margins]:
                nb = vecs[q] + rng.normal(size=64) * 0.22
                vecs[pid] = nb / np.linalg.norm(nb)
                labels[pid] = labels[q]
    vecs = vecs.astype("float32")
    _write(
        out,
        "embeddings",
        {
            "vec_id": np.arange(nvec, dtype="int64"),
            "embedding": list(vecs),
            "label": labels.astype("int32"),
        },
        pa.schema(
            [
                ("vec_id", pa.int64()),
                ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32()),
            ]
        ),
    )


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit("usage: python scripts/gen_sf.py <sf> <out_dir>")
    generate(float(sys.argv[1]), sys.argv[2])

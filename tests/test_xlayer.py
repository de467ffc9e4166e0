"""X-layer semantics tests (SURVEY.md §5.5): approximate methods vs
exact baselines, operator properties (idempotence, symmetry), and the
multimodal plumbing.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from conftest import SF_DIR

from fanstats_producer_spark.io import load
from fanstats_producer_spark.operators import multimodal, similarity
from fanstats_producer_spark.operators.asof import asof_join
from fanstats_producer_spark.operators.dedup import (
    _simhash64,
    jaccard_pairs,
    minhash_lsh_pairs,
    with_shingles,
)
from fanstats_producer_spark.operators.multimodal import extract_features, with_payload


# --- near-dup corpus with planted duplicates ------------------------------------
@pytest.fixture(scope="module")
def planted(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base),  # exact dup
        (3, base.replace("today", "tomorrow")),  # near dup (1 token of 13)
        (4, "completely different words about spark query engines at scale"),
        (5, "another unrelated document mentioning hash joins and shuffles"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_jaccard_finds_planted_dups(spark, planted):
    pairs = {(r.id_a, r.id_b): r.jaccard_e6 for r in jaccard_pairs(planted, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1_000_000
    assert (1, 3) in pairs and pairs[(1, 3)] >= 500_000
    assert all(a not in (4, 5) and b != 4 for a, b in pairs)


def test_minhash_lsh_recall_vs_exact(spark):
    """MinHash candidates must cover every exact pair at the distance
    threshold (recall check on the fixture corpus)."""
    docs = load(spark, SF_DIR, "documents")
    exact = {(r.id_a, r.id_b) for r in jaccard_pairs(docs, threshold=0.6).collect()}
    lsh_pairs, feats = minhash_lsh_pairs(spark, docs, jaccard_distance=0.4)
    approx = {(r.id_a, r.id_b) for r in lsh_pairs.collect()}
    feats.unpersist()
    assert exact, "fixture should contain near-dups at 0.6"
    missed = exact - approx
    assert len(missed) / len(exact) <= 0.2  # ≥80% recall with 8 tables


def test_dedup_idempotence(spark, planted):
    """Property (SURVEY.md §5.5): dedup twice == dedup once."""
    once = planted.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    twice = once.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_simhash_locality():
    """Near-identical token lists → small Hamming distance; unrelated →
    large."""
    a = _simhash64("the quick brown fox jumps over the lazy dog".split())
    b = _simhash64("the quick brown fox jumps over the lazy cat".split())
    c = _simhash64("completely unrelated content about databases".split())
    ham = lambda x, y: bin((x ^ y) & ((1 << 64) - 1)).count("1")  # noqa: E731
    assert ham(a, b) < ham(a, c)
    assert ham(a, a) == 0


def test_shingles_short_docs(spark):
    df = spark.createDataFrame(
        [(1, "one two"), (2, "one two three"), (3, "a b c d")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.shingles for r in with_shingles(df).collect()}
    assert got[1] == []
    assert got[2] == ["one two three"]
    assert got[3] == ["a b c", "b c d"]


# --- similarity ------------------------------------------------------------------
def test_ivf_recall_vs_brute_force(spark):
    """IVF mechanism check: probing all 10 lists IS brute force; recall
    improves monotonically with n_probe and beats the random-scan
    baseline (p/10 of the corpus) at every probe count.  (The fixture's
    clusters overlap heavily, so absolute recall at low n_probe is
    bounded by the data, not the algorithm.)"""
    emb = load(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(emb, queries, k=5, n_probe=10).collect()
    }

    def recall(n_probe):
        a = {
            (r.query_id, r.neighbor_id)
            for r in similarity.ivf_topk(emb, queries, k=5, n_probe=n_probe).collect()
        }
        return len(exact & a) / len(exact)

    r1, r4 = recall(1), recall(4)
    assert r4 > r1  # more probes → more recall
    assert r1 >= 0.10  # beats 1-of-10 random scan baseline
    assert r4 >= 0.40  # beats 4-of-10 random scan baseline


def test_cosine_symmetry(spark):
    """Property: cos(a,b) == cos(b,a)."""
    emb = load(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 20)
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    pairs = a.join(b, F.col("ia") < F.col("ib")).select(
        "ia", "ib",
        similarity.cosine(F.col("va"), F.col("vb")).alias("ab"),
        similarity.cosine(F.col("vb"), F.col("va")).alias("ba"),
    )
    assert pairs.filter(F.col("ab") != F.col("ba")).count() == 0


def test_lsh_simjoin_contains_closest_pairs(spark):
    emb = load(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 100)
    got = {(r.id_a, r.id_b) for r in similarity.lsh_simjoin(emb, 1.3).collect()}
    assert got  # finds some close pairs on clustered fixture data


def test_recall_at_k_matches_its_sql_twin(spark):
    """x50/x57b/x103's recall@k on a hand case, Spark and DuckDB: query 1
    finds 2 of its 3 exact neighbours, query 2 finds none, and the
    approx rows outside the exact set (1->9, 2->7, 2->8) count for
    nothing."""
    import duckdb

    from fanstats_producer_spark.operators.similarity import (
        _recall_at_k,
        _recall_at_k_sql,
    )

    exact = [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21)]
    approx = [(1, 10), (1, 12), (1, 9), (2, 7), (2, 8)]
    schema = "query_id long, neighbor_id long"
    got = _recall_at_k(
        spark.createDataFrame(exact, schema), spark.createDataFrame(approx, schema)
    )
    assert got.columns == ["query_id", "n_hit", "n_exact", "recall_e6"]

    def select(rows):
        return " UNION ALL ".join(
            f"SELECT {q}::BIGINT AS query_id, {n}::BIGINT AS neighbor_id"
            for q, n in rows
        )

    want = duckdb.connect().execute(
        _recall_at_k_sql(select(exact), select(approx))
    ).fetchall()
    assert sorted(tuple(r) for r in got.collect()) == sorted(want)
    assert sorted(want) == [(1, 2, 3, 666_667), (2, 0, 2, 0)]


# --- as-of join -------------------------------------------------------------------
def test_asof_join_picks_latest_prior(spark):
    left = spark.createDataFrame(
        [(1, 100, 10), (1, 200, 11), (2, 150, 12)], "key long, ts long, lid long"
    )
    right = spark.createDataFrame(
        [(1, 90, 900), (1, 100, 901), (1, 150, 902), (2, 151, 903)],
        "key long, ts long, rid long",
    )
    out = asof_join(left, right, on=["key"], left_ts="ts", right_ts="ts",
                    right_values=["ts", "rid"])
    got = {r.lid: r.asof_rid for r in out.collect()}
    assert got[10] == 901  # ts=100: equal timestamps count (<=)
    assert got[11] == 902  # ts=200: latest prior is 150
    assert got[12] is None  # ts=150 for key 2: right row is at 151 (future)


# --- multimodal --------------------------------------------------------------------
def test_multimodal_payload_roundtrip(spark):
    docs = spark.createDataFrame([(1, "hello world", "en")], "doc_id long, text string, lang string")
    out = with_payload(docs).mapInPandas(
        extract_features, schema="doc_id long, n_bytes long, payload_sha string, head_byte int"
    ).collect()[0]
    import hashlib

    assert out.n_bytes == len(b"hello world")
    assert out.payload_sha == hashlib.sha256(b"hello world").hexdigest()
    assert out.head_byte == ord("h")


def test_png_codec_roundtrip_all_filters():
    """The stdlib PNG codec is real: every filter type (encode_png uses
    r % 5) reverses exactly for gray and RGB; palette images resolve
    through PLTE; CRC corruption and Adam7 are rejected."""
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from fanstats_producer_spark.operators.multimodal import (
        _png_chunk,
        decode_image,
        encode_png,
    )

    rng = np.random.RandomState(7)
    gray = rng.randint(0, 256, (12, 11)).astype(np.uint8)  # >=5 rows: all filters
    assert (decode_image(encode_png(gray)) == gray).all()
    rgb = rng.randint(0, 256, (9, 13, 3)).astype(np.uint8)
    assert (decode_image(encode_png(rgb)) == rgb).all()
    # palette (color type 3): hand-built, filter 0 rows
    plte = bytes(range(30))  # 10 RGB entries
    idx = np.array([[0, 9, 3], [7, 1, 2]], dtype=np.uint8)
    raw = b"".join(b"\x00" + r.tobytes() for r in idx)
    ihdr = struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", plte)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    px = decode_image(png)
    assert px.shape == (2, 3, 3)
    assert (px == np.frombuffer(plte, np.uint8).reshape(10, 3)[idx]).all()
    # CRC corruption -> ValueError
    bad = bytearray(encode_png(gray))
    bad[40] ^= 0xFF
    with _pytest.raises(ValueError):
        decode_image(bytes(bad))
    # Adam7 -> NotImplementedError
    ihdr_i = struct.pack(">IIBBBBB", 3, 2, 8, 0, 0, 0, 1)
    png_i = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr_i)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00abc\x00def"))
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(NotImplementedError):
        decode_image(png_i)
    # JPEG-signed payloads dispatch to the real x71 decoder now; a
    # malformed one raises ValueError (fallback-able, same contract)
    with _pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xffjpeg")
    # genuinely unknown codec -> NotImplementedError (the fallback contract)
    with _pytest.raises(NotImplementedError):
        decode_image(b"RIFF\x00\x00\x00\x00WEBPVP8 ")


def test_png_codec_roundtrip_property():
    """Property-based: encode_png/decode_image round-trips ANY uint8
    array — arbitrary shapes (including 1-pixel rows and widths below
    bpp), gray and RGB — exercising every filter type against
    arbitrary content."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from fanstats_producer_spark.operators.multimodal import (
        decode_image,
        encode_png,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        h=st.integers(1, 24),
        w=st.integers(1, 24),
        rgb=st.booleans(),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(h, w, rgb, seed):
        rng = np.random.RandomState(seed)
        shape = (h, w, 3) if rgb else (h, w)
        img = rng.randint(0, 256, shape).astype(np.uint8)
        out = decode_image(encode_png(img))
        assert out.shape == img.shape and (out == img).all()

    check()


def test_extract_features_decodes_real_png(spark):
    """x07's worker reports DECODED-PIXEL features for PNG payloads
    (count/digest/first pixel of the pixel array, not the file bytes)."""
    import hashlib

    import numpy as np

    from fanstats_producer_spark.operators.multimodal import encode_png

    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    png = encode_png(img)
    df = spark.createDataFrame(
        [(1, bytearray(png))], "doc_id long, payload binary"
    )
    out = df.mapInPandas(
        extract_features,
        schema="doc_id long, n_bytes long, payload_sha string, head_byte int",
    ).collect()[0]
    assert out.n_bytes == 64  # pixels, not PNG file size
    assert out.payload_sha == hashlib.sha256(img.tobytes()).hexdigest()
    assert out.head_byte == 0


def test_binary_metadata_struct(spark):
    docs = spark.createDataFrame([(1, "abc", "en")], "doc_id long, text string, lang string")
    row = with_payload(docs).collect()[0]
    assert bytes(row.payload) == b"abc"
    assert row.meta.format == "utf8-blob" and row.meta.n_bytes == 3


_PAYLOAD_WORKERS = sorted(
    name
    for name, v in vars(multimodal).items()
    if callable(v) and isinstance(getattr(v, "schema", None), str)
)


def test_payload_workers_enumerated():
    """Every document-payload key's worker is a module-level
    payload_worker (x96 reuses x88's), so the contract test below sees
    all of them."""
    assert len(_PAYLOAD_WORKERS) == 12, _PAYLOAD_WORKERS


@pytest.mark.parametrize("name", _PAYLOAD_WORKERS)
def test_payload_worker_contract(name):
    """payload_worker's contract, per worker: every yielded frame's
    columns are the schema's field names in order, zero-row frames
    included (x07b and x64 on an empty payload), and an empty batch
    iterator yields nothing."""
    import pandas as pd

    worker = getattr(multimodal, name)
    fields = [f.split()[0] for f in worker.schema.split(",")]
    payloads = [b"", b"a", (bytes(range(32, 127)) * 4)[:300]]
    batches = [pd.DataFrame({"doc_id": [1, 2, 3], "payload": payloads})] + [
        pd.DataFrame({"doc_id": [i], "payload": [p]})
        for i, p in enumerate(payloads)
    ]
    frames = list(worker(iter(batches)))
    assert len(frames) == len(batches)
    for frame in frames:
        assert list(frame.columns) == fields
    assert len(frames[0]) > 0
    assert list(worker(iter([]))) == []


def test_jaccard_properties(spark):
    """Property checks: jaccard ∈ (0,1]; identical docs score 1.0;
    pair orientation is canonical (id_a < id_b always)."""
    rows = [(i, f"tok{i} common words shared across docs number {i % 3}") for i in range(12)]
    rows += [(100, rows[0][1]), (101, rows[0][1])]  # exact dup group
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = jaccard_pairs(df, threshold=0.05).collect()
    assert pairs, "overlapping corpus must produce pairs"
    for r in pairs:
        assert 0 < r.jaccard_e6 <= 1_000_000
        assert r.id_a < r.id_b
    exact = {(r.id_a, r.id_b): r.jaccard_e6 for r in pairs}
    assert (
        exact[(0, 100)] == 1_000_000
        and exact[(0, 101)] == 1_000_000
        and exact[(100, 101)] == 1_000_000
    )


def test_minhash_native_recall_vs_exact(spark):
    """Native DataFrame MinHash must cover the exact near-dup pairs
    (same recall contract as the MLlib arm)."""
    from fanstats_producer_spark.operators.dedup import minhash_native_pairs

    docs = load(spark, SF_DIR, "documents")
    exact = {(r.id_a, r.id_b) for r in jaccard_pairs(docs, threshold=0.6).collect()}
    approx = {
        (r.id_a, r.id_b)
        for r in minhash_native_pairs(docs, threshold=0.4).collect()
    }
    assert exact
    assert len(exact - approx) / len(exact) <= 0.2  # ≥80% recall

def test_minhash_hash_family_constants():
    """The universal-hash multipliers must be nonzero mod P for every
    plausible signature budget (a zero a_i would freeze component i at
    b_i and silently bias every estimate)."""
    from fanstats_producer_spark.operators.dedup import _MH_P, _mh_ab

    for i in range(1024):
        a, b = _mh_ab(i)
        assert 0 < a < _MH_P and 0 <= b < _MH_P


def test_minhash_native_precision(spark):
    """The x45 finding, pinned: banded-MinHash at n=64/b=16/r=4 with the
    universal-hash family must hold precision >= 0.9 AND recall >= 0.9
    against exact Jaccard at the same 0.5 threshold (the r4 estimator
    sat at precision 0.02)."""
    from fanstats_producer_spark.operators.dedup import (
        jaccard_pairs,
        minhash_native_pairs,
    )

    docs = load(spark, SF_DIR, "documents")
    exact = {(r.id_a, r.id_b) for r in jaccard_pairs(docs, threshold=0.5).collect()}
    est = {
        (r.id_a, r.id_b)
        for r in minhash_native_pairs(docs, threshold=0.5).collect()
    }
    assert exact
    tp = len(exact & est)
    assert tp / max(len(est), 1) >= 0.9, f"precision {tp}/{len(est)}"
    assert tp / len(exact) >= 0.9, f"recall {tp}/{len(exact)}"



def test_semdedup_keeps_farthest_from_centroid(spark):
    """x61 keep criterion (SemDeDup): within a semantic duplicate
    group, the member FARTHEST from its k-means centroid is kept and
    near-centroid copies drop; unpaired vectors keep themselves."""
    from fanstats_producer_spark.operators.clustering import kmeans_assignments
    from fanstats_producer_spark.operators.dedup import (
        _X61_THRESHOLD,
        connected_components,
    )
    from fanstats_producer_spark.operators.dedup import x61_semdedup  # noqa: F401
    from fanstats_producer_spark import registry

    import numpy as np

    # build a tiny embeddings table in the fixture layout and run the
    # registered key against it via a temp sf_dir
    import tempfile, os
    rng = np.random.RandomState(3)
    # ids 0-19: random unit vectors (k-means seeds come from the first
    # 10 ids, so the planted group must live ABOVE the seed range or
    # each copy seeds its own cluster)
    vecs = list(rng.normal(size=(20, 8)))
    base = rng.normal(size=8)
    for eps in (0.0, 0.01, 0.3):  # ids 20-22: a duplicate group of 3
        vecs.append(base + rng.normal(size=8) * eps)
    vecs = [v / np.linalg.norm(v) for v in vecs]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )
    d = tempfile.mkdtemp()
    emb.write.parquet(os.path.join(d, "embeddings.parquet"))
    out = {r.vec_id: r for r in registry.QUERIES["x61_semdedup"](spark, d).collect()}
    grp = [r for r in out.values() if r.sem_cluster == min(
        out[i].sem_cluster for i in (20, 21, 22))]
    dup_ids = {r.vec_id for r in grp}
    assert {20, 21, 22} <= dup_ids, f"planted group not found: {out}"
    kept = [r for r in grp if r.is_kept]
    assert len(kept) == 1
    far = max(grp, key=lambda r: (r.dist2_e6, -r.vec_id))
    assert kept[0].vec_id == far.vec_id  # farthest from centroid wins


def test_ivfpq_recall_on_planted_neighbors(spark, tmp_path):
    """x57 recall gate on a fixture with REAL neighbor structure: the
    base fixture's neighborhoods are barely separated (top-5 cosine
    0.34-0.45 vs p99 0.29 — VERDICT r6), so its 0.73 recall measured
    geometry, not the index.  With 10 planted true neighbors (cosine
    ≈ 0.9+) per probe query, the composed IVF→ADC→rerank pipeline must
    find ≥90% of the exact top-5 at the registered defaults — and
    probing 8 of the 10 lists must recover the n_probe-routing loss
    (full sweep: X57_SWEEP_r7.json / scripts/planted_sweep.py x57)."""
    from scripts.gen_sf import generate
    from fanstats_producer_spark.operators.similarity import ivfpq_recall

    d = str(tmp_path / "planted")
    generate(0.01, d, planted_neighbors=10)  # 200 vectors

    def mean_recall(**kw):
        rows = ivfpq_recall(spark, d, **kw).collect()
        return sum(r.recall_e6 for r in rows) / (1e6 * len(rows))

    at_default = mean_recall()
    assert at_default >= 0.9, at_default
    # more probes never hurt — probe ABOVE the registered default
    # (n_probe is 8 now; an equal count would compare a computation to
    # itself and guard nothing)
    assert mean_recall(n_probe=10) >= at_default


def test_semdedup_blas_scorer_matches_fold(spark):
    """Forced-path check for the x61 scale arm: the per-cluster
    applyInPandas BLAS matmul scorer (scorer="blas") must produce the
    exact same rows — sem_cluster assignment AND keep decisions — as
    the fold-exact JVM scorer the registered key runs below its size
    gate.  BLAS
    reassociates the float sums, so this holds only because no fixture
    pair sits within float-reassociation error of the 0.35 threshold;
    running on the real sf0.001 fixture (not a toy) keeps the check
    honest."""
    from fanstats_producer_spark.operators.dedup import semdedup

    sf = "/root/testdata/sf0.001"
    fold = sorted(map(tuple, semdedup(spark, sf, scorer="fold").collect()))
    blas = sorted(map(tuple, semdedup(spark, sf, scorer="blas").collect()))
    assert fold == blas
    assert any(not r[3] for r in fold)  # fixture has real drops to agree on
    # keep-policy invariant (NOT implied by the row_number construction:
    # a flipped orderBy would still yield one kept row per group): the
    # kept member of every near-dup group is the FARTHEST from its
    # k-means centroid, lowest vec_id on ties — SemDeDup's keep rule.
    # row layout: (vec_id, sem_cluster, dist2_e6, is_kept)
    from collections import defaultdict
    groups = defaultdict(list)
    for vec_id, sem_cluster, dist2_e6, is_kept in fold:
        groups[sem_cluster].append((vec_id, dist2_e6, is_kept))
    for sem_cluster, rows in groups.items():
        kept = [r for r in rows if r[2]]
        assert len(kept) == 1, sem_cluster
        want = min(rows, key=lambda r: (-r[1], r[0]))  # max dist2, min id
        assert kept[0][:2] == want[:2], (sem_cluster, kept, want)


def test_minhash_skew_arms_identical_and_wide(spark):
    """Zipfian-skew robustness of the banded pair expansion: on a
    corpus with one hot near-dup cluster (20% of docs near-copies of a
    single template — every member shares every band hash), the in-row
    combos expansion must still emit the cluster's quadratic pair mass,
    and its plan folds each bucket into one collect_list row."""
    import random

    from fanstats_producer_spark.operators.dedup import minhash_native_pairs

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(200)]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(30)) for _ in range(200)
    ]
    template = texts[0].split(" ")
    for i in range(1, 41):  # 20% hot cluster: near-copies of doc 0
        t = list(template)
        t[rng.randrange(len(t))] = f"hot{i}"
        texts[i] = " ".join(t)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    combos = minhash_native_pairs(docs)
    got = {(r.id_a, r.id_b, r.est_jaccard_e6) for r in combos.collect()}
    assert got, "hot cluster must produce pairs"
    # the hot cluster is actually in there (quadratic pair mass)
    hot = [p for p in got if p[0] <= 40 and p[1] <= 40]
    assert len(hot) > 400
    assert "collect_list" in combos._jdf.queryExecution().toString()


def test_connected_components_chain_and_clique(spark):
    """A chain a-b-c-d collapses to one cluster even though a-d never
    paired directly (transitive near-dup), separate clique separate."""
    from fanstats_producer_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9), (3, 4, 0.9), (10, 11, 0.8)],
        "id_a long, id_b long, jaccard double",
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    # both execution paths must agree: driver union-find (small graphs)
    # and iterative distributed label propagation (the 100 TB path)
    got = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == want
    got_dist = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs, driver_threshold=None).collect()
    }
    assert got_dist == want


def test_connected_components_long_chain_pointer_jumping(spark):
    """A 64-node path converges within 8 rounds — only possible with the
    O(log diameter) propagate+jump scheme (pure min-propagation at two
    hops per round would need ~32 and return wrong labels when capped)."""
    from fanstats_producer_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1, 0.9) for i in range(63)], "id_a long, id_b long, jaccard double"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(
            pairs, max_iterations=8, driver_threshold=None
        ).collect()
    }
    assert got == {i: 0 for i in range(64)}


def test_dedup_clusters_idempotent_on_fixture(spark):
    """Running the clustering twice gives identical assignments."""
    from fanstats_producer_spark.operators.dedup import connected_components

    docs = load(spark, SF_DIR, "documents")
    pairs = jaccard_pairs(docs, threshold=0.5)
    a = sorted(map(tuple, connected_components(pairs).collect()))
    b = sorted(map(tuple, connected_components(pairs).collect()))
    assert a == b and a  # deterministic and non-empty on the fixture


def test_corpus_pipeline_stages(spark):
    """Planted dup/junk docs are dropped; survivors chunk and pack with
    the documented windows."""
    from fanstats_producer_spark.operators.corpus import prepare_corpus

    good = "the a " + " ".join(f"w{i}" for i in range(23))  # 25 toks, 8% stopwords
    docs = spark.createDataFrame(
        [
            (1, good, "en"),
            (2, good, "en"),  # exact duplicate -> dropped (keep doc 1)
            (3, "x y", "en"),  # too short -> quality gate drops
            (4, "z " * 50, "en"),  # no stopwords -> language gate drops
        ],
        "doc_id long, text string, lang string",
    )
    out = prepare_corpus(docs, chunk_size=20, stride=15, budget=30).collect()
    assert {r.doc_id for r in out} == {1}
    # 25 tokens, chunk 20 / stride 15 -> chunks at 0 (20 toks) and 15 (10 toks)
    assert [(r.chunk_idx, r.n_chunk_tokens) for r in out] == [(0, 20), (1, 10)]
    # budget 30: chunk 0 starts at 0 tokens before, chunk 1 at 20 -> both pack 0
    assert [r.pack_id for r in out] == [0, 0]


def test_quality_checks_detect_planted_violations(spark):
    """Constraint audit finds exactly the planted bad rows."""
    from fanstats_producer_spark.operators.quality_checks import (
        referential_violations,
        uniqueness_violations,
        violations,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (2, 3.0), (4, None)], "id long, amount double"
    )
    row = {r.rule: r.n_violations for r in violations(df, {
        "negative_amount": F.col("amount") < 0,
        "null_amount": F.col("amount").isNull(),
    }).collect()}
    assert row == {"negative_amount": 1, "null_amount": 1}

    uniq = uniqueness_violations(df, ["id"], "id_unique").collect()[0]
    assert uniq.n_violations == 1  # one extra copy of id=2

    parent = spark.createDataFrame([(1,), (2,)], "pk long")
    ref = referential_violations(df, parent, "id", "pk", "fk").collect()[0]
    assert ref.n_violations == 1  # id=4 is an orphan


def test_chunking_overlap_and_tail(spark):
    """Chunks overlap by chunk-stride tokens and the tail is kept."""
    from fanstats_producer_spark.functions.chunking import chunk_documents

    doc = " ".join(f"t{i}" for i in range(47))
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    chunks = {r.chunk_idx: r for r in chunk_documents(df, 20, 15).collect()}
    assert len(chunks) == 3  # starts 0, 15, 30 cover 47 tokens
    assert chunks[0].chunk_text.split(" ")[15:] == chunks[1].chunk_text.split(" ")[:5]
    assert chunks[2].n_chunk_tokens == 17  # tail kept, not dropped
    # every token appears in at least one chunk
    seen = set(t for r in chunks.values() for t in r.chunk_text.split(" "))
    assert len(seen) == 47


def test_packing_budget_respected(spark):
    """Each pack's token total stays under budget + one doc's length
    (the greedy concat-and-chop guarantee)."""
    from fanstats_producer_spark.functions.chunking import pack_documents

    docs = load(spark, SF_DIR, "documents")
    packed = pack_documents(docs, budget=256)
    totals = packed.groupBy("shard", "pack_id").agg(
        F.sum("n_tokens").alias("tok"), F.max("n_tokens").alias("max_doc")
    )
    over = totals.filter(F.col("tok") >= 256 + F.col("max_doc")).count()
    assert over == 0
    assert packed.select("shard", "pack_id").distinct().count() > 5


# --- hypothesis: chunking/packing properties (SURVEY.md §5.5) --------------------
try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @given(
        n_toks=st.lists(st.integers(min_value=1, max_value=60), min_size=1, max_size=8),
        chunk=st.integers(min_value=2, max_value=25),
        stride_frac=st.floats(min_value=0.3, max_value=1.0),
    )
    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    def test_chunking_property(n_toks, chunk, stride_frac):
        """Every chunk i holds exactly tokens [i*stride, i*stride+chunk) of
        its document, and every token lands in at least one chunk."""
        from fanstats_producer_spark.functions.chunking import chunk_documents
        from fanstats_producer_spark.session import get_spark

        spark = get_spark("fanstats-tests")
        stride = max(1, int(chunk * stride_frac))
        rows = [(i, " ".join(f"t{i}_{j}" for j in range(n))) for i, n in enumerate(n_toks)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = chunk_documents(docs, chunk_size=chunk, stride=stride).collect()
        toks = {i: rows[i][1].split(" ") for i in range(len(rows))}
        covered = {i: set() for i in toks}
        for r in out:
            expect = toks[r.doc_id][r.chunk_idx * stride : r.chunk_idx * stride + chunk]
            assert r.chunk_text.split(" ") == expect
            assert r.n_chunk_tokens == len(expect)
            covered[r.doc_id].update(expect)
        for i, ts in toks.items():
            assert covered[i] == set(ts)

    @given(
        n_toks=st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=12),
        budget=st.integers(min_value=10, max_value=120),
    )
    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    def test_packing_property(n_toks, budget):
        """Packs partition the docs contiguously in doc order; each pack's
        first doc starts in [pack*budget, (pack+1)*budget)."""
        from fanstats_producer_spark.functions.chunking import pack_documents
        from fanstats_producer_spark.session import get_spark

        spark = get_spark("fanstats-tests")
        rows = [(i, " ".join("w" for _ in range(n)), "en") for i, n in enumerate(n_toks)]
        docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        out = sorted(
            ((r.doc_id, r.n_tokens, r.pack_id) for r in pack_documents(docs, budget=budget).collect())
        )
        before = 0
        for doc_id, n, pack in out:
            assert pack == before // budget
            before += n
        assert [p for _, _, p in out] == sorted(p for _, _, p in out)  # contiguous
except ImportError:  # pragma: no cover
    pass


def test_embed_neardup_dedups_identical_vectors(spark, tmp_path):
    """x04f on a tiny planted fixture: identical/near-identical vectors
    collapse to one kept representative; the orthogonal vector survives."""
    import pyspark.sql.functions as F

    from fanstats_producer_spark.operators.dedup import x04f_embed_neardup

    e1 = [1.0] + [0.0] * 63
    e1b = [0.999] + [0.001] * 63          # cosine ~1 with e1
    e3 = [0.0, 1.0] + [0.0] * 62          # orthogonal to both
    emb = spark.createDataFrame(
        [(0, e1, 0), (1, e1b, 0), (2, e3, 1)],
        "vec_id long, embedding array<float>, label int",
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    emb.write.parquet(str(sf / "embeddings.parquet"))

    rows = {r.doc_id: r for r in x04f_embed_neardup(spark, str(sf)).collect()}
    assert rows[0].cluster_id == 0 and rows[0].is_kept
    assert rows[1].cluster_id == 0 and not rows[1].is_kept
    assert rows[2].cluster_id == 2 and rows[2].is_kept


def test_hll_sketch_merge_equals_direct(spark):
    """Merging per-day sketches gives the same estimate as sketching the
    whole table directly (mergeability — the property that lets coarse
    rollups come from persisted fine-grain sketches)."""
    import pyspark.sql.functions as F

    from fanstats_producer_spark.operators.sketches import (
        rollup_distinct,
        sketch_distinct,
    )

    ev = spark.range(5000).select(
        (F.col("id") % 37).alias("day"), (F.col("id") % 150).alias("user_id"),
        F.lit("t").alias("event_type"),
    )
    daily = sketch_distinct(ev, key="user_id", grain=["event_type", "day"])
    merged = rollup_distinct(daily, ["event_type"]).collect()[0].n_distinct
    direct = rollup_distinct(
        sketch_distinct(ev, key="user_id", grain=["event_type"]), ["event_type"]
    ).collect()[0].n_distinct
    assert merged == direct == 150  # exact mode at this cardinality


def test_hll_sketch_error_bound_past_exact_mode(spark):
    """Past exact mode (~2^lgConfigK distinct), the estimate stays within
    the configured accuracy envelope (~1.6% rsd at lgConfigK=12; assert
    a generous 5%)."""
    import pyspark.sql.functions as F

    from fanstats_producer_spark.operators.sketches import (
        rollup_distinct,
        sketch_distinct,
    )

    n = 200_000
    df = spark.range(n).select(F.lit("g").alias("g"), F.col("id").alias("user_id"))
    est = rollup_distinct(
        sketch_distinct(df, key="user_id", grain=["g"]), ["g"]
    ).collect()[0].n_distinct
    assert abs(est - n) / n < 0.05


def test_topk_sketch_merge_matches_exact_counts(spark):
    """Merged per-group heavy-hitter states reproduce exact counts while
    the tracker isn't evicting, at any rollup grain."""
    import pyspark.sql.functions as F

    from fanstats_producer_spark.operators.sketches import rollup_topk, sketch_topk

    df = spark.range(1200).select(
        (F.col("id") % 6).alias("day"),
        F.concat(F.lit("u"), (F.col("id") % 4).cast("string")).alias("item_col"),
    )
    states = sketch_topk(df, key="item_col", grain=["day"], k=4)
    got = {
        (r.day % 2, r.item): r.n
        for r in rollup_topk(
            states.withColumn("parity", F.col("day") % 2), ["parity"], k=4
        ).withColumnRenamed("parity", "day").collect()
    }
    exact = {
        (r.parity, r.item_col): r.n
        for r in df.withColumn("parity", F.col("day") % 2)
        .groupBy("parity", "item_col")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == exact


# --- x22/x23: lexical relevance scoring -----------------------------------------
def test_tfidf_ranks_rare_terms_above_ubiquitous(spark):
    """A term unique to one doc must outrank a term present in every doc
    (idf dominates when tf ties), and every doc yields exactly top-k rows."""
    from fanstats_producer_spark.operators.scoring import x22_tfidf

    out = x22_tfidf(spark, SF_DIR).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append(r)
    assert all(len(v) == 3 for v in per_doc.values())
    for rows in per_doc.values():
        ranks = sorted(rows, key=lambda r: r.rnk)
        # ranking invariant: tf non-increasing; df non-decreasing on tf ties
        for a, b in zip(ranks, ranks[1:]):
            assert (a.tf, -a.df) >= (b.tf, -b.df)


def test_bm25_prefers_docs_with_query_terms(spark):
    """Every returned doc must actually contain ≥1 query term, and scores
    are positive and non-increasing."""
    from fanstats_producer_spark.operators.scoring import _X23_QUERY, x23_bm25

    top = x23_bm25(spark, SF_DIR).collect()
    assert len(top) == 10
    scores = [r.bm25_e6 for r in top]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)
    docs = {
        r.doc_id: r.text
        for r in load(spark, SF_DIR, "documents")
        .filter(F.col("doc_id").isin([r.doc_id for r in top]))
        .collect()
    }
    for r in top:
        assert any(t in docs[r.doc_id].split(" ") for t in _X23_QUERY)


# --- x24: deterministic k-means --------------------------------------------------
def test_kmeans_matches_numpy_reference(spark):
    """The distributed k-means round-trip (seed assign → decimal-exact
    refit → reassign) reproduces a straightforward single-machine numpy
    implementation of the same algorithm."""
    import numpy as np

    from fanstats_producer_spark.operators.clustering import kmeans_assignments

    emb = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    ids = [r.vec_id for r in rows]
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    seeds = X[:10]

    def assign(cents, cent_ids):
        d = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        # argmin with (dist, cid) tie-break: numpy argmin keeps first
        order = np.argsort(cent_ids)
        d = d[:, order]
        return np.array(cent_ids)[order][d.argmin(axis=1)]

    a1 = assign(seeds, ids[:10])
    cents2, cids2 = [], []
    for cid in sorted(set(a1)):
        members = X[a1 == cid]
        cents2.append(np.round(members.sum(axis=0) / len(members), 6))
        cids2.append(cid)
    a2 = assign(np.array(cents2), cids2)
    want = dict(zip(ids, a2))

    got = {r.vec_id: r.cid for r in kmeans_assignments(emb).collect()}
    assert got == want


def test_kmeans_identical_vectors_colocate(spark):
    """Duplicate vectors always land in the same cluster."""
    from fanstats_producer_spark.operators.clustering import kmeans_assignments

    base = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding").limit(50)
    dup = base.withColumn("vec_id", F.col("vec_id") + 10_000)
    out = kmeans_assignments(base.unionByName(dup)).collect()
    cl = {r.vec_id: r.cid for r in out}
    for vid in [r.vec_id for r in base.collect()]:
        assert cl[vid] == cl[vid + 10_000]


# --- x25: z-score outliers --------------------------------------------------------
def test_zscore_flags_planted_outlier(spark, tmp_path):
    """A planted extreme value is flagged; typical values are not."""
    import shutil

    src = load(spark, SF_DIR, "events").limit(500)
    planted = src.unionByName(
        spark.createDataFrame(
            [(999_999, None, 1, "view", 1e7, None)], src.schema
        )
    )
    # io.load expects the fixture layout: ts stored as epoch-NANOS longs
    planted = planted.withColumn("ts", F.unix_micros("ts") * 1000)
    out_dir = str(tmp_path / "sf_ev")
    import os

    os.makedirs(out_dir)
    planted.write.parquet(os.path.join(out_dir, "events.parquet"))
    from fanstats_producer_spark.operators.quality_checks import (
        x25_zscore_outliers,
    )

    flagged = x25_zscore_outliers(spark, out_dir).collect()
    assert 999_999 in {r.event_id for r in flagged}
    assert all(abs(r.z_e4) > 3.0 * 1e4 for r in flagged)


# --- x26: content-defined chunking ------------------------------------------------
def test_cdc_chunking_shift_robust(spark):
    """The CDC selling point: a prefix edit disturbs only chunks before
    the next content boundary — the tail chunks are bit-identical, where
    fixed-window chunking (x17) would shift every downstream chunk."""
    from fanstats_producer_spark.functions.chunking import cdc_chunks

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi "
            "psi omega one two three four five six seven eight nine ten "
            "eleven twelve thirteen fourteen fifteen sixteen seventeen") 
    docs = spark.createDataFrame(
        [(1, base), (2, "inserted prefix tokens " + base)],
        "doc_id long, text string",
    )
    got = {}
    for r in cdc_chunks(docs).collect():
        got.setdefault(r.doc_id, []).append((r.chunk_no, r.chunk))
    orig = [c for _, c in sorted(got[1])]
    edited = [c for _, c in sorted(got[2])]
    assert len(orig) >= 2, "fixture text should produce multiple chunks"
    # common tail: everything from the first shared boundary on survives
    shared_tail = 0
    for a, b in zip(reversed(orig), reversed(edited)):
        if a != b:
            break
        shared_tail += 1
    assert shared_tail >= len(orig) - 1  # only the head chunk may differ

    # chunks reassemble the document exactly
    assert " ".join(orig) == base
    assert " ".join(edited) == "inserted prefix tokens " + base


def test_cdc_chunking_short_docs(spark):
    """Docs shorter than the rolling window yield one whole-doc chunk."""
    from fanstats_producer_spark.functions.chunking import cdc_chunks

    docs = spark.createDataFrame(
        [(1, "one two"), (2, "single")], "doc_id long, text string"
    )
    rows = cdc_chunks(docs).collect()
    got = {r.doc_id: (r.chunk_no, r.n_tokens, r.chunk) for r in rows}
    assert got[1] == (1, 2, "one two")
    assert got[2] == (1, 1, "single")


# --- x47: edit-distance verification of LSH candidates --------------------------
def test_edit_verify_confirms_planted_dups(spark, planted):
    from fanstats_producer_spark.operators.dedup import edit_verified_pairs

    out = edit_verified_pairs(planted).collect()
    pairs = {(r.id_a, r.id_b): r for r in out}
    # the exact dup is a candidate with zero edit distance
    assert (1, 2) in pairs
    assert pairs[(1, 2)].edit_dist == 0
    assert pairs[(1, 2)].rel_edit_e6 == 0
    # unrelated docs never reach the verified set
    assert all(ida not in (4, 5) and idb not in (4, 5) for ida, idb in pairs)
    # every surviving pair satisfies the integer-compare threshold
    for r in out:
        assert r.edit_dist * 5 <= 2 * max(
            len(dict((x.doc_id, x.text) for x in planted.collect())[r.id_a]),
            len(dict((x.doc_id, x.text) for x in planted.collect())[r.id_b]),
            1,
        )


def test_edit_verify_zero_threshold_keeps_only_exact(spark, planted):
    from fanstats_producer_spark.operators.dedup import edit_verified_pairs

    out = edit_verified_pairs(planted, rel_num=0, rel_den=1).collect()
    assert {(r.id_a, r.id_b) for r in out} == {(1, 2)}
    assert all(r.edit_dist == 0 for r in out)


# --- x48/x49: quality-signal invariants ----------------------------------------
def test_token_entropy_bounds(spark):
    """0 <= H <= ln(n_types) (equality iff uniform), TTR in (0, 1]."""
    import math

    from fanstats_producer_spark import registry

    rows = registry.QUERIES["x48_token_entropy"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 < r.ttr_e6 <= 1_000_000
        assert r.n_types <= r.n_tokens
        h = r.entropy_e4 / 1e4
        assert -1e-4 <= h <= math.log(r.n_types) + 1e-4


def test_mad_outliers_are_extreme(spark):
    """Every flagged row clears the 3.5 robust-z gate, and the flag set
    is a small minority of events."""
    from fanstats_producer_spark import registry
    from fanstats_producer_spark.io import load

    out = registry.QUERIES["x49_mad_outliers"](spark, SF_DIR)
    rows = out.collect()
    n_events = load(spark, SF_DIR, "events").count()
    assert 0 < len(rows) < n_events * 0.05
    assert all(r.robust_z_e4 > 35000 for r in rows)


def test_wav_codec_roundtrip_and_wave_module_interop():
    """The stdlib WAV codec is real: encode_wav's bytes open cleanly in
    the stdlib `wave` module with identical header fields and frames;
    wave-module-written bytes decode through decode_wav (interop both
    ways); stereo round-trips; non-RIFF / non-PCM / truncated payloads
    raise the documented fallback exceptions."""
    import io
    import struct
    import wave

    import numpy as np
    import pytest as _pytest

    from fanstats_producer_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    rng = np.random.RandomState(11)
    pcm = rng.randint(-32768, 32768, 999).astype("<i2")  # odd byte count path
    wav = encode_wav(pcm, rate=8000)
    # our encoder -> stdlib wave reader
    with wave.open(io.BytesIO(wav)) as r:
        assert r.getframerate() == 8000
        assert r.getnchannels() == 1
        assert r.getsampwidth() == 2
        assert r.getnframes() == 999
        frames = np.frombuffer(r.readframes(999), dtype="<i2")
    assert (frames == pcm).all()
    # our encoder -> our decoder
    rate, channels, width, dec = decode_wav(wav)
    assert (rate, channels, width) == (8000, 1, 2)
    assert (dec == pcm).all()
    # stdlib wave writer -> our decoder (stereo)
    buf = io.BytesIO()
    stereo = rng.randint(-32768, 32768, 64).astype("<i2")
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(44100)
        w.writeframes(stereo.tobytes())
    rate, channels, width, dec = decode_wav(buf.getvalue())
    assert (rate, channels) == (44100, 2)
    assert (dec == stereo).all()
    # fallback contract: non-RIFF -> NotImplementedError
    with _pytest.raises(NotImplementedError):
        decode_wav(b"OggS not a wav")
    # non-PCM format tag -> NotImplementedError
    bad_fmt = struct.pack("<HHIIHH", 3, 1, 8000, 16000, 2, 16)  # IEEE float tag
    blob = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(bad_fmt) + 8) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(bad_fmt)) + bad_fmt
        + b"data" + struct.pack("<I", 0)
    )
    with _pytest.raises(NotImplementedError):
        decode_wav(blob)
    # truncated data chunk -> ValueError
    trunc = wav[:-10]
    with _pytest.raises(ValueError):
        decode_wav(trunc)
    # missing data chunk -> ValueError
    nodata = wav[: 12 + 8 + 16]
    with _pytest.raises(ValueError):
        decode_wav(nodata)


def test_gif_codec_roundtrip_and_rejects():
    """The stdlib animated-GIF codec is real: multi-frame round trip
    with per-frame delays; LZW survives width growth, table-reset, and
    the KwKwK case; non-GIF and structurally broken payloads raise the
    documented fallback exceptions."""
    import numpy as np
    import pytest as _pytest

    from fanstats_producer_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
        decode_gif,
        encode_gif,
    )

    rng = np.random.RandomState(5)
    # table reset: >4096 dict entries needs low-entropy data long enough
    long_rep = bytes(rng.randint(0, 4, 60000).astype(np.uint8))
    assert _lzw_decode(_lzw_encode(long_rep)) == long_rep
    # KwKwK self-reference: aaa... emits a code equal to next_free
    assert _lzw_decode(_lzw_encode(b"aaaaaaaaaa")) == b"aaaaaaaaaa"
    frames = [rng.randint(0, 256, (8, 16)).astype(np.uint8) for _ in range(7)]
    w, h, out = decode_gif(encode_gif(frames, [3 * i for i in range(7)]))
    assert (w, h) == (16, 8) and len(out) == 7
    for i, (delay, px) in enumerate(out):
        assert delay == 3 * i
        assert (px == frames[i]).all()
    with _pytest.raises(NotImplementedError):
        decode_gif(b"RIFF this is not a gif")
    gif = encode_gif(frames[:1], [0])
    with _pytest.raises(ValueError):
        decode_gif(gif[:-1])  # trailer stripped
    bad = bytearray(gif)
    bad[-20] ^= 0xFF  # corrupt LZW body
    with _pytest.raises(ValueError):
        decode_gif(bytes(bad))
    # structurally valid GIF with zero image frames (header + LSD +
    # trailer): decode_gif returns an empty frame list, and decode_image
    # must raise ValueError (NOT IndexError) so x07's extract_features
    # fallback catches it instead of failing the scan
    import struct as _struct

    from fanstats_producer_spark.operators.multimodal import decode_image

    frameless = (
        b"GIF89a" + _struct.pack("<HH", 4, 4) + bytes([0x00, 0, 0]) + b"\x3b"
    )
    assert decode_gif(frameless) == (4, 4, [])
    with _pytest.raises(ValueError, match="no frames"):
        decode_image(frameless)


def test_streaming_band_keys_match_batch_formulation(spark):
    """s21's per-row signature path (array_min over per-component
    universal hashes) is byte-identical to the batch groupBy-MIN
    formulation minhash_native_pairs uses — same md5 word, same
    _mh_ab constants, same xxhash64 band keys."""
    import pyspark.sql.functions as F

    from fanstats_producer_spark.io import load
    from fanstats_producer_spark.operators import dedup

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    streaming = dedup.streaming_band_keys(docs)
    sh = dedup.with_shingles(docs, k=3).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    wm = sh.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
            % dedup._MH_P
        ).alias("wm"),
    )
    sig = wm.groupBy("doc_id").agg(
        *[
            F.min(
                (
                    F.lit(dedup._mh_ab(i)[0]) * F.col("wm")
                    + F.lit(dedup._mh_ab(i)[1])
                )
                % dedup._MH_P
            )
            # r14: signatures are array<int> on both paths (component
            # values < 2^31-1 fit exactly); the band keys hash the int
            # values, so the reference must cast too
            .cast("int")
            .alias(f"h{i}")
            for i in range(64)
        ]
    )
    sig = sig.select(
        "doc_id", F.array(*[f"h{i}" for i in range(64)]).alias("sig")
    )
    bv = F.array(
        *[
            F.xxhash64(F.lit(b), *[F.col("sig")[b * 4 + j] for j in range(4)])
            for b in range(16)
        ]
    )
    batch = sig.select("doc_id", F.explode(bv).alias("band_hash"))
    assert sorted(map(tuple, streaming.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_wav_gif_codec_roundtrip_property():
    """Property-based: the WAV and GIF codecs round-trip ANY content —
    arbitrary PCM (including empty and odd-length), arbitrary frame
    counts/pixels/delays, and LZW over arbitrary alphabets (small
    alphabets force dictionary growth + width changes; long
    low-entropy inputs force table resets)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from fanstats_producer_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
        decode_gif,
        decode_wav,
        encode_gif,
        encode_wav,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        n=st.integers(0, 2000),
        rate=st.sampled_from([8000, 16000, 44100]),
        seed=st.integers(0, 2**31 - 1),
    )
    def check_wav(n, rate, seed):
        rng = np.random.RandomState(seed)
        pcm = rng.randint(-32768, 32768, n).astype("<i2")
        got_rate, ch, width, dec = decode_wav(encode_wav(pcm, rate=rate))
        assert (got_rate, ch, width) == (rate, 1, 2)
        assert dec.shape == pcm.shape and (dec == pcm).all()

    @settings(max_examples=25, deadline=None)
    @given(
        nf=st.integers(1, 6),
        alphabet=st.integers(2, 256),
        seed=st.integers(0, 2**31 - 1),
    )
    def check_gif(nf, alphabet, seed):
        rng = np.random.RandomState(seed)
        frames = [
            (rng.randint(0, alphabet, (8, 16)) % 256).astype(np.uint8)
            for _ in range(nf)
        ]
        delays = [int(rng.randint(0, 65536)) for _ in range(nf)]
        w, h, out = decode_gif(encode_gif(frames, delays))
        assert (w, h) == (16, 8) and len(out) == nf
        for i, (d, px) in enumerate(out):
            assert d == delays[i] and (px == frames[i]).all()

    @settings(max_examples=40, deadline=None)
    @given(
        n=st.integers(0, 30000),
        alphabet=st.integers(1, 256),
        seed=st.integers(0, 2**31 - 1),
    )
    def check_lzw(n, alphabet, seed):
        rng = np.random.RandomState(seed)
        data = bytes(rng.randint(0, alphabet, n).astype(np.uint8))
        assert _lzw_decode(_lzw_encode(data)) == data

    check_wav()
    check_gif()
    check_lzw()


def test_avi_codec_roundtrip_and_dispatch():
    """The stdlib AVI codec is real: multi-frame BGR round trip with
    header-decoded geometry/fps; decode_video dispatches RIFF/AVI
    payloads to it and still raises NotImplementedError for compressed
    or non-AVI payloads (the fallback contract x42 relies on)."""
    import struct

    import numpy as np
    import pytest as _pytest

    from fanstats_producer_spark.operators.multimodal import (
        decode_avi,
        decode_video,
        encode_avi,
    )

    rng = np.random.RandomState(13)
    frames = [rng.randint(0, 256, (8, 16, 3)).astype(np.uint8) for _ in range(5)]
    avi = encode_avi(frames, fps=30)
    w, h, fps, dec = decode_avi(avi)
    assert (w, h, fps) == (16, 8, 30) and len(dec) == 5
    for d, f in zip(dec, frames):
        assert (d == f).all()
    # decode_video dispatches AVI for real
    w2, h2, fps2, dec2 = decode_video(avi)
    assert (w2, h2, fps2) == (16, 8, 30)
    assert all((a == b).all() for a, b in zip(dec2, dec))
    # non-AVI -> NotImplementedError (x42's fallback contract)
    with _pytest.raises(NotImplementedError):
        decode_video(b"some plain text payload")
    # compressed handler -> NotImplementedError
    bad = bytearray(avi)
    i = bad.index(b"DIB ")
    bad[i : i + 4] = b"H264"
    with _pytest.raises(NotImplementedError):
        decode_avi(bytes(bad))
    # truncated -> ValueError
    with _pytest.raises(ValueError):
        decode_avi(avi[:-4])


def test_avi_codec_roundtrip_property():
    """Property-based: encode_avi/decode_avi round-trips arbitrary
    frame stacks, including widths whose DIB stride needs padding."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from fanstats_producer_spark.operators.multimodal import (
        decode_avi,
        encode_avi,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        nf=st.integers(1, 5),
        w=st.integers(1, 20),
        h=st.integers(1, 12),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(nf, w, h, seed):
        rng = np.random.RandomState(seed)
        frames = [
            rng.randint(0, 256, (h, w, 3)).astype(np.uint8) for _ in range(nf)
        ]
        gw, gh, fps, dec = decode_avi(encode_avi(frames, w=w, h=h))
        assert (gw, gh) == (w, h) and len(dec) == nf
        for d, f in zip(dec, frames):
            assert (d == f).all()

    check()


def test_codec_error_contracts_on_malformed_payloads(spark):
    """Review fixes pinned: GIF truncated mid-image-data and WAV with a
    short fmt chunk raise ValueError (the documented fallback class,
    not IndexError/struct.error); an LZW stream whose final code lands
    on the width-growth boundary round-trips; an x42 payload that
    merely LOOKS like RIFF/AVI takes the byte-slice fallback instead of
    failing the scan."""
    import struct

    import numpy as np
    import pytest as _pytest

    from fanstats_producer_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
        decode_gif,
        decode_wav,
        encode_gif,
        x42_sample_worker,
    )

    # GIF truncated inside frame sub-block data -> ValueError
    rng = np.random.RandomState(21)
    gif = encode_gif([rng.randint(0, 256, (8, 16)).astype(np.uint8)], [0])
    with _pytest.raises(ValueError):
        decode_gif(gif[: len(gif) // 2])
    # WAV with an 8-byte fmt chunk -> ValueError
    short_fmt = (
        b"RIFF" + struct.pack("<I", 4 + 8 + 8 + 8) + b"WAVE"
        + b"fmt " + struct.pack("<I", 8) + b"\x01\x00\x01\x00\x00\x1f\x00\x00"
        + b"data" + struct.pack("<I", 0)
    )
    with _pytest.raises(ValueError):
        decode_wav(short_fmt)
    # boundary-aligned final LZW code (the fuzzer-found shape)
    data = b"\x02\x00\x01\x02\x00\x01\x03\x02\x00\x01\x03\x01\x00\x02"
    assert _lzw_decode(_lzw_encode(data, 2), 2) == data
    # RIFF/AVI-prefixed garbage payload -> fallback row, not a crash
    import pandas as pd

    fake = b"RIFF\xff\xff\xff\xffAVI lots of text that is not chunks"
    out = list(
        x42_sample_worker(
            iter([pd.DataFrame({"doc_id": [1], "payload": [fake]})])
        )
    )
    assert len(out) == 1 and len(out[0]) == 1  # one fallback feature row


def test_jpeg_codec_roundtrip_and_rejects():
    """x71 codec: block-constant images round-trip EXACTLY (DC-only
    spectra, all-ones quant); arbitrary images round-trip within the
    FDCT-rounding bound (gray <=1, RGB <=2 — color conversion adds one
    rounding); gray and color both decode; malformed payloads raise
    the contract errors."""
    import numpy as np
    import pytest

    from fanstats_producer_spark.operators.multimodal import (
        decode_image,
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.RandomState(7)
    # exact: block-constant gray, non-trivial dims
    base = rng.randint(0, 256, (5, 9), dtype=np.uint8)
    img = np.repeat(np.repeat(base, 8, 0), 8, 1)
    payload = encode_jpeg(img)
    assert payload[:2] == b"\xff\xd8" and payload[-2:] == b"\xff\xd9"
    assert np.array_equal(decode_jpeg(payload), img)
    # decode_image dispatches JPEG by SOI signature
    assert np.array_equal(decode_image(payload), img)

    # bounded: random gray with non-multiple-of-8 dims (edge padding +
    # crop path), exercises dense AC coding incl. ZRL and byte stuffing
    g = rng.randint(0, 256, (13, 21), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(g))
    assert out.shape == g.shape
    assert int(np.abs(out.astype(int) - g.astype(int)).max()) <= 1

    # color: RGB -> YCbCr 4:4:4 -> RGB
    c = rng.randint(0, 256, (16, 24, 3), dtype=np.uint8)
    outc = decode_jpeg(encode_jpeg(c))
    assert outc.shape == c.shape
    assert int(np.abs(outc.astype(int) - c.astype(int)).max()) <= 2

    # rejects
    with pytest.raises(NotImplementedError):
        decode_jpeg(b"GIF89a not a jpeg")
    with pytest.raises(ValueError):
        decode_jpeg(payload[: len(payload) // 2])  # truncated mid-scan
    with pytest.raises(ValueError):
        decode_jpeg(payload[:6])  # truncated before SOS
    # progressive SOF2 marker must refuse, not mis-decode
    prog = payload.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(NotImplementedError):
        decode_jpeg(prog)


def test_jpeg_codec_roundtrip_property():
    """Property fuzz (SURVEY.md §5.5): decode(encode(x)) stays within
    the FDCT-rounding bound for arbitrary uint8 images of arbitrary
    small shapes, and block-upsampled images are always exact."""
    import numpy as np

    from fanstats_producer_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.RandomState(11)
    for trial in range(12):
        h = int(rng.randint(1, 40))
        w = int(rng.randint(1, 40))
        g = rng.randint(0, 256, (h, w), dtype=np.uint8)
        out = decode_jpeg(encode_jpeg(g))
        assert out.shape == (h, w)
        assert int(np.abs(out.astype(int) - g.astype(int)).max()) <= 1, (
            trial, h, w)
    for trial in range(6):
        bh = int(rng.randint(1, 6))
        bw = int(rng.randint(1, 6))
        base = rng.randint(0, 256, (bh, bw), dtype=np.uint8)
        img = np.repeat(np.repeat(base, 8, 0), 8, 1)
        assert np.array_equal(decode_jpeg(encode_jpeg(img)), img), trial


def test_mjpeg_avi_roundtrip_and_rejects():
    """The MJPG AVI arm: block-constant gray frames round-trip exactly
    through container + per-frame JPEG; natural-content frames decode
    within JPEG's rounding envelope; inconsistent MJPG headers are
    rejected; the DIB arm is unchanged by the codec parameter."""
    import numpy as np
    import pytest as _pytest

    from fanstats_producer_spark.operators.multimodal import (
        decode_avi,
        decode_video,
        encode_avi,
    )

    # exact: every 8x8 block constant (the x71 exactness condition)
    rng = np.random.RandomState(11)
    frames = []
    for _ in range(3):
        grid = rng.randint(0, 256, (2, 4)).astype(np.uint8)
        frames.append(np.repeat(np.repeat(grid, 8, axis=0), 8, axis=1))
    avi = encode_avi(frames, fps=30, w=32, h=16, codec="mjpg")
    w, h, fps, dec = decode_video(avi)
    assert (w, h, fps, len(dec)) == (32, 16, 30, 3)
    for d, f in zip(dec, frames):
        assert np.array_equal(d, f)

    # lossy-but-bounded: arbitrary gray content stays within +-1
    nat = [rng.randint(0, 256, (16, 32)).astype(np.uint8)]
    _, _, _, dec2 = decode_avi(encode_avi(nat, w=32, h=16, codec="mjpg"))
    assert int(np.abs(dec2[0].astype(int) - nat[0].astype(int)).max()) <= 1

    # MJPG handler without the matching biCompression fourcc -> ValueError
    bad = bytearray(avi)
    strf_at = bad.find(b"strf")
    # biCompression sits 16 bytes into the BITMAPINFOHEADER (after the
    # 8-byte chunk header)
    bad[strf_at + 8 + 16 : strf_at + 8 + 20] = b"\x00\x00\x00\x00"
    with _pytest.raises(ValueError):
        decode_avi(bytes(bad))

    # unknown codec name on the encoder
    with _pytest.raises(ValueError):
        encode_avi(frames, codec="h264")


def test_mjpeg_avi_roundtrip_property():
    """Property fuzz (SURVEY.md §5.5): an MJPG AVI of arbitrary
    block-upsampled frames round-trips every frame exactly, for
    arbitrary frame counts and block-grid shapes."""
    import numpy as np

    from fanstats_producer_spark.operators.multimodal import (
        decode_video,
        encode_avi,
    )

    rng = np.random.RandomState(23)
    for trial in range(6):
        bh = int(rng.randint(1, 4))
        bw = int(rng.randint(1, 6))
        nf = int(rng.randint(1, 5))
        frames = []
        for _ in range(nf):
            base = rng.randint(0, 256, (bh, bw), dtype=np.uint8)
            frames.append(np.repeat(np.repeat(base, 8, 0), 8, 1))
        w, h, fps, dec = decode_video(
            encode_avi(frames, w=8 * bw, h=8 * bh, codec="mjpg")
        )
        assert (w, h, len(dec)) == (8 * bw, 8 * bh, nf), trial
        for d, f in zip(dec, frames):
            assert np.array_equal(d, f), trial


def test_x79_bloom_no_false_negatives_and_forced_fps(spark):
    """Bloom guarantee: every present key hits.  Shrinking m from 65536
    to 256 bits (n≈1.1k keys >> m) must force false positives — the
    probabilistic arm the registered key's 1e-5 FP shape can't show."""
    from fanstats_producer_spark.operators import sketches as sk

    sf = "/root/testdata/sf0.001"
    base = sk.x79_bloom_filter(spark, sf).collect()
    assert all(r["bloom_hit"] == 1 for r in base if r["actual"] == 1)

    saved = sk._X79_M
    try:
        sk._X79_M = 256
        small = sk.x79_bloom_filter(spark, sf).collect()
    finally:
        sk._X79_M = saved
    assert all(r["bloom_hit"] == 1 for r in small if r["actual"] == 1)
    fps = sum(1 for r in small if r["bloom_hit"] == 1 and r["actual"] == 0)
    assert fps > 0  # saturated filter must false-positive


def test_resize_image_real_nearest_neighbor():
    """resize_image is REAL now: decode -> integer NN resample ->
    re-encode.  Pin the index math on a hand-checked 4x4 -> 2x2 case
    and prove the output is a decodable PNG of the right shape."""
    import numpy as np

    from fanstats_producer_spark.operators.multimodal import (
        decode_image,
        encode_png,
        resize_image,
    )

    src = np.arange(16, dtype=np.uint8).reshape(4, 4) * 10
    out = decode_image(resize_image(encode_png(src), 2, 2))
    # out(i,j) = src((i*4)//2, (j*4)//2) = src(2i, 2j)
    assert out.shape == (2, 2)
    assert (out == src[::2, ::2]).all()
    # upscale picks repeated source rows/cols, still exact
    up = decode_image(resize_image(encode_png(src), 8, 8))
    assert up.shape == (8, 8)
    assert (up[::2, ::2] == src).all()
    # non-image payloads still raise for the fake-path fallback
    import pytest as _pytest

    with _pytest.raises((NotImplementedError, ValueError)):
        resize_image(b"not an image at all", 2, 2)


def test_x88_phash_catches_resized_duplicate_not_distinct():
    """The planted perceptual-dedup contract: a RESIZED duplicate (made
    with the real x87 resize path) hashes within the x88 hamming gate
    of its original, while a structurally different image does not."""
    import numpy as np

    from fanstats_producer_spark.operators.multimodal import (
        _X88_HAMMING,
        encode_png,
        phash_image,
        resize_image,
    )

    rng = np.random.default_rng(42)
    # structured image: smooth gradient + blocky texture (pHash is a
    # low-frequency descriptor; pure noise has no perceptual content)
    yy, xx = np.mgrid[0:64, 0:64]
    img = ((yy * 2 + xx) % 256).astype(np.uint8)
    img[16:40, 8:30] = 200
    img[45:60, 40:60] = 15
    original = encode_png(img)
    h_orig = phash_image(original)

    # upscaled then downscaled duplicates via the REAL resize path
    for w, hgt in [(128, 128), (96, 80), (32, 32)]:
        dup = resize_image(original, w, hgt)
        assert bin(h_orig ^ phash_image(dup)).count("1") <= _X88_HAMMING, (
            w,
            hgt,
        )

    # a genuinely different image (independent structure) must NOT sit
    # inside the gate
    other = ((xx * 7) % 251).astype(np.uint8)
    other[5:20, 35:55] = 240
    h_other = phash_image(encode_png(other))
    assert bin(h_orig ^ h_other).count("1") > _X88_HAMMING

    # hash is 63-bit non-negative (sign bit never set — banding and
    # xor/bit_count stay sign-free on both engines)
    assert 0 <= h_orig < (1 << 63)
    # determinism across calls
    assert phash_image(original) == h_orig
    _ = rng  # seeded above for future planted variants


def test_x88_pigeonhole_banding_is_exact_complete(spark):
    """The banded plan must equal brute force at the verify threshold:
    with 9 bands and hamming <= 8, pigeonhole guarantees every
    qualifying pair shares a band.  Verified on a synthetic hash set
    engineered with pairs at hamming 0, 8 (boundary), and 9 (just
    outside)."""
    from fanstats_producer_spark.operators.multimodal import (
        phash_near_dup_pairs,
    )

    base = 0x155555555555555  # alternating bits inside 63
    rows = [
        (1, base),
        (2, base),  # hamming 0 vs 1
        (3, base ^ ((1 << 8) - 1)),  # hamming 8 vs 1 (boundary, kept)
        (4, base ^ ((1 << 9) - 1)),  # hamming 9 vs 1 (dropped)
        (5, (1 << 62) | 7),  # far from everything
    ]
    df = spark.createDataFrame(rows, "doc_id long, phash long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_near_dup_pairs(df).collect()
    }
    # brute force over the same rows
    want = {}
    for i, (ida, ha) in enumerate(rows):
        for idb, hb in rows[i + 1 :]:
            d = bin(ha ^ hb).count("1")
            if d <= 8:
                want[(ida, idb)] = d
    assert got == want
    assert (1, 2) in got and got[(1, 2)] == 0
    assert (1, 3) in got and got[(1, 3)] == 8
    assert (1, 4) not in got


def test_x84_mines_positive_margins_on_planted_geometry(spark, tmp_path):
    """x84's weak-mark closer (VERDICT r8): on the base fixture every
    anchor's margin is negative (labels uncorrelated with cosine
    neighborhoods), which demonstrates the operator's arithmetic but
    not its MINING value.  With 10 same-label near neighbors planted
    per anchor (gen_sf planted_margins), the positive must beat the
    natural impostor ceiling for EVERY anchor — and the hard negative
    must still be a genuinely different-label vector."""
    from scripts.gen_sf import generate
    from fanstats_producer_spark.operators.similarity import (
        x84_hard_negatives,
    )

    d = str(tmp_path / "margins")
    generate(0.01, d, planted_margins=10)  # 200 vectors
    rows = x84_hard_negatives(spark, d).collect()
    assert len(rows) == 3
    assert all(r["margin_e6"] > 0 for r in rows), [
        r["margin_e6"] for r in rows
    ]
    # the planted positive is a near-copy: similarity must be high
    assert all(r["pos_sim_e6"] >= 600_000 for r in rows)
    # labels really were forced: pos/neg ids must differ per anchor
    assert all(r["pos_id"] != r["neg_id"] for r in rows)


def test_planted_margins_and_neighbors_are_disjoint(tmp_path):
    """Both planting arms must coexist without overwriting each other's
    ids (the x57 and x84 fixtures can be one fixture)."""
    import duckdb

    from scripts.gen_sf import generate

    d = str(tmp_path / "both")
    generate(0.01, d, planted_neighbors=5, planted_margins=5)
    con = duckdb.connect()
    n = con.execute(
        f"SELECT COUNT(*) FROM '{d}/embeddings.parquet'"
    ).fetchone()[0]
    assert n == 200  # sf0.01 embedding count unchanged by planting


def test_x90_audio_fingerprint_invariances():
    """Volume scaling preserves every strict energy inequality, so the
    fingerprint is identical; equal-segment splitting length-normalizes
    (a 2x-upsampled duplicate keeps the segment energy ORDERING); a
    structurally different signal is far away.  Codec roundtrip is part
    of the registered path, pinned here too."""
    import numpy as np

    from fanstats_producer_spark.operators.multimodal import (
        _X88_HAMMING,
        audio_fingerprint,
        decode_wav,
        encode_wav,
    )

    # per-segment constant amplitude, even values so halving is exact;
    # pattern gives distinct, non-monotonic energies across segments
    amps = np.array([((k * 37) % 29 + 1) * 20 for k in range(64)])
    s = np.repeat(amps, 100).astype(np.int16)  # 6400 samples
    fp = audio_fingerprint(s)
    assert 0 <= fp < (1 << 63)
    # volume: exact halving scales every energy by 1/4 -> same signs
    assert audio_fingerprint(s // 2) == fp
    # length: sample-doubling repeats each sample; segment boundaries
    # scale with the signal, so energies scale uniformly (2x) -> equal
    assert audio_fingerprint(np.repeat(s, 2)) == fp
    # a different signal (reversed amplitude pattern) is far away
    other = np.repeat(amps[::-1], 100).astype(np.int16)
    d = bin(fp ^ audio_fingerprint(other)).count("1")
    assert d > _X88_HAMMING, d
    # the registered path roundtrips the real codec: decoded samples
    # fingerprint identically
    _r, _c, _w, dec = decode_wav(encode_wav(s))
    assert audio_fingerprint(dec) == fp


def test_x92_weighted_sampling_favors_heavy_docs(spark, tmp_path):
    """A-Res property check on controlled weights: with 50 heavy docs
    (1000 tokens) among 450 light ones (1 token), the k=100 sample must
    include essentially every heavy doc (P[miss one] ~ (1/1000)-scale),
    and the key formula must match a hand recomputation.  Also pins the
    top-k plan: TakeOrderedAndProject, never a global sort."""
    import hashlib
    import math

    from fanstats_producer_spark.operators.sampling import (
        _X92_K,
        x92_weighted_sample,
    )

    rows = []
    for i in range(500):
        n_tok = 1000 if i < 50 else 1
        rows.append((i, "tok " * (n_tok - 1) + "tok", "en"))
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "wsf"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "lang": [r[2] for r in rows],
            }
        ),
        str(d / "documents.parquet"),
    )
    df = x92_weighted_sample(spark, str(d))
    got = df.collect()
    assert len(got) == _X92_K
    heavy = [r for r in got if r["n_tokens"] == 1000]
    assert len(heavy) >= 49  # all-but-at-most-one heavy doc sampled
    # hand-recompute one key
    r0 = got[0]
    h = hashlib.md5(str(r0["doc_id"]).encode()).hexdigest()
    u52 = int(h[1:14], 16) + 1
    want = math.floor(
        math.log(u52 / 4503599627370496.0) / r0["n_tokens"] * 1e9 + 0.5
    )
    assert r0["key_e9"] == want
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_x93_int8_quantization_error_bound(spark, tmp_path):
    """Codes stay in [0,255], the reconstruction error of every vector
    is bounded by half a quantization step of the WIDEST dimension, and
    a constant dimension (hi == lo) takes the code-0 guard instead of
    dividing by zero."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fanstats_producer_spark.operators.similarity import (
        x93_int8_embed_quant,
    )

    d = tmp_path / "qf"
    d.mkdir()
    vecs = [
        [0.0, 1.0, 5.0],
        [1.0, 1.0, -3.0],
        [0.5, 1.0, 2.0],
    ]  # dim 2 is CONSTANT
    pq.write_table(
        pa.table(
            {
                "vec_id": [0, 1, 2],
                "embedding": pa.array(vecs, type=pa.list_(pa.float32())),
                "label": [0, 0, 0],
            }
        ),
        str(d / "embeddings.parquet"),
    )
    rows = x93_int8_embed_quant(spark, str(d)).collect()
    assert len(rows) == 3
    # widest dimension spans 8.0 -> half-step bound = 8/255/2 ~ 0.0157
    bound_e9 = int(8.0 / 255 / 2 * 1e9) + 2
    for r in rows:
        assert 0 <= r["max_err_e9"] <= bound_e9, r
    # constant dim: all three vectors share code 0 there (no NaN/inf) —
    # digests must exist and differ across distinct vectors
    digests = {r["codes_md5"] for r in rows}
    assert len(digests) == 3 and None not in digests


def test_x97_bottomk_sample_is_mergeable_and_dkw_sane(spark):
    """x97's two load-bearing claims: (1) MERGEABILITY — the bottom-k
    -by-hash sample of a union equals re-truncating the union of the
    per-part samples (the property that makes it a sketch: partial
    samples from any partitioning/grain merge losslessly); (2) the
    order-statistic estimates land within the DKW band of the
    population quantiles (k=256 → eps ≈ 0.08 at 95%; assert 0.15)."""
    from fanstats_producer_spark.operators.sketches import (
        _X97_K,
        _X97_PCTS,
        bottomk_sample,
    )

    ev = load(spark, SF_DIR, "events").select("event_id", "value")
    full = bottomk_sample(ev, "event_id")
    part_a = bottomk_sample(ev.filter(F.col("event_id") % 2 == 0), "event_id")
    part_b = bottomk_sample(ev.filter(F.col("event_id") % 2 == 1), "event_id")
    merged = bottomk_sample(part_a.unionByName(part_b), "event_id")
    assert sorted(r.event_id for r in full.collect()) == sorted(
        r.event_id for r in merged.collect()
    )

    from fanstats_producer_spark.registry import QUERIES

    est = {
        r.pct: r.est_value
        for r in QUERIES["x97_quantile_sketch"](spark, SF_DIR).collect()
    }
    vals = sorted(r.value for r in ev.select("value").collect())
    n = len(vals)
    for pct, v in est.items():
        pop_cdf = sum(1 for x in vals if x <= v) / n
        assert abs(pop_cdf - pct / 100.0) <= 0.15, (pct, v, pop_cdf)


def test_x98_jl_projection_matches_hand_recomputation(spark):
    """x98's integer pipeline recomputed row-by-row in pure Python
    (hashlib md5 signs, explicit micro-quantization): every component
    for the first three vectors must match jl_project exactly — pins
    the sign derivation, the quantization order, and the zip_with sum
    against an implementation with no Spark in it."""
    import hashlib
    import math

    from fanstats_producer_spark.operators.similarity import (
        _X98_OUT,
        jl_project,
    )

    emb = load(spark, SF_DIR, "embeddings")
    rows = emb.orderBy("vec_id").limit(3).collect()
    got = {
        (r.vec_id, r.dim): r.comp_e6
        for r in jl_project(emb).filter(
            F.col("vec_id").isin([r.vec_id for r in rows])
        ).collect()
    }

    def sign(j, i):
        h = hashlib.md5(f"{j}:{i}".encode()).hexdigest()
        return 1 - 2 * (int(h[0], 16) % 2)

    for r in rows:
        q = [int(math.floor(float(v) * 1e6 + 0.5)) for v in r.embedding]
        for j in range(_X98_OUT):
            want = sum(qi * sign(j, i) for i, qi in enumerate(q))
            assert got[(r.vec_id, j)] == want, (r.vec_id, j)


def test_x99_rollup_global_equals_direct_bottomk(spark):
    """x99's pigeonhole claim, checked directly: the '_global' scope
    built by MERGING the per-group samples (union + re-truncate) must
    pick exactly the rows a direct global bottom-k over the raw table
    picks — min-k(∪_g min-k(group_g)) = min-k(all) when global
    k <= per-group k.  Also pins the per-group sample bound."""
    from fanstats_producer_spark.operators.sketches import (
        _X99_K,
        bottomk_sample,
    )
    from fanstats_producer_spark.registry import QUERIES

    ev = load(spark, SF_DIR, "events")
    direct = {
        r.event_id
        for r in bottomk_sample(
            ev.select("event_id", "value"), "event_id", _X99_K
        ).collect()
    }
    out = QUERIES["x99_quantile_rollup"](spark, SF_DIR)
    glob_src = {
        r.src_event_id
        for r in out.filter(F.col("scope") == "_global").collect()
    }
    assert glob_src <= direct  # every global pick came from the direct min-k
    # and the per-group sample the rollup reads from is bounded at k
    digest = F.md5(F.col("event_id").cast("string"))
    from pyspark.sql.window import Window as _W

    wg = _W.partitionBy("event_type").orderBy(digest, "event_id")
    gs = (
        ev.select("event_type", "event_id", "value")
        .withColumn("rk", F.row_number().over(wg))
        .filter(F.col("rk") <= _X99_K)
    )
    max_per_group = (
        gs.groupBy("event_type").count().agg(F.max("count")).collect()[0][0]
    )
    assert max_per_group <= _X99_K


def test_x101_aho_corasick_equals_brute_force():
    """The automaton's match counts equal exhaustive every-start-
    position probing on adversarial small-alphabet inputs (nested
    terms, overlapping runs, failure-link chains) — 300 random texts
    plus the classic hand cases."""
    import random

    from fanstats_producer_spark.functions.text_extra import (
        _aho_build,
        aho_scan,
    )

    def brute(text, terms):
        c = {}
        for t in terms:
            n = sum(
                1
                for p in range(len(text) - len(t) + 1)
                if text[p : p + len(t)] == t
            )
            if n:
                c[t] = n
        return c

    terms = ["a", "aa", "aaa", "ab", "ba", "bab", "abab"]
    auto = _aho_build(terms)
    assert aho_scan("aaaa", auto) == {"a": 4, "aa": 3, "aaa": 2}
    assert aho_scan("ababab", auto) == brute("ababab", terms)
    rng = random.Random(42)
    for _ in range(300):
        s = "".join(rng.choice("ab") for _ in range(rng.randrange(0, 40)))
        assert aho_scan(s, auto) == brute(s, terms), s
    # a second dictionary with longer failure chains
    terms2 = ["abcab", "bcabc", "cab", "abc", "c"]
    auto2 = _aho_build(terms2)
    for _ in range(300):
        s = "".join(rng.choice("abc") for _ in range(rng.randrange(0, 50)))
        assert aho_scan(s, auto2) == brute(s, terms2), s


def test_x102_mmr_matches_python_greedy_and_diversifies(spark):
    """mmr_rerank recomputed by a pure-Python greedy on the fixture's
    pool (cosines from the operator's own pool/psim relations, so the
    test pins the GREEDY, not float parity — that's the oracle's job):
    the trajectory must match step for step.  Also asserts MMR actually
    diversifies somewhere: some pick order differs from pure-relevance
    order (otherwise lambda is vacuous on this data)."""
    from fanstats_producer_spark.io import spread
    from fanstats_producer_spark.operators.similarity import (
        _X102_K,
        _X102_POOL,
        _X102_QUERIES,
        cosine,
        mmr_rerank,
        qint,
    )

    emb = spread(load(spark, SF_DIR, "embeddings"))
    got = sorted(
        (r.query_id, r.rnk, r.picked_id, r.mmr_score_e6)
        for r in mmr_rerank(emb).collect()
    )

    q = emb.filter(F.col("vec_id") < _X102_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    scored = (
        emb.select(
            F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv")
        )
        .join(F.broadcast(q), F.col("query_id") != F.col("cand_id"))
        .withColumn("rel_e6", qint(cosine(F.col("qv"), F.col("cv"))))
    )
    from pyspark.sql.window import Window as _W

    wp = _W.partitionBy("query_id").orderBy(
        F.col("rel_e6").desc(), F.col("cand_id").asc()
    )
    pool = (
        scored.withColumn("r", F.row_number().over(wp))
        .filter(F.col("r") <= _X102_POOL)
        .select("query_id", "cand_id", "rel_e6", "cv")
    ).collect()
    rel = {(r.query_id, r.cand_id): r.rel_e6 for r in pool}
    vecs = {(r.query_id, r.cand_id): list(r.cv) for r in pool}

    def cos_e6(a, b):
        import math

        dot = na = nb = 0.0
        for x, y in zip(a, b):
            x, y = float(x), float(y)
            dot += x * y
            na += x * x
            nb += y * y
        return math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6 + 0.5)

    want = []
    for qid in range(_X102_QUERIES):
        cands = sorted(c for (g, c) in rel if g == qid)
        ms = {c: 0 for c in cands}
        selected = []
        for rnk in range(1, _X102_K + 1):
            best = max(
                (7 * rel[(qid, c)] - 3 * ms[c], -c)
                for c in cands
                if c not in selected
            )
            score, c = best[0], -best[1]
            selected.append(c)
            want.append((qid, rnk, c, score))
            for o in cands:
                if o != c and o not in selected:
                    s = cos_e6(vecs[(qid, o)], vecs[(qid, c)])
                    ms[o] = max(ms[o], s)
    assert got == sorted(want)

    # diversity must bite: some trajectory differs from relevance order
    rel_order = {
        qid: [
            c
            for _, c in sorted(
                ((-rel[(qid, c)], c) for (g, c) in rel if g == qid)
            )[: _X102_K]
        ]
        for qid in range(_X102_QUERIES)
    }
    mmr_order = {
        qid: [c for (g, _, c, _) in sorted(want) if g == qid]
        for qid in range(_X102_QUERIES)
    }
    assert any(rel_order[q] != mmr_order[q] for q in rel_order)


def test_x102_mmr_driver_fast_path_matches_distributed_arm(spark):
    """The size-gated driver greedy (r13 optimization) and the
    distributed k-step loop must produce identical trajectories —
    same integers, same (mmr desc, cand_id asc) tie-break."""
    from fanstats_producer_spark.io import spread
    from fanstats_producer_spark.operators.similarity import mmr_rerank

    emb = spread(load(spark, SF_DIR, "embeddings"))
    fast = sorted(tuple(r) for r in mmr_rerank(emb).collect())
    dist = sorted(
        tuple(r) for r in mmr_rerank(emb, driver_threshold=0).collect()
    )
    assert fast == dist
    assert len(fast) > 0


def test_x103_jl_pipeline_finds_planted_near_duplicates(spark, tmp_path):
    """The JL shortlist's load-bearing guarantee: near-duplicate
    vectors (cosine ~ 1) survive projection (JL preserves large
    margins; it is the near-TIES the fixture's bulk loses).  Plant one
    near-identical partner per probe query among 300 noise vectors:
    every query's recall must include the planted partner (>= 1 of
    k=5 hits), even though noise neighbors may shuffle."""
    import random

    from fanstats_producer_spark.operators.similarity import (
        x103_jl_ann_recall,
    )

    rng = random.Random(7)
    rows = []
    for i in range(3):
        v = [rng.uniform(-1, 1) for _ in range(64)]
        rows.append((i, [float(x) for x in v], 0))
        # planted partner: same direction, tiny perturbation
        w = [float(x * 1.01 + (0.001 if d == 0 else 0)) for d, x in enumerate(v)]
        rows.append((100 + i, w, 0))
    for j in range(300):
        rows.append(
            (200 + j, [float(rng.uniform(-1, 1)) for _ in range(64)], 1)
        )
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{d}/embeddings.parquet")
    got = {r.query_id: r for r in x103_jl_ann_recall(spark, d).collect()}
    assert set(got) == {0, 1, 2}
    for qid, r in got.items():
        assert r.n_exact == 5
        assert r.n_hit >= 1, (qid, r)  # the planted partner survives JL


def test_x63_psi_hand_case(spark, tmp_path):
    """psi_from_counts against a plain-Python Laplace-smoothed PSI on a
    hand (source, bucket, n_ref, n_live) table: per source, p = (n + 1)
    / (t + n_buckets) over the source's observed buckets, each term
    (p_live - p_ref)·ln(p_live / p_ref) e9-quantized before the integer
    sum.  x63 then reaches the same rows from a documents fixture whose
    doc_id-parity halves and power-of-2 n_chars buckets make that
    table, and its DuckDB oracle agrees.  Source "b" has identical
    halves, so its PSI is exactly 0 (ln(1.0) is exact)."""
    import math

    import duckdb

    from fanstats_producer_spark.operators.quality_checks import (
        psi_from_counts,
        x63_psi_drift,
    )
    from fanstats_producer_spark.registry import ORACLE

    # (source, n_chars) per doc_id: even ids are the reference half
    docs = [
        ("a", 4), ("a", 5), ("a", 16), ("a", 7), ("a", 1), ("a", 0),
        ("a", 2), ("a", 40), ("b", 8), ("b", 9), ("b", 1000), ("b", 600),
    ]
    counts = {}
    for doc_id, (src, n_chars) in enumerate(docs):
        bucket = math.floor(math.log2(max(n_chars, 1)))
        ref, live = counts.get((src, bucket), (0, 0))
        counts[(src, bucket)] = (
            (ref + 1, live) if doc_id % 2 == 0 else (ref, live + 1)
        )
    # a: buckets 0 (1 ref, 1 live), 1 (1, 0), 2 (1, 2), 4 (1, 0), 5 (0, 1)
    assert counts[("a", 2)] == (1, 2) and counts[("a", 5)] == (0, 1)

    want = {}
    for src in ("a", "b"):
        cells = [v for (s, _), v in counts.items() if s == src]
        t_ref = sum(r for r, _ in cells)
        t_live = sum(lv for _, lv in cells)
        psi = 0
        for n_ref, n_live in cells:
            p_live = float(n_live + 1) / (t_live + len(cells))
            p_ref = float(n_ref + 1) / (t_ref + len(cells))
            psi += math.floor(
                (p_live - p_ref) * math.log(p_live / p_ref) * 1e9 + 0.5
            )
        want[src] = (psi, t_ref, t_live)
    assert want["a"][0] > 0 and want["b"] == (0, 2, 2)

    table = spark.createDataFrame(
        [(s, b, r, lv) for (s, b), (r, lv) in counts.items()],
        "source string, bucket long, n_ref long, n_live long",
    )
    got = {
        r.source: (r.psi_e9, r.n_ref, r.n_live)
        for r in psi_from_counts(table, "source").collect()
    }
    assert got == want

    d = str(tmp_path)
    spark.createDataFrame(
        [(i, f"doc {i}", "en", s, n) for i, (s, n) in enumerate(docs)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.parquet(f"{d}/documents.parquet")
    rows = x63_psi_drift(spark, d).collect()
    assert {r.source: (r.psi_e9, r.n_ref, r.n_live) for r in rows} == want
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT *"
        f" FROM '{d}/documents.parquet/*.parquet'"
    )
    oracle = con.execute(ORACLE["x63_psi_drift"]).fetchall()
    assert {s: (p, r, lv) for s, p, r, lv in oracle} == want


def test_x105_ks_hand_case(spark, tmp_path):
    """Exact KS on a hand-computable frame: A=[1,2,2,5] vs B=[2,3]
    gives D = 1/4 (integer d_num 2 over n_a·n_b = 8); an identical
    pair C == D gives D = 0.  Written as a real events.parquet so the
    operator's own load path runs."""
    import datetime

    from fanstats_producer_spark.operators.quality_checks import (
        x105_ks_two_sample,
    )

    ts = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for t, vals in [
        ("A", [1.0, 2.0, 2.0, 5.0]),
        ("B", [2.0, 3.0]),
        ("C", [1.0, 4.0]),
        ("D", [1.0, 4.0]),
    ]:
        for v in vals:
            rows.append((eid, ts, 1, t, v, "{}"))
            eid += 1
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{d}/events.parquet")
    got = {
        (r.type_a, r.type_b): (r.d_num, r.n_a, r.n_b, r.ks_e6)
        for r in x105_ks_two_sample(spark, d).collect()
    }
    assert got[("A", "B")] == (2, 4, 2, 250000)
    assert got[("C", "D")] == (0, 2, 2, 0)
    # completeness: all C(4,2)=6 unordered pairs present
    assert len(got) == 6


def test_x106_rouge2_hand_case(spark, tmp_path):
    """ROUGE-2 on a hand-computable near-dup pair: doc 1 repeats 'a b'
    twice where doc 0 has it three times — clipped overlap counts the
    MIN per bigram (the clipping is the point of ROUGE), and F1
    reduces to 2·ov/(ta+tb)."""
    import math

    from fanstats_producer_spark.operators.scoring import (
        x106_rouge2_pairs,
    )

    # doc0: a b a b a b  -> bigrams {ab:3, ba:2}, total 5
    # doc1: a b a b x    -> bigrams {ab:2, ba:1, bx:1}, total 4
    # Jaccard on distinct 3-shingles passes the 0.5 gate:
    #   doc0 3-shingles {aba, bab}, doc1 {aba, bab, abx} -> J = 2/3
    d = str(tmp_path)
    spark.createDataFrame(
        [
            (0, "a b a b a b", "en", "s", 11),
            (1, "a b a b x", "en", "s", 9),
        ],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.parquet(f"{d}/documents.parquet")
    rows = x106_rouge2_pairs(spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.id_a, r.id_b) == (0, 1)
    ov = min(3, 2) + min(2, 1)  # ab clipped to 2, ba clipped to 1
    assert r.rouge2_p_e6 == math.floor(ov / 4 * 1e6 + 0.5)
    assert r.rouge2_r_e6 == math.floor(ov / 5 * 1e6 + 0.5)
    assert r.rouge2_f1_e6 == math.floor(2 * ov / 9 * 1e6 + 0.5)


def test_x107_mannwhitney_hand_case(spark, tmp_path):
    """Doubled-midrank arithmetic on a hand case WITH ties:
    A=[1,3,3], B=[2,3] — pooled sorted [1,2,3,3,3]: midranks
    1, 2, 4, 4, 4 (the three 3s share (3+4+5)/3 = 4).  R_a = 1+4+4=9,
    U_a = 9 - 3·4/2 = 3 (so u2_a = 6), AUC = 3/6 = 0.5.  Cross-check:
    direct pair counting gives U_a = #(a>b) + #(a=b)/2 = 2 + 2/2 = 3."""
    import datetime

    from fanstats_producer_spark.operators.quality_checks import (
        x107_mannwhitney_auc,
    )

    ts = datetime.datetime(2024, 1, 1)
    rows = []
    for i, (t, v) in enumerate(
        [("A", 1.0), ("A", 3.0), ("A", 3.0), ("B", 2.0), ("B", 3.0)]
    ):
        rows.append((i, ts, 1, t, v, "{}"))
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{d}/events.parquet")
    got = x107_mannwhitney_auc(spark, d).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.type_a, r.type_b, r.n_a, r.n_b) == ("A", "B", 3, 2)
    assert r.u2_a == 6  # 2*U_a with U_a = 3
    assert r.auc_e6 == 500000


def test_x109_chi2_hand_case(spark, tmp_path):
    """Hand-recomputed chi² on a 2×2 table with uneven margins.

    Counts: (en,web)=2 (en,book)=1 (fr,web)=1 (fr,book)=1, N=5.
    Margins: r_en=3 r_fr=2, c_web=3 c_book=2.  E(en,web)=9/5=1.8,
    E(en,book)=6/5=1.2, E(fr,web)=6/5=1.2, E(fr,book)=4/5=0.8.
    Expected contribs replicate the engine expression in Python
    floats — the SAME correctly-rounded IEEE ops (self-multiplied
    square, never pow), so the e6 floors agree bit-exactly.
    dof = (2-1)·(2-1) = 1."""
    import math

    from fanstats_producer_spark.operators.quality_checks import (
        x109_chi2_independence,
    )

    counts = {
        ("en", "web"): 2,
        ("en", "book"): 1,
        ("fr", "web"): 1,
        ("fr", "book"): 1,
    }
    rows = []
    i = 0
    for (lang, src), c in counts.items():
        for _ in range(c):
            rows.append((i, f"doc {i}", lang, src, 5))
            i += 1
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.parquet(f"{d}/documents.parquet")

    n = 5
    marg_r = {"en": 3, "fr": 2}
    marg_c = {"web": 3, "book": 2}
    expect = {}
    for (lang, src), o in counts.items():
        e = float(marg_r[lang] * marg_c[src]) / n
        expect[(lang, src)] = math.floor((o - e) * (o - e) / e * 1e6 + 0.5)
    # literal pins so a formula change on both sides can't hide:
    # (2-1.8)²/1.8 = .0222̄ → 22222; (1-1.2)²/1.2 = .0333̄ → 33333;
    # (1-0.8)²/0.8 = .05 → 50000 (the IEEE square of the 0.2
    # representation lands each just below the next floor boundary)
    assert expect[("en", "web")] == 22222
    assert expect[("en", "book")] == 33333
    assert expect[("fr", "web")] == 33333
    assert expect[("fr", "book")] == 50000
    chi2 = sum(expect.values())

    got = {(r.lang, r.source): r for r in x109_chi2_independence(spark, d).collect()}
    assert set(got) == set(counts)
    for cell, r in got.items():
        assert r.o == counts[cell]
        assert r.contrib_e6 == expect[cell]
        assert r.chi2_e6 == chi2
        assert r.dof == 1


def test_x110_kn5_hand_case(spark, tmp_path):
    """Full 5-gram KN recursion re-derived in plain Python on a tiny
    two-doc corpus with a REPEATED 5-gram (so the top order is
    exercised, not just backoff).  The reference implementation below
    builds the same count tables (raw 5-gram counts, then continuation
    counts per level, then the continuation unigram) and evaluates the
    same nested interpolation with the same IEEE ops in the same
    order, so lg and the e4 bits agree bit-exactly."""
    import math
    from collections import Counter, defaultdict

    from fanstats_producer_spark.operators.llm_data import (
        x110_kn_5gram_bits,
    )

    docs = {
        0: "a b c d e a b c d e a b c d f".split(),
        1: "a b c d e".split(),
    }
    d = str(tmp_path)
    spark.createDataFrame(
        [(i, " ".join(t), "en", "web", len(" ".join(t))) for i, t in docs.items()],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.parquet(f"{d}/documents.parquet")

    # --- reference KN, mirroring the operator's structure -------------
    grams = {
        i: [tuple(t[j : j + 5]) for j in range(len(t) - 4)]
        for i, t in docs.items()
    }
    c5 = Counter(g for gs in grams.values() for g in gs)
    m4 = Counter({k[1:] for k in c5})  # distinct left extensions
    m4 = Counter(
        {g4: sum(1 for k in c5 if k[1:] == g4) for g4 in {k[1:] for k in c5}}
    )
    m3 = Counter(
        {g3: sum(1 for k in m4 if k[1:] == g3) for g3 in {k[1:] for k in m4}}
    )
    m2 = Counter(
        {g2: sum(1 for k in m3 if k[1:] == g2) for g2 in {k[1:] for k in m3}}
    )
    cont = Counter(
        {e: sum(1 for k in m2 if k[1:] == (e,)) for e in {k[1] for k in m2}}
    )
    T = sum(cont.values())

    def ctx_n1(table, klen):
        ctx, n1 = defaultdict(int), defaultdict(int)
        for k, c in table.items():
            ctx[k[: klen - 1]] += c
            n1[k[: klen - 1]] += 1
        return ctx, n1

    ctx5, n15 = ctx_n1(c5, 5)
    ctx4, n14 = ctx_n1(m4, 4)
    ctx3, n13 = ctx_n1(m3, 3)
    ctx2, n12 = ctx_n1(m2, 2)

    def prob(g):
        p = cont[g[4:5][0]] / T
        p = (4 * m2[g[3:]] - 3) / (4 * ctx2[g[3:4]]) + (
            3 * n12[g[3:4]]
        ) / (4 * ctx2[g[3:4]]) * p
        p = (4 * m3[g[2:]] - 3) / (4 * ctx3[g[2:4]]) + (
            3 * n13[g[2:4]]
        ) / (4 * ctx3[g[2:4]]) * p
        p = (4 * m4[g[1:]] - 3) / (4 * ctx4[g[1:4]]) + (
            3 * n14[g[1:4]]
        ) / (4 * ctx4[g[1:4]]) * p
        return (4 * c5[g] - 3) / (4 * ctx5[g[:4]]) + (3 * n15[g[:4]]) / (
            4 * ctx5[g[:4]]
        ) * p

    expect = {}
    for i, gs in grams.items():
        lgs = [math.floor(math.log2(prob(g)) * 1e7 + 0.5) for g in gs]
        expect[i] = (
            len(gs),
            math.floor(-float(sum(lgs)) / 1e7 / len(gs) * 1e4 + 0.5),
        )
    # sanity on the fixture itself: doc1's single 5-gram occurs 3x in
    # the corpus (2x in doc0), so the top-order term is exercised
    assert c5[tuple("abcde")] == 3
    # the two docs must land on distinct scores (a degenerate model —
    # all mass on one backoff term — would collapse them)
    assert expect[0][1] != expect[1][1]

    got = {r.doc_id: r for r in x110_kn_5gram_bits(spark, d).collect()}
    assert set(got) == {0, 1}
    for i, (n5, bits) in expect.items():
        assert got[i].n_5grams == n5
        assert got[i].kn5_bits_per_token_e4 == bits


def test_x113_mi_cramers_hand_case(spark, tmp_path):
    """MI + Cramér's V recomputed in plain Python on the x109 hand
    table: counts (en,web)=2 (en,book)=1 (fr,web)=1 (fr,book)=1, N=5,
    margins r_en=3 r_fr=2 c_web=3 c_book=2.  Contributions replicate
    the engine expression (two exact-int divisions around log2,
    e9-quantized); V derives from the exact chi2_e6 sum via the same
    sqrt expression.  A perfectly-independent 2x2 table (all cells
    equal) must report MI contributions of 0 and V = 0 exactly —
    log2(1.0) and sqrt(0.0) are exact in IEEE."""
    import math

    from fanstats_producer_spark.operators.quality_checks import (
        x113_mi_cramers_v,
    )

    counts = {
        ("en", "web"): 2,
        ("en", "book"): 1,
        ("fr", "web"): 1,
        ("fr", "book"): 1,
    }
    n = 5
    marg_r = {"en": 3, "fr": 2}
    marg_c = {"web": 3, "book": 2}
    rows = []
    i = 0
    for (lang, src), c in counts.items():
        for _ in range(c):
            rows.append((i, f"doc {i}", lang, src, 5))
            i += 1
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.parquet(f"{d}/documents.parquet")

    mi_c, chi_c = {}, {}
    for (lang, src), o in counts.items():
        r, c = marg_r[lang], marg_c[src]
        e = float(r * c) / n
        chi_c[(lang, src)] = math.floor((o - e) * (o - e) / e * 1e6 + 0.5)
        mi_c[(lang, src)] = math.floor(
            float(o) / n * math.log2(float(o * n) / float(r * c)) * 1e9
            + 0.5
        )
    mi = sum(mi_c.values())
    chi2_e6 = sum(chi_c.values())
    v = math.floor(
        math.sqrt(chi2_e6 / 1e6 / (float(n) * 1)) * 1e6 + 0.5
    )
    got = {(r.lang, r.source): r for r in x113_mi_cramers_v(spark, d).collect()}
    assert set(got) == set(counts)
    for cell, r in got.items():
        assert r.o == counts[cell]
        assert r.mi_contrib_e9 == mi_c[cell]
        assert r.mi_e9 == mi
        assert r.cramers_v_e6 == v
    # MI must be positive on this dependent table
    assert mi > 0

    # independence: 1 doc per cell -> every contribution 0, V = 0
    d2 = str(tmp_path / "indep")
    spark.createDataFrame(
        [(i, f"d{i}", l, s, 2)
         for i, (l, s) in enumerate(
             [(l, s) for l in ("en", "fr") for s in ("web", "book")]
         )],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.parquet(f"{d2}/documents.parquet")
    got2 = x113_mi_cramers_v(spark, d2).collect()
    assert len(got2) == 4
    for r in got2:
        assert r.mi_contrib_e9 == 0
        assert r.mi_e9 == 0
        assert r.cramers_v_e6 == 0


def test_x114_embedding_drift_hand_case(spark, tmp_path):
    """Hand-recomputed centroid shift on a 2-dim, 2-label corpus.

    label 0: ref half (vec_id 0,2) = [0.5,0.0],[0.25,0.25];
             live half (vec_id 1,3) = [0.0,0.5],[0.25,-0.25].
    Means: ref (0.375,0.125), live (0.125,0.125) -> diff (0.25,0),
    L2 = 0.25 -> 250000 e6.  Engine path: q sums s_ref=(750000,
    250000), s_live=(250000,250000), n=2 each; d=(1000000,0);
    shift2=1e12; sqrt/(2*2)=250000 exactly.
    label 1: identical vectors in both halves -> shift 0 (the
    no-drift floor).  All components are exactly representable in
    float32 so the quantization is exact and the pin is bitwise."""
    from fanstats_producer_spark.operators.quality_checks import (
        x114_embedding_drift,
    )

    rows = [
        (0, [0.5, 0.0], 0),
        (2, [0.25, 0.25], 0),
        (1, [0.0, 0.5], 0),
        (3, [0.25, -0.25], 0),
        (4, [0.125, 0.75], 1),
        (5, [0.125, 0.75], 1),
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{d}/embeddings.parquet")
    got = {
        r.label: (r.n_ref, r.n_live, r.centroid_shift_e6)
        for r in x114_embedding_drift(spark, d).collect()
    }
    assert got == {0: (2, 2, 250000), 1: (1, 1, 0)}


def test_x115_drift_quarantine_hand_case(spark, tmp_path):
    """Hand-recomputed gate on exactly-representable components
    (all multiples of 1/16, exact in float32, so q is exact).

    Even-label-count arm: labels 0..3 hold one ref (even vec_id) and
    one live (odd) vector each, with live displaced along dim 0 by
    .125/.25/.375/.5 -> shifts 125000/250000/375000/500000 e6.
    n_lab=4 -> median ranks 2,3 -> sum_mid = 625000; breach rule
    40*s >= 21*625000 = 13125000 -> s >= 328125 -> labels 2,3
    quarantine their live vectors (vec_id 5, 7).

    Odd-count arm: a 5th label with shift 62500 makes n_lab=5 ->
    the single middle rank 3 counts twice -> sum_mid = 2*250000;
    threshold s >= 262500 -> still exactly labels 2,3."""
    from fanstats_producer_spark.operators.quality_checks import (
        x115_drift_quarantine,
    )

    def write(d, labels):
        rows = []
        for lbl, disp in labels:
            rows.append((2 * lbl, [0.0, 0.0], lbl))
            rows.append((2 * lbl + 1, [disp, 0.0], lbl))
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.parquet(f"{d}/embeddings.parquet")

    d1 = str(tmp_path / "even")
    write(d1, [(0, 0.125), (1, 0.25), (2, 0.375), (3, 0.5)])
    got = {
        r.vec_id: (r.label, r.centroid_shift_e6, r.quarantined)
        for r in x115_drift_quarantine(spark, d1).collect()
    }
    assert got == {
        1: (0, 125000, 0),
        3: (1, 250000, 0),
        5: (2, 375000, 1),
        7: (3, 500000, 1),
    }

    d2 = str(tmp_path / "odd")
    write(d2, [(0, 0.125), (1, 0.25), (2, 0.375), (3, 0.5), (4, 0.0625)])
    got2 = {
        r.vec_id: r.quarantined
        for r in x115_drift_quarantine(spark, d2).collect()
    }
    assert got2 == {1: 0, 3: 0, 5: 1, 7: 1, 9: 0}


def test_jaccard_pairs_hot_list_join_arm_identical(spark, monkeypatch):
    """sf10 probe finding (round 13): posting lists hotter than
    _JACCARD_HOT_DF stream their pairs through a positional self-join
    instead of the one-array map-side expansion (whose single-row
    allocation grows df^2 and killed the sf10 JVM).  Both arms must
    emit the IDENTICAL pair set: force the join arm with a tiny
    threshold on a corpus whose planted common shingle has df=12 and
    compare against the default (map-side) output."""
    from fanstats_producer_spark.operators import dedup

    rows = []
    for i in range(12):
        # every doc shares the shingle "c0 c1 c2"; docs also carry a
        # per-doc tail so Jaccard varies and some pairs fall below 0.05
        rows.append((i, f"c0 c1 c2 t{i} u{i % 3} v{i % 2}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    base = {
        (r.id_a, r.id_b, r.jaccard_e6)
        for r in dedup.jaccard_pairs(docs, threshold=0.05).collect()
    }
    monkeypatch.setattr(dedup, "_JACCARD_HOT_DF", 2)
    hot = {
        (r.id_a, r.id_b, r.jaccard_e6)
        for r in dedup.jaccard_pairs(docs, threshold=0.05).collect()
    }
    assert base == hot and len(base) > 0

"""Planted-case semantics tests for the round-4 corpus/scale operators
(operators/corpus_extra.py): runtime-filter result parity with the
unfiltered join, CMS over-count invariant, KMV estimate bounds, span
dedup on a crafted duplicate corpus, Gopher rule bits on boundary docs,
WMA kernel math at the head of a series.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from conftest import SF_DIR
from fanstats_producer_spark import registry
from fanstats_producer_spark.operators import corpus_extra as cx


def _md5_long(s: str, hexlen: int) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:hexlen], 16)


def test_md5_long_matches_python(spark):
    out = (
        spark.range(1)
        .select(cx._md5_long(F.lit("spark"), 15).alias("h"))
        .collect()[0]
        .h
    )
    assert out == _md5_long("spark", 15)


def test_x36_matches_unfiltered_join(spark):
    """The bitmap pre-filter must not change the join result."""
    pruned = registry.QUERIES["x36_runtime_filter"](spark, SF_DIR)
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 150000)
    )
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    plain = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_items"))
    )
    got = {r.o_orderpriority: r.n_items for r in pruned.collect()}
    want = {r.o_orderpriority: r.n_items for r in plain.collect()}
    assert got == want and len(got) > 0


def test_x37_cms_never_undercounts(spark):
    rows = registry.QUERIES["x37_heavy_hitters"](spark, SF_DIR).collect()
    assert len(rows) == 20
    assert all(r.overcount >= 0 for r in rows)
    assert all(r.cms_est == r.exact_n + r.overcount for r in rows)


def test_x38_kmv_est_reasonable(spark):
    rows = registry.QUERIES["x38_kmv_distinct"](spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        if r.exact_distinct <= cx._KMV_K:
            assert r.kmv_est == r.exact_distinct
        else:
            # KMV with k=64 has ~1/sqrt(62) relative error; 3 sigma bound
            assert abs(r.kmv_est - r.exact_distinct) < 0.5 * r.exact_distinct


def test_x39_span_dedup_planted(spark):
    """Two docs sharing an 8-token chunk: the later doc loses it."""
    chunk = " ".join(f"w{i}" for i in range(cx._SPAN))
    tail_a = " ".join(f"a{i}" for i in range(cx._SPAN))
    tail_b = " ".join(f"b{i}" for i in range(cx._SPAN))
    docs = spark.createDataFrame(
        [(1, f"{chunk} {tail_a}"), (2, f"{chunk} {tail_b}")],
        "doc_id long, text string",
    )
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    chunks = (
        toks.withColumn("cno", (F.col("pos") / cx._SPAN).cast("long"))
        .groupBy("doc_id", "cno")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s.tok,
                ),
                " ",
            ).alias("chunk")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5("chunk")).orderBy("doc_id", "cno")
    ranked = chunks.withColumn("occ", F.row_number().over(w))
    out = {
        r.doc_id: (r.n_chunks, r.n_kept)
        for r in ranked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.count(F.when(F.col("occ") == 1, 1)).alias("n_kept"),
        )
        .collect()
    }
    assert out[1] == (2, 2)      # first occurrence keeps everything
    assert out[2] == (2, 1)      # shared chunk dropped from the later doc


def test_x39_clean_fp_is_first_doc_text(spark):
    """Fixture-level: doc with all-unique chunks keeps its exact text."""
    rows = registry.QUERIES["x39_span_dedup"](spark, SF_DIR)
    full = rows.filter(F.col("n_chunks") == F.col("n_kept")).limit(1).collect()
    if not full:
        return
    doc_id = full[0].doc_id
    text = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(F.col("doc_id") == doc_id)
        .collect()[0]
        .text
    )
    assert full[0].clean_fp == hashlib.md5(text.encode()).hexdigest()


def test_x40_rule_bits_boundaries(spark):
    """Planted docs hitting each rule edge."""
    good = " ".join(["the"] + [f"tok{i}" for i in range(49)])   # 50 words, has stopword
    short = "the quick fox"                                      # wc < 40
    dominated = " ".join(["the"] * 30 + [f"t{i}" for i in range(20)])  # dom > 0.2
    docs = spark.createDataFrame(
        [(1, good), (2, short), (3, dominated)], "doc_id long, text string"
    )
    docs.createOrReplaceTempView("___x40_docs")
    d = docs.withColumn("toks", F.split("text", " "))
    # reuse the registered query's logic via a temp parquet round-trip is
    # overkill — drive the same rule exprs directly
    dom = (
        d.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_tok"))
    )
    wc = F.size("toks").cast("double")
    feat = d.join(dom, "doc_id").select(
        "doc_id",
        F.size("toks").alias("wc"),
        (F.col("top_tok").cast("double") / wc).alias("dom_ratio"),
    ).collect()
    by_id = {r.doc_id: r for r in feat}
    assert by_id[1].wc == 50 and by_id[2].wc == 3
    assert by_id[3].dom_ratio > 0.2 and by_id[1].dom_ratio <= 0.2


def test_x40_fixture_keep_consistent(spark):
    rows = registry.QUERIES["x40_gopher_rules"](spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.keep == (r.rule_bits == 31)


def test_q61_wma_head_of_series(spark):
    """First event of a user: WMA equals the value itself (weight 5/5);
    second: (5*x2 + 4*x1) / 9."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    events = spark.createDataFrame(
        [
            (1, t0, 7, "click", 10.0, "{}"),
            (2, t0 + datetime.timedelta(minutes=1), 7, "click", 20.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        for t in ["events"]:
            events.write.parquet(f"{td}/{t}.parquet")
        out = {
            r.event_id: r.wma_e6
            for r in registry.QUERIES["q61_wma"](spark, td).collect()
        }
    assert out[1] == 10_000_000
    assert out[2] == int((5 * 20.0 + 4 * 10.0) / 9.0 * 1e6 + 0.5)


def test_q65_pagerank_star_center_wins(spark):
    """On a star graph the center must out-rank every leaf."""
    import tempfile
    import datetime

    # star: customer 1 orders from suppliers 1..8; customers 2..9 order
    # from supplier 1 only -> supplier 1 (node 10000001) is the hub
    orders = spark.createDataFrame(
        [(i, i, "F", 100.0, datetime.datetime(2024, 1, 1), "1-URGENT") for i in range(1, 10)],
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    li_rows = [(1, 100 + s, s, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", datetime.datetime(2024, 1, 2)) for s in range(1, 9)]
    li_rows += [(o, 200 + o, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", datetime.datetime(2024, 1, 2)) for o in range(2, 10)]
    li = spark.createDataFrame(
        li_rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, l_quantity double, l_extendedprice double, l_discount double, l_tax double, l_returnflag string, l_linestatus string, l_shipdate timestamp",
    )
    with tempfile.TemporaryDirectory() as td:
        orders.write.parquet(f"{td}/orders.parquet")
        li.write.parquet(f"{td}/lineitem.parquet")
        rows = registry.QUERIES["q65_pagerank"](spark, td).collect()
    top = rows[0]
    assert top.node == 10_000_001          # supplier 1 = hub
    assert all(top.rank_e9 >= r.rank_e9 for r in rows)


def test_x41_sampling_deterministic(spark):
    a = {r.doc_id for r in registry.QUERIES["x41_importance_sample"](spark, SF_DIR).collect()}
    b = {r.doc_id for r in registry.QUERIES["x41_importance_sample"](spark, SF_DIR).collect()}
    assert a == b and len(a) > 0


def test_x42_frame_math_planted(spark):
    """97 bytes at 32-byte frames -> 4 frames (last partial); stride 4
    samples exactly frame 0."""
    import hashlib as _h

    from fanstats_producer_spark.operators.multimodal import x42_sample_worker
    import pandas as pd

    pdf = pd.DataFrame({"doc_id": [1], "payload": [b"x" * 97]})
    out = pd.concat(list(x42_sample_worker(iter([pdf]))))
    r = out.iloc[0]
    assert r.n_frames == 4 and r.n_sampled == 1
    assert r.sample_fp == _h.md5(b"x" * 32).hexdigest()


def test_q66_histogram_invariants(spark):
    rows = registry.QUERIES["q66_histogram"](spark, SF_DIR).collect()
    assert 1 <= len(rows) <= 10
    total = sum(r.n for r in rows)
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").count()
    assert total == orders
    for r in rows:
        assert r.bucket_lo_e2 < r.bucket_hi_e2


def test_x44_split_deterministic_and_complete(spark):
    rows = registry.QUERIES["x44_train_val_test"](spark, SF_DIR).collect()
    total = sum(r.n_docs for r in rows)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert total == docs
    splits = {r.split for r in rows}
    assert splits <= {"train", "val", "test"}
    agg = {}
    for r in rows:
        agg[r.split] = agg.get(r.split, 0) + r.n_docs
    # 80/10/10 within md5-bucket tolerance on a small fixture
    assert agg["train"] > agg.get("val", 0) and agg["train"] > agg.get("test", 0)
    again = {(r.source, r.split): r.n_docs
             for r in registry.QUERIES["x44_train_val_test"](spark, SF_DIR).collect()}
    assert again == {(r.source, r.split): r.n_docs for r in rows}


def test_x45_metric_identities(spark):
    r = registry.QUERIES["x45_neardup_quality"](spark, SF_DIR).collect()[0]
    assert r.tp >= 0 and r.fp >= 0 and r.fn >= 0
    assert 0 <= r.precision_e6 <= 1_000_000
    assert 0 <= r.recall_e6 <= 1_000_000
    # identity: precision = tp/(tp+fp), recall = tp/(tp+fn) (e6-quantized)
    import math
    if r.tp + r.fp:
        assert r.precision_e6 == math.floor(r.tp / (r.tp + r.fp) * 1e6 + 0.5)
    if r.tp + r.fn:
        assert r.recall_e6 == math.floor(r.tp / (r.tp + r.fn) * 1e6 + 0.5)


def test_pagerank_driver_fast_path_matches_broadcast(spark):
    """The size-gated driver numpy arm (r13) must produce bit-identical
    (node, rank, outdeg) rows to the broadcast arm — same int64
    floor-division arithmetic, scatter-summed."""
    from pyspark.sql import functions as F

    from fanstats_producer_spark.operators.graph import pagerank_ranks

    e0 = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (3, 11), (4, 11), (5, 12)],
        "src long, dst long",
    )
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    broad = sorted(
        tuple(r)
        for r in pagerank_ranks(edges, driver_threshold=None).collect()
    )
    driver = sorted(
        tuple(r)
        for r in pagerank_ranks(edges, driver_threshold=1_000).collect()
    )
    assert broad == driver and len(driver) == 8
    # threshold below the edge count must fall through to distributed
    fallthrough = sorted(
        tuple(r)
        for r in pagerank_ranks(edges, driver_threshold=3).collect()
    )
    assert fallthrough == broad


def test_tail_quantile_approx_fallback(spark):
    """Forcing the 100 TB path (exact_tail_limit=0) switches to the
    percentile_approx sketch; at full accuracy on small data it lands on
    the same flanking order statistics (within interpolation width)."""
    from fanstats_producer_spark.io import load as _load
    from fanstats_producer_spark.operators.quality_checks import (
        _exact_tail_quantile,
    )
    from conftest import SF_DIR

    li = _load(spark, SF_DIR, "lineitem")
    exact = _exact_tail_quantile(li, "l_extendedprice", 0.99)
    approx = _exact_tail_quantile(li, "l_extendedprice", 0.99, exact_tail_limit=0)
    # percentile_approx returns an actual order statistic near the
    # quantile; tolerance = 1% of the exact value covers the sketch's
    # rank error at accuracy=10000 without blessing a wrong tail
    assert abs(approx - exact) <= 0.01 * abs(exact)


def test_x74_containment_catches_embedded_doc(spark, tmp_path):
    """Planted asymmetric case: a 10-token document embedded verbatim
    inside a 200-token one.  Containment(a in b) = 1.0 fires at the 0.8
    bar while symmetric Jaccard (~3/193 distinct windows) sits far
    below any resemblance threshold — the duplication class x04 misses
    by construction and x74 exists for."""
    d = str(tmp_path / "embedded")  # only documents.parquet is read
    words = [f"w{i}" for i in range(200)]
    short = " ".join(words[50:60])           # 10 tokens, 3 windows
    long_ = " ".join(words)                  # contains short verbatim
    spark.createDataFrame(
        [(900001, short, "en", "synthetic", len(short)),
         (900002, long_, "en", "synthetic", len(long_))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    rows = {
        (r.id_a, r.id_b): r
        for r in registry.QUERIES["x74_containment_dup"](spark, d).collect()
    }
    hit = rows[(900001, 900002)]
    assert hit.containment_e6 == 1_000_000  # every window of a is in b
    assert hit.size_a == 3
    # the reverse direction must NOT fire: b is nowhere near contained in a
    assert (900002, 900001) not in rows

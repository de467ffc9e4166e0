"""Round-4 corpus/scale operators: runtime-filter join, count-min
heavy hitters, KMV distinct sketch, span-level corpus dedup, Gopher
quality rules, weighted moving average.

Reference parity: the reference (AJ2O/fanstats-producer src/main.py)
delegates all analytics to Athena SQL; these are the additional
training-data-pipeline operators a 100 TB corpus run needs on top of
that surface (SURVEY.md §2C "+" ops).  Every op is pure DataFrame API
with a bilateral DuckDB oracle; hash randomness is md5-derived so both
engines agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fanstats_producer_spark.functions.num import qint, sql_qint
from fanstats_producer_spark.io import load, spread
from fanstats_producer_spark.registry import query


def _md5_long(col, hexlen: int = 15):
    """First `hexlen` hex chars of md5 as a nonnegative BIGINT — the
    repo's cross-engine hash (mirrors DuckDB
    ``CAST(('0x' || substr(md5(x), 1, hexlen)) AS BIGINT)``)."""
    return F.conv(F.substring(F.md5(col), 1, hexlen), 16, 10).cast("long")


def _sql_md5_long(expr: str, hexlen: int = 15) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, {hexlen})) AS BIGINT)"


# --- x36: runtime-filter (bitmap-pruned shuffle join) -------------------------
#
# At 100 TB the probe side of a fact-fact join is too big to shuffle in
# full and the build side too big to broadcast — but the build side's
# *bucket bitmap* (distinct md5-bucket ids, <= n_buckets rows ~ KBs) is
# always broadcastable.  Pre-filtering the probe with a broadcast
# LEFT SEMI on the bitmap drops most probe rows BEFORE the shuffle (the
# DataFrame-level analogue of Spark's runtime bloom filter /
# InSubqueryExec DPP).  False positives only cost, never corrupt: the
# exact join afterwards keeps the result identical to the unfiltered
# plan, which is what the oracle checks.
_X36_BUCKETS = 4096


@query(
    "x36_runtime_filter",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           {sql_qint("SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))", 2)} AS revenue_e2
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F' AND o_totalprice > 150000
    GROUP BY o_orderpriority
    """,
)
def x36_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 150000)
    )
    lineitem = load(spark, sf_dir, "lineitem")
    # The bucket hash never reaches the result (false positives are
    # re-filtered by the exact join), so the cheap JVM xxhash64 is fine
    # here — no cross-engine md5 needed for an internal-only filter.
    bucket = lambda c: F.pmod(F.xxhash64(F.col(c)), F.lit(_X36_BUCKETS))  # noqa: E731
    bitmap = orders.select(bucket("o_orderkey").alias("__b")).distinct()
    pruned = lineitem.withColumn("__b", bucket("l_orderkey")).join(
        F.broadcast(bitmap), "__b", "left_semi"
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        pruned.join(orders, pruned.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            qint(F.sum(rev.cast("decimal(18,6)")), 2).alias("revenue_e2"),
        )
    )


# --- x37: count-min sketch heavy hitters --------------------------------------
#
# A CMS is the mergeable fixed-size answer to "token frequencies over
# 100 TB": each partition builds a (d x w) count grid from token hashes,
# grids add elementwise, and est(tok) = min_j grid[j][h_j(tok)] >= true
# count.  Here d=3, w=512; the row hashes are md5(tok || '#j') so the
# whole sketch is engine-independent and the oracle rebuilds it
# bit-for-bit, including the overestimation error (est - exact >= 0).
_CMS_D = 3
_CMS_W = 512


@query(
    "x37_heavy_hitters",
    oracle=f"""
    WITH exact AS (
      SELECT tok, COUNT(*) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY 1
    ),
    hashed AS (
      SELECT tok, n, j, {_sql_md5_long("tok || '#' || j", 8)} % {_CMS_W} AS b
      FROM exact CROSS JOIN (SELECT unnest(range({_CMS_D})) AS j)
    ),
    sketch AS (
      SELECT j, b, CAST(SUM(n) AS BIGINT) AS c FROM hashed GROUP BY 1, 2
    )
    SELECT tok, n AS exact_n, cms_est, cms_est - n AS overcount
    FROM (SELECT h.tok, h.n, MIN(s.c) AS cms_est
          FROM hashed h JOIN sketch s ON s.j = h.j AND s.b = h.b
          GROUP BY 1, 2)
    ORDER BY exact_n DESC, tok LIMIT 20
    """,
)
def x37_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One (tok) aggregate collapses the corpus to its vocabulary; the
    # d x w grid is then built from the per-token counts (sum of counts
    # per bucket == count of raw occurrences per bucket), so the 3x
    # hash explosion touches |vocab| rows, not |corpus| tokens.  At
    # 100 TB this is the partial-aggregation shape: token counts combine
    # map-side, and only the tiny vocab ever re-shuffles.
    exact = (
        spread(load(spark, sf_dir, "documents"))
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    js = F.array(*[F.lit(j) for j in range(_CMS_D)])
    hashed = exact.select("tok", "n", F.explode(js).alias("j")).withColumn(
        "b",
        _md5_long(F.concat(F.col("tok"), F.lit("#"), F.col("j").cast("string")), 8)
        % _CMS_W,
    )
    sketch = hashed.groupBy("j", "b").agg(F.sum("n").alias("c"))
    est = (
        hashed.select("tok", "n", "j", "b")
        .join(F.broadcast(sketch), ["j", "b"])
        .groupBy("tok", "n")
        .agg(F.min("c").alias("cms_est"))
    )
    return (
        est.select(
            "tok",
            F.col("n").alias("exact_n"),
            "cms_est",
            (F.col("cms_est") - F.col("n")).alias("overcount"),
        )
        .orderBy(F.col("exact_n").desc(), "tok")
        .limit(20)
    )


# --- x38: KMV distinct-count sketch -------------------------------------------
#
# K-minimum-values: hash every element to a uniform value, keep the k
# smallest distinct hashes per group; est = (k-1) * H / h_k where H is
# the hash range.  Mergeable (union the min-sets, re-take k smallest),
# fixed memory — the third sketch in the family next to HLL (x20) and
# the frequent-items sketch (x21).  md5-derived hashes make the
# estimate — and its signed error vs the exact distinct count —
# identical on both engines.
_KMV_K = 64
_KMV_HEX = 13          # hash range H = 16^13 ~ 4.5e15 (fits long math)
_KMV_H = float(16**_KMV_HEX)


@query(
    "x38_kmv_distinct",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    hashed AS (
      SELECT DISTINCT source, {_sql_md5_long("tok", _KMV_HEX)} AS h FROM toks
    ),
    ranked AS (
      SELECT source, h,
             row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n_distinct
      FROM hashed
    )
    SELECT source,
           CAST(n_distinct AS BIGINT) AS exact_distinct,
           CASE WHEN n_distinct <= {_KMV_K} THEN CAST(n_distinct AS BIGINT)
                ELSE CAST(floor(({_KMV_K} - 1) * {_KMV_H:.1f} / h + 0.5) AS BIGINT)
           END AS kmv_est
    FROM ranked
    WHERE rn = LEAST(n_distinct, {_KMV_K})
    """,
)
def x38_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashed = (
        spread(load(spark, sf_dir, "documents"))
        .select("source", F.explode(F.split("text", " ")).alias("tok"))
        .select("source", _md5_long(F.col("tok"), _KMV_HEX).alias("h"))
        .distinct()
    )
    w = Window.partitionBy("source").orderBy("h")
    wn = Window.partitionBy("source")
    ranked = hashed.select(
        "source",
        "h",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n_distinct"),
    )
    kth = ranked.filter(
        F.col("rn") == F.least(F.col("n_distinct"), F.lit(_KMV_K))
    )
    est = F.when(
        F.col("n_distinct") <= _KMV_K, F.col("n_distinct").cast("long")
    ).otherwise(
        F.floor(F.lit(float(_KMV_K - 1)) * F.lit(_KMV_H) / F.col("h") + F.lit(0.5)).cast(
            "long"
        )
    )
    return kth.select(
        "source",
        F.col("n_distinct").cast("long").alias("exact_distinct"),
        est.alias("kmv_est"),
    )


# --- x39: span-level corpus dedup (C4-style) ----------------------------------
#
# C4/CCNet drop *spans* repeated across the corpus, not just whole
# documents: split each doc into non-overlapping 8-token chunks, hash
# each chunk, keep only the first occurrence corpus-wide (min
# (doc_id, chunk_no) per hash — one shuffle on the 8-byte chunk hash,
# never on text), and rebuild each document from its surviving chunks.
# Output: per-doc kept/dropped chunk counts and the cleaned text
# fingerprint, so the oracle verifies the reconstruction byte-exactly.
_SPAN = 8


@query(
    "x39_span_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS a FROM documents
    ),
    chunks AS (
      SELECT doc_id, CAST((i - 1) // {_SPAN} AS BIGINT) AS cno,
             string_agg(a[i], ' ' ORDER BY i) AS chunk
      FROM toks, unnest(range(1, len(a) + 1)) t(i)
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT doc_id, cno, chunk,
             row_number() OVER (PARTITION BY md5(chunk)
                                ORDER BY doc_id, cno) AS occ
      FROM chunks
    )
    SELECT doc_id,
           COUNT(*) AS n_chunks,
           COUNT(*) FILTER (WHERE occ = 1) AS n_kept,
           md5(coalesce(string_agg(chunk, ' ' ORDER BY cno) FILTER (WHERE occ = 1), ''))
             AS clean_fp
    FROM ranked
    GROUP BY doc_id
    """,
)
def x39_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    toks = d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
    chunks = (
        toks.withColumn("cno", (F.col("pos") / _SPAN).cast("long"))
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
    w = Window.partitionBy(F.md5("chunk")).orderBy("doc_id", "cno")
    ranked = chunks.withColumn("occ", F.row_number().over(w))
    kept_text = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("occ") == 1, F.struct("cno", "chunk"))
                )
            ),
            lambda s: s.chunk,
        ),
        " ",
    )
    return ranked.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.count(F.when(F.col("occ") == 1, 1)).alias("n_kept"),
        F.md5(kept_text).alias("clean_fp"),
    )


# --- x40: Gopher-style quality rules ------------------------------------------
#
# The Gopher/C4 rule battery as one codegen'd pass: word-count bounds,
# mean word length, distinct-token ratio, top-token dominance, stopword
# presence.  Each rule is a bit in `rule_bits` so downstream mixing can
# slice by failure mode; `keep` is the conjunction.  Everything except
# top-token dominance is a zero-shuffle column expression; dominance
# needs one (doc_id, tok) aggregate — the same single-shuffle shape as
# x22's TF pass.
_STOPWORDS = ("the", "a", "of", "to", "and")


@query(
    "x40_gopher_rules",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(replace(text, ' ', '')) AS alpha_chars
      FROM documents
    ),
    dom AS (
      SELECT doc_id, MAX(c) AS top_tok FROM (
        SELECT doc_id, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
        GROUP BY doc_id, tok)
      GROUP BY doc_id
    ),
    feat AS (
      SELECT b.doc_id, len(b.toks) AS wc,
             CAST(len(list_distinct(b.toks)) AS DOUBLE) / len(b.toks) AS uniq_ratio,
             CAST(b.alpha_chars AS DOUBLE) / len(b.toks) AS mean_wlen,
             CAST(d.top_tok AS DOUBLE) / len(b.toks) AS dom_ratio,
             len(list_intersect(b.toks, {list(_STOPWORDS)!r})) AS stop_hits
      FROM base b JOIN dom d ON b.doc_id = d.doc_id
    )
    SELECT doc_id, CAST(wc AS BIGINT) AS wc,
           (CASE WHEN wc BETWEEN 40 AND 100000 THEN 1 ELSE 0 END
            + CASE WHEN mean_wlen BETWEEN 2 AND 12 THEN 2 ELSE 0 END
            + CASE WHEN uniq_ratio >= 0.2 THEN 4 ELSE 0 END
            + CASE WHEN dom_ratio <= 0.2 THEN 8 ELSE 0 END
            + CASE WHEN stop_hits >= 1 THEN 16 ELSE 0 END) AS rule_bits,
           (wc BETWEEN 40 AND 100000) AND (mean_wlen BETWEEN 2 AND 12)
             AND uniq_ratio >= 0.2 AND dom_ratio <= 0.2 AND stop_hits >= 1
             AS keep
    FROM feat
    """,
)
def x40_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load(spark, sf_dir, "documents"), "doc_id").withColumn(
        "toks", F.split("text", " ")
    )
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
        (F.size(F.array_distinct("toks")).cast("double") / wc).alias("uniq_ratio"),
        (
            F.length(F.regexp_replace("text", " ", "")).cast("double") / wc
        ).alias("mean_wlen"),
        (F.col("top_tok").cast("double") / wc).alias("dom_ratio"),
        F.size(
            F.array_intersect("toks", F.array(*[F.lit(s) for s in _STOPWORDS]))
        ).alias("stop_hits"),
    )
    r1 = F.col("wc").between(40, 100000)
    r2 = F.col("mean_wlen").between(2, 12)
    r3 = F.col("uniq_ratio") >= 0.2
    r4 = F.col("dom_ratio") <= 0.2
    r5 = F.col("stop_hits") >= 1
    bits = (
        F.when(r1, 1).otherwise(0)
        + F.when(r2, 2).otherwise(0)
        + F.when(r3, 4).otherwise(0)
        + F.when(r4, 8).otherwise(0)
        + F.when(r5, 16).otherwise(0)
    )
    return feat.select(
        "doc_id",
        F.col("wc").cast("long").alias("wc"),
        bits.cast("int").alias("rule_bits"),
        (r1 & r2 & r3 & r4 & r5).alias("keep"),
    )


# --- x41: quality-weighted importance sampling --------------------------------
#
# Data-mixing pipelines keep a document with probability proportional to
# a quality weight (here the type-token ratio, the x09 gate's signal).
# RNG-free and engine-exact: the accept test compares INTEGERS —
# md5_11(doc_id) * n_tokens < 16^11 * n_distinct  ⇔  u < ttr with
# u = h/16^11 — so no float division or rounding is involved anywhere
# (both products stay under 2^63 for any doc below 100M tokens).
# Zero-shuffle, re-run-identical, and the kept set is a deterministic
# function of the data — the property a resumable 100 TB sampling pass
# needs.
_X41_HEX = 11
_X41_H = 16**_X41_HEX


@query(
    "x41_importance_sample",
    oracle=f"""
    SELECT doc_id, source,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
           CAST(len(toks) AS BIGINT) AS n_tokens
    FROM (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents)
    WHERE {_sql_md5_long("CAST(doc_id AS VARCHAR)", _X41_HEX)} * len(toks)
          < {_X41_H} * len(list_distinct(toks))
    """,
)
def x41_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").withColumn("toks", F.split("text", " "))
    h = _md5_long(F.col("doc_id").cast("string"), _X41_HEX)
    n_tok = F.size("toks").cast("long")
    n_dist = F.size(F.array_distinct("toks")).cast("long")
    return (
        d.filter(h * n_tok < F.lit(_X41_H) * n_dist)
        .select(
            "doc_id",
            "source",
            n_dist.alias("n_distinct"),
            n_tok.alias("n_tokens"),
        )
    )


# --- x44: deterministic train/val/test split -----------------------------------
#
# The canonical ML split as a pure function of the data: md5(doc_id)
# buckets into 80/10/10 WITHIN each source (stratified — every source
# keeps the same proportions), RNG-free and re-run-identical, so a
# resumed 100 TB pipeline assigns every document the same split
# forever.  Zero shuffle: the bucket is a row-local expression (the
# x14/x29 lever); the summary aggregate here exists only to keep the
# driver result small.
_X44_BUCKETS = 100
_X44_TRAIN, _X44_VAL = 80, 90     # [0,80) train, [80,90) val, [90,100) test


def _x44_split_col(sql: bool = False):
    if sql:
        b = f"{_sql_md5_long('CAST(doc_id AS VARCHAR)', 8)} % {_X44_BUCKETS}"
        return (
            f"CASE WHEN {b} < {_X44_TRAIN} THEN 'train' "
            f"WHEN {b} < {_X44_VAL} THEN 'val' ELSE 'test' END"
        )
    b = _md5_long(F.col("doc_id").cast("string"), 8) % _X44_BUCKETS
    return (
        F.when(b < _X44_TRAIN, "train").when(b < _X44_VAL, "val").otherwise("test")
    )


@query(
    "x44_train_val_test",
    oracle=f"""
    SELECT source, split, COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM (SELECT source, text, {_x44_split_col(sql=True)} AS split
          FROM documents)
    GROUP BY 1, 2
    """,
)
def x44_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.select("source", "text", _x44_split_col().alias("split"))
        .groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
        )
    )


# --- q61: weighted moving average ---------------------------------------------
#
# Linear-decay WMA over each user's last 5 events (weights 5..1 over
# present lags, renormalized at the head of the series).  Pure window
# lags — no self-join, no state; the per-user partition is the only
# shuffle, which is the minimal plan for any per-entity time-series
# smoother.  The EWMA-recursion alternative is deliberately avoided:
# a k-term lag kernel is order-exact on both engines, while the
# recursive form is not expressible without iterative state.
_WMA_K = 5


def _wma_terms(val: str, k: int):
    num = F.lit(0.0)
    den = F.lit(0.0)
    for j in range(k):
        lj = F.lag(val, j).over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        )
        wgt = float(k - j)
        num = num + F.coalesce(lj * wgt, F.lit(0.0))
        den = den + F.when(lj.isNotNull(), F.lit(wgt)).otherwise(F.lit(0.0))
    return num / den


def _sql_wma_terms(val: str, k: int) -> str:
    over = "OVER (PARTITION BY user_id ORDER BY ts, event_id)"
    num = " + ".join(
        f"coalesce(lag({val}, {j}) {over} * {float(k - j)}, 0.0)" for j in range(k)
    )
    den = " + ".join(
        f"CASE WHEN lag({val}, {j}) {over} IS NOT NULL THEN {float(k - j)} ELSE 0.0 END"
        for j in range(k)
    )
    return f"({num}) / ({den})"


@query(
    "q61_wma",
    oracle=f"""
    SELECT event_id, user_id,
           {sql_qint(_sql_wma_terms("value", _WMA_K), 6)} AS wma_e6
    FROM events
    """,
)
def q61_wma(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        "user_id",
        qint(_wma_terms("value", _WMA_K), 6).alias("wma_e6"),
    )


# --- x68: position-level exact-substring duplication (suffix-array style) --------
# The Lee et al. "Deduplicating Training Data" operation: find token
# SPANS (not chunk-aligned blocks — every starting position) that recur
# anywhere else in the corpus.  x39 approximates this with fixed
# chunk boundaries, which misses duplicates that straddle a boundary;
# here a window slides one token at a time, the rolling-window text is
# hashed, and a window is "duplicated" when the same hash occurs in a
# DIFFERENT document (same-doc internal repetition is x31's metric, so
# it is deliberately excluded).  The hashed-window formulation is the
# shuffle-friendly stand-in for the paper's suffix array: one exchange
# on the window hash, one back on doc_id — no suffix structure ever
# materializes, which is what makes it runnable over 100 TB.

_X68_W = 8  # tokens per window


@query(
    "x68_substring_dup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS a FROM documents),
    wins AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(a[i : i + {_X68_W} - 1], ' ')) AS h
      FROM toks, unnest(range(1, len(a) - {_X68_W} + 2)) t(i)
      WHERE len(a) >= {_X68_W}),
    marked AS (
      SELECT doc_id, h,
             COUNT(DISTINCT doc_id) OVER (PARTITION BY h) > 1 AS dup
      FROM wins)
    SELECT doc_id,
           COUNT(*) AS n_windows,
           CAST(COUNT(*) FILTER (WHERE dup) AS BIGINT) AS n_dup_windows,
           CAST(floor(CAST(COUNT(*) FILTER (WHERE dup) AS DOUBLE)
                      / COUNT(*) * 1e6 + 0.5) AS BIGINT) AS dup_frac_e6
    FROM marked
    GROUP BY doc_id
    """,
)
def x68_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x68: per-document count/fraction of 8-token sliding windows
    whose exact text recurs in another document.  Plan: windows build
    as per-row array slices (transform over sequence — no explode until
    the 16-byte (hash, doc) pair), the cross-document test is one
    aggregate per window hash joined back, and the per-doc rollup is
    the second and last exchange.  DuckDB's a[i : i + 7] list slice is
    INCLUSIVE of both ends, mirroring Spark's slice(a, i, 8)."""
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    toks = d.select("doc_id", F.split("text", " ").alias("a")).filter(
        F.size("a") >= _X68_W
    )
    wins = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("a") - _X68_W + 1),
                lambda i: F.md5(
                    F.array_join(F.slice("a", i, _X68_W), " ")
                ),
            )
        ).alias("h"),
    )
    # `wins` feeds both the per-hash aggregate and the verdict probe, so
    # the tokenize+md5 projection evaluates twice (two scans in the
    # executed plan).  Deliberate at this SF: a localCheckpoint
    # materialization costs MORE than the recompute here (measured
    # 1.4-2.1 s vs 1.2 s warm at sf0.1); past the point where the
    # corpus scan dominates, persist(DISK_ONLY) on `wins` flips the
    # trade and is the one-line scale lever.
    per_hash = wins.groupBy("h").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    marked = wins.join(per_hash, "h").withColumn(
        "dup", F.col("nd") > 1
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_windows"),
        F.sum(F.when(F.col("dup"), 1).otherwise(0))
        .cast("long")
        .alias("n_dup_windows"),
        qint(
            F.sum(F.when(F.col("dup"), 1).otherwise(0)).cast("double")
            / F.count("*")
        ).alias("dup_frac_e6"),
    )


# --- x72: paragraph-level corpus dedup (CCNet-style) --------------------------
_X72_SEG = 20


@query(
    "x72_paragraph_dedup",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    segs AS (
      SELECT doc_id, i AS seg_idx,
             array_to_string(t[i * {_X72_SEG} + 1 : (i + 1) * {_X72_SEG}], ' ')
               AS seg
      FROM base,
           unnest(range(0, CAST(ceil(len(t) / {_X72_SEG}.0) AS BIGINT))) u(i)),
    marked AS (
      SELECT doc_id, seg_idx, seg,
             ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx)
               AS rn
      FROM segs)
    SELECT doc_id,
           COUNT(*) AS n_segs,
           CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
           COALESCE(string_agg(CASE WHEN rn = 1 THEN seg END,
                               ' ' ORDER BY seg_idx), '') AS kept_text
    FROM marked
    GROUP BY doc_id
    """,
)
def x72_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x72: CCNet-style paragraph-level exact dedup — segment every
    document into fixed 20-token "paragraphs", keep only each distinct
    segment's FIRST corpus occurrence (ordered by doc_id, then segment
    position), and reassemble the surviving text per document.  This is
    the shape CCNet applies to CommonCrawl (hash paragraphs, drop
    repeats across the whole snapshot before any doc-level scoring) —
    finer than doc-level x03, coarser than the 8-token window monitor
    x68, and unlike both it produces the deduplicated TEXT, not just a
    verdict.

    Plan: segments build as per-row array slices (transform over
    sequence — no token-level explode; the exploded unit is the
    segment), the first-occurrence rank is one window over the segment
    key (the only wide shuffle; at 100 TB you'd partition on a 16-byte
    segment hash and carry (doc_id, seg_idx) only — noted, not needed
    at fixture text widths), and the per-doc reassembly is the second
    and last exchange.  Segment order restores via array_sort over
    (seg_idx, seg) structs — no per-group sort pass.  DuckDB's
    t[a : b] list slice is inclusive-and-clamping, mirroring Spark's
    slice(t, a, 20)."""
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    n_segs_col = F.greatest(
        F.ceil(F.size("t") / F.lit(float(_X72_SEG))).cast("int"), F.lit(1)
    )
    segs = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_segs_col - 1),
                lambda i: F.array_join(
                    F.slice("t", i * _X72_SEG + 1, _X72_SEG), " "
                ),
            )
        ).alias("seg_idx", "seg"),
    )
    w = Window.partitionBy("seg").orderBy("doc_id", "seg_idx")
    marked = segs.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("rn") == 1, F.struct(F.col("seg_idx"), F.col("seg"))
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_segs"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s.getField("seg"),
            ),
            " ",
        ).alias("kept_text"),
    )


# --- x73: corpus snapshot diff (dataset-versioning audit) ---------------------
#
# The release audit every versioned data lake runs between two corpus
# snapshots: which documents were added, removed, content-changed, or
# untouched — rolled up by language.  The two snapshots derive
# DETERMINISTICALLY from the one fixture table (no RNG, re-run
# identical): snapshot A drops the doc_id%10==9 decile, snapshot B
# drops the doc_id%10==0 decile and rewrites every doc_id%7==3 text
# (so all four statuses are populated at every SF).  At 100 TB both
# snapshots are parquet keyed by doc_id: the diff is ONE co-partitioned
# full-outer join on the key comparing 32-byte content digests — never
# the texts — plus a map-side-combinable rollup; with both snapshots
# written bucketed by doc_id (DataFrameWriter.bucketBy) the join is
# exchange-free.
@query(
    "x73_snapshot_diff",
    oracle="""
    WITH a AS (
      SELECT doc_id, lang, md5(text) AS dg FROM documents
      WHERE doc_id % 10 <> 9),
    b AS (
      SELECT doc_id, lang,
             md5(CASE WHEN doc_id % 7 = 3
                      THEN text || ' [v2]' ELSE text END) AS dg
      FROM documents WHERE doc_id % 10 <> 0),
    diff AS (
      SELECT COALESCE(a.lang, b.lang) AS lang,
             CASE WHEN a.doc_id IS NULL THEN 'added'
                  WHEN b.doc_id IS NULL THEN 'removed'
                  WHEN a.dg <> b.dg THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
    SELECT lang, status, COUNT(*) AS n_docs
    FROM diff GROUP BY lang, status
    """,
)
def x73_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x73: snapshot-to-snapshot corpus diff — added / removed /
    changed / unchanged document counts by language (see the block
    comment for the derivation of the two snapshots and the 100 TB
    plan shape)."""
    docs = spread(load(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", "lang", "text"
    )
    a = docs.filter(F.col("doc_id") % 10 != 9).select(
        "doc_id", "lang", F.md5("text").alias("dg")
    )
    b = docs.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id",
        "lang",
        # the "edit" is concatenation, not a case map: Java's full-Unicode
        # upper() and DuckDB's utf8proc single-codepoint upper() disagree
        # on e.g. ligatures, so a case-based rewrite would flip
        # changed/unchanged between engines on non-ASCII text; appending
        # a marker is byte-stable everywhere
        F.md5(
            F.when(
                F.col("doc_id") % 7 == 3, F.concat(F.col("text"), F.lit(" [v2]"))
            ).otherwise(F.col("text"))
        ).alias("dg"),
    )
    diff = a.alias("a").join(
        b.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer"
    )
    status = (
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("b.doc_id").isNull(), "removed")
        .when(F.col("a.dg") != F.col("b.dg"), "changed")
        .otherwise("unchanged")
    )
    return (
        diff.select(
            F.coalesce(F.col("a.lang"), F.col("b.lang")).alias("lang"),
            status.alias("status"),
        )
        .groupBy("lang", "status")
        .agg(F.count("*").alias("n_docs"))
    )


# --- x74: containment near-superset dedup (asymmetric resemblance) ------------
_X74_W = 8          # window width shared with x68 — same dup granularity
_X74_MAX_POST = 16  # hot-window posting cap (stop-phrase windows explode
#                     the ordered-pair expansion quadratically; a window
#                     shared by >16 docs carries no containment signal —
#                     same rationale and shape as x27's hot-shingle cap)
_X74_THRESH = (4, 5)  # containment >= 4/5, stated integer-exactly


@query(
    "x74_containment_dup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS a FROM documents),
    wins AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(a[i : i + {_X74_W} - 1], ' ')) AS h
      FROM toks, unnest(range(1, len(a) - {_X74_W} + 2)) t(i)
      WHERE len(a) >= {_X74_W}),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM wins GROUP BY doc_id),
    ok AS (
      SELECT h FROM wins GROUP BY h
      HAVING COUNT(*) BETWEEN 2 AND {_X74_MAX_POST}),
    pairs AS (
      SELECT w1.doc_id AS id_a, w2.doc_id AS id_b, COUNT(*) AS shared
      FROM wins w1 JOIN ok USING (h) JOIN wins w2 USING (h)
      WHERE w1.doc_id <> w2.doc_id
      GROUP BY id_a, id_b)
    SELECT id_a, id_b, shared, sz AS size_a,
           CAST(floor(CAST(shared AS DOUBLE) / sz * 1e6 + 0.5) AS BIGINT)
             AS containment_e6
    FROM pairs JOIN sizes ON doc_id = id_a
    WHERE shared * {_X74_THRESH[1]} >= sz * {_X74_THRESH[0]}
    """,
)
def x74_containment_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x74: containment near-superset detection — ordered pairs (a, b)
    where >=80% of a's distinct 8-token windows also appear in b
    (Broder's asymmetric resemblance).  This catches the duplication
    x04's symmetric Jaccard misses by construction: a short document
    embedded inside a much longer one has containment ~1 while its
    Jaccard stays low (union-dominated), so a resemblance threshold
    never fires.

    The 0.8 threshold is stated integer-exactly (shared*5 >= size_a*4 —
    no division before the cut); the reported containment_e6 quantizes
    the ratio of two already-identical integers.  Plan: distinct
    (doc, window-hash) pairs build map-side (per-row slices, one
    DISTINCT exchange on the 16-byte hash), the posting cap drops
    signal-free hot windows BEFORE the self-join expands ordered pairs
    (bounded by cap^2 per window), and the per-doc size frame joins
    back on id_a (AQE broadcasts it at bench SF; it stays the small
    side — one row per doc — at any scale)."""
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    toks = d.select("doc_id", F.split("text", " ").alias("a")).filter(
        F.size("a") >= _X74_W
    )
    wins = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("a") - _X74_W + 1),
                lambda i: F.md5(F.array_join(F.slice("a", i, _X74_W), " ")),
            )
        ).alias("h"),
    ).distinct()
    sizes = wins.groupBy("doc_id").agg(F.count("*").alias("sz"))
    ok = (
        wins.groupBy("h")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd").between(2, _X74_MAX_POST))
        .select("h")
    )
    w1 = wins.join(ok, "h")
    pairs = (
        w1.alias("w1")
        .join(w1.alias("w2"), "h")
        .filter(F.col("w1.doc_id") != F.col("w2.doc_id"))
        .groupBy(
            F.col("w1.doc_id").alias("id_a"), F.col("w2.doc_id").alias("id_b")
        )
        .agg(F.count("*").alias("shared"))
    )
    lo, hi = _X74_THRESH
    return (
        pairs.join(sizes, pairs.id_a == sizes.doc_id)
        .filter(F.col("shared") * hi >= F.col("sz") * lo)
        .select(
            "id_a",
            "id_b",
            "shared",
            F.col("sz").alias("size_a"),
            qint(F.col("shared").cast("double") / F.col("sz")).alias(
                "containment_e6"
            ),
        )
    )

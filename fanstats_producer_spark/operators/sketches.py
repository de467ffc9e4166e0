"""Mergeable-sketch aggregation (SURVEY.md §2C scale path; the
"re-aggregatable summary" pattern every 100 TB rollup pipeline needs).

The reference's delegated query layer answers distinct-count questions by
rescanning the landed data (Athena over the full S3 table, main.py:4-5).
At 100 TB the scan is the cost, so the scale answer is: sketch ONCE at
the finest grain, persist the fixed-size sketch blobs, and answer every
coarser rollup by MERGING sketches — never touching raw data again.
Spark 3.5+ ships Apache DataSketches HLL natively (hll_sketch_agg /
hll_union_agg / hll_sketch_estimate), so the whole pipeline stays
JVM-side and the partial aggregation is a few-KB blob per group, not a
distinct-shuffle of raw keys.

Determinism note: a DataSketches HLL stays in exact (list/set) mode up
to a few hundred distinct items (lgConfigK=12), so at fixture
cardinalities (150 users) the estimate IS the exact distinct count —
which makes the operator oracle-checkable against COUNT(DISTINCT), same
trick as q22's HLL++.  The error-bound
behavior past exact mode is covered by a property test instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fanstats_producer_spark.io import load
from fanstats_producer_spark.registry import query


#: HLL lgConfigK of every persisted sketch (see sketch_distinct).
_HLL_LG_K = 18


def sketch_distinct(df: DataFrame, key: str, grain: list[str]) -> DataFrame:
    """Finest-grain partial sketches: one fixed-size HLL blob of ``key``
    per ``grain`` group.  This is the state you persist.

    lgConfigK = _HLL_LG_K = 18: the DataSketches HLL stays in its exact
    (coupon) regime well past the fixtures' cardinalities — measured
    exact through 15 000 distinct keys (localdata sf1), where the old
    default 12 already drifted at 1 500 (sf0.1: 1480-1499 vs 1500).
    Blobs stay KB-sized at these cardinalities because the sketch only
    densifies to 2^18 registers when the coupon set saturates; dial
    DOWN (12) at true billion-key scale where a 1% estimate is the
    point and 256 KB dense registers per group are not."""
    return df.groupBy(*grain).agg(
        F.hll_sketch_agg(key, F.lit(_HLL_LG_K)).alias("sketch")
    )


def rollup_distinct(sketches: DataFrame, to_grain: list[str]) -> DataFrame:
    """Re-aggregate persisted sketches to any coarser grain by merging —
    no rescan of the raw table, shuffle payload = KB-size blobs."""
    return sketches.groupBy(*to_grain).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("n_distinct")
    )


@query(
    "x20_hll_rollup",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct
    FROM events
    GROUP BY 1
    """,
)
def x20_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type, answered from per-(type, day)
    sketches merged upward — the sketch-once / re-aggregate-forever
    pattern.  Exact at fixture cardinality (see module doc), so the
    COUNT(DISTINCT) oracle hash-matches."""
    ev = load(spark, sf_dir, "events")
    daily = sketch_distinct(
        ev.withColumn("day", F.to_date("ts")), key="user_id",
        grain=["event_type", "day"],
    )
    return rollup_distinct(daily, ["event_type"])


def sketch_topk(
    df: DataFrame, key: str, grain: list[str], k: int = 5
) -> DataFrame:
    """Finest-grain heavy-hitter sketch states of ``key`` per ``grain``
    group (approx_top_k_accumulate)."""
    return df.groupBy(*grain).agg(
        F.expr(f"approx_top_k_accumulate({key}, {k})").alias("state")
    )


def rollup_topk(sketches: DataFrame, to_grain: list[str], k: int = 5) -> DataFrame:
    """Merge heavy-hitter states to a coarser grain and materialize the
    top-k items with estimated counts."""
    grouped = (
        sketches.groupBy(*to_grain)
        if to_grain
        else sketches.groupBy(F.lit(1).alias("__g"))
    )
    est = grouped.agg(
        F.expr(f"approx_top_k_estimate(approx_top_k_combine(state), {k})").alias("est")
    )
    return (
        est.select(*to_grain, F.explode("est").alias("e"))
        .select(
            *to_grain,
            F.col("e.item").alias("item"),
            F.col("e.count").alias("n"),
        )
    )


@query(
    "x21_topk_sketch",
    oracle="""
    SELECT event_type AS item, COUNT(*) AS n
    FROM events
    GROUP BY 1
    """,
)
def x21_topk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters (most frequent event types) from per-day sketch
    states merged upward — same sketch-once / re-aggregate pattern as
    x20, for frequency instead of cardinality.  k covers the whole item
    domain at fixture scale and the tracker never evicts, so estimated
    counts are exact and the plain GROUP BY oracle hash-matches; the
    at-scale behavior (k << domain, eviction error bounded by stream
    length / maxItemsTracked) rides the same code."""
    ev = load(spark, sf_dir, "events")
    daily = sketch_topk(
        ev.withColumn("day", F.to_date("ts")), key="event_type",
        grain=["day"],
    )
    return rollup_topk(daily, [], k=5).drop("__g")


# --- x79: portable Bloom-filter sketch + membership probe -----------------------
# The mergeable-filter member of the sketch family (x20 HLL, x21 top-k,
# x37 CMS, x38 KMV): build a Bloom filter over the distinct join keys of
# a selective build side as PLAIN COLUMNS (word index -> 32-bit word,
# OR-aggregated), then probe a candidate set through it.  Because the
# sketch is a bit_or aggregate it is map-side combinable and mergeable
# across partitions/days exactly like the other sketches, and at 2048
# words (m=65536 bits, k=4) it broadcasts to the probe side — the
# semi-join-reduction primitive that drops most of a 100 TB fact scan
# before its shuffle.  Catalyst's own runtime version of this exists
# behind spark.sql.optimizer.runtime.bloomFilter.*; this operator is the
# PORTABLE, persistable arm: identical md5 bit positions on any engine,
# so a filter built by Spark today can gate a different system's scan
# tomorrow.
# FP math at the registered shape: n≈1.1k keys, m=65536, k=4 →
# (1-e^{-kn/m})^4 ≈ 1e-5, so the fixture probe sees zero false
# positives; the pytest shrinks m to force and count FPs.
_X79_M = 65536  # bits
_X79_K = 4  # hash functions
_X79_W = 32  # bits per sketch word


def bloom_build(keys: DataFrame, col: str) -> DataFrame:
    """Aggregate a key column into the (word, bits) Bloom sketch."""
    hashed = keys.select(
        F.explode(F.array(*[F.lit(j) for j in range(_X79_K)])).alias("j"),
        F.col(col).alias("k"),
    )
    return (
        hashed.select(_bloom_bit(F.col("k"), F.col("j")).alias("bit"))
        .select(
            F.expr(f"bit DIV {_X79_W}").alias("word"),
            F.expr(f"shiftleft(1L, cast(bit % {_X79_W} as int))").alias(
                "mask"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


_X79_SQL_BIT = (
    "CAST(('0x' || substr(md5(CAST({key} AS VARCHAR) || ':' ||"
    " CAST({j} AS VARCHAR)), 1, 15)) AS BIGINT) % {m}"
)


def _bloom_bit(key, j):
    """Spark mirror of _X79_SQL_BIT: bit position of hash j for a key
    column (reads _X79_M at call time so tests can shrink m)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", key.cast("string"), j)), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % _X79_M
    )


@query(
    "x79_bloom_filter",
    oracle=f"""
    WITH build AS (
      SELECT DISTINCT l_partkey AS k FROM lineitem WHERE l_quantity >= 49),
    bits AS (
      SELECT {_X79_SQL_BIT.format(key='k', j='j', m=_X79_M)} AS bit
      FROM build CROSS JOIN range({_X79_K}) AS t(j)),
    sketch AS (
      SELECT bit // {_X79_W} AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(bit % {_X79_W} AS INT)) AS bits
      FROM bits GROUP BY 1),
    probe AS (
      SELECT p.p_partkey,
             {_X79_SQL_BIT.format(key='p.p_partkey', j='j', m=_X79_M)} AS bit
      FROM part p CROSS JOIN range({_X79_K}) AS t(j)),
    hits AS (
      SELECT pr.p_partkey,
             COUNT(*) FILTER (s.bits IS NOT NULL
               AND (s.bits & (CAST(1 AS BIGINT)
                    << CAST(pr.bit % {_X79_W} AS INT))) != 0) AS nhit
      FROM probe pr
      LEFT JOIN sketch s ON s.word = pr.bit // {_X79_W}
      GROUP BY 1)
    SELECT h.p_partkey,
           CAST(CASE WHEN h.nhit = {_X79_K} THEN 1 ELSE 0 END AS INT)
             AS bloom_hit,
           CAST(CASE WHEN b.k IS NULL THEN 0 ELSE 1 END AS INT) AS actual
    FROM hits h LEFT JOIN build b ON b.k = h.p_partkey
    """,
)
def x79_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    build = (
        li.filter(F.col("l_quantity") >= 49)
        .select(F.col("l_partkey").alias("k"))
        .distinct()
    )
    # one pass over the fact scan: the distinct build keys feed BOTH the
    # sketch and the exact `actual` flag below — checkpoint the small
    # key set instead of scanning the filtered fact twice
    build = build.localCheckpoint(eager=True)
    sketch = bloom_build(build, "k")
    probe = part.select(
        "p_partkey",
        F.explode(F.array(*[F.lit(j) for j in range(_X79_K)])).alias("j"),
    ).select(
        "p_partkey",
        _bloom_bit(F.col("p_partkey"), F.col("j")).alias("bit"),
    )
    hits = (
        probe.join(
            F.broadcast(sketch),
            F.expr(f"bit DIV {_X79_W}") == sketch.word,
            "left",
        )
        .select(
            "p_partkey",
            (
                F.col("bits").isNotNull()
                & (
                    F.col("bits").bitwiseAND(
                        F.expr(
                            f"shiftleft(1L, cast(bit % {_X79_W} as int))"
                        )
                    )
                    != 0
                )
            ).alias("hit"),
        )
        .groupBy("p_partkey")
        .agg(F.sum(F.col("hit").cast("int")).alias("nhit"))
    )
    return (
        hits.join(F.broadcast(build), hits.p_partkey == build.k, "left")
        .select(
            "p_partkey",
            F.when(F.col("nhit") == _X79_K, 1)
            .otherwise(0)
            .cast("int")
            .alias("bloom_hit"),
            F.when(F.col("k").isNull(), 0).otherwise(1).cast("int").alias(
                "actual"
            ),
        )
    )


# --- x97: deterministic mergeable quantile sketch (bottom-k sample) -------------
# The missing member of the mergeable-sketch family (distinct: x20 HLL /
# x38 KMV; frequency: x21 top-k / x37 heavy hitters; membership: x79
# Bloom): QUANTILES.  Production engines reach for KLL/t-digest, but
# both are RNG- or merge-order-dependent — un-oracle-able and
# non-reproducible across engines.  The deterministic alternative with
# the same mergeability contract is BOTTOM-K BY HASH (the KMV idea
# aimed at sampling instead of distinct-counting): keep the k rows
# whose md5(event_id) digests sort smallest.  That set is a uniform
# simple random sample WITHOUT replacement — but a pure function of
# the data, so any two engines (and any partitioning, and any merge
# order: min-k(min-k(A) ∪ min-k(B)) = min-k(A ∪ B), pytest-pinned)
# produce the identical sample — and its order statistics estimate the
# population quantiles with the DKW bound sup|F̂-F| <= sqrt(ln(2/δ)/2k)
# (~7.6% at k=256, δ=0.05).
#
# Scale shape: the sample is orderBy(digest).limit(k) —
# TakeOrderedAndProject (per-partition k-row heaps + one k-row merge,
# never a global sort, never a shuffle of raw rows); quantile
# extraction then runs on k rows.  At 100 TB the persisted k-row
# sample IS the state: re-aggregatable to any coarser grain by
# unioning samples and re-truncating, same as the HLL blobs above.
# Estimates are sampled VALUES passed through untouched (no float
# arithmetic), so cross-engine parity is trivially exact.
_X97_K = 256
_X97_PCTS = [1, 5, 10, 25, 50, 75, 90, 95, 99]


def bottomk_sample(df: DataFrame, id_col: str, k: int = _X97_K) -> DataFrame:
    """The mergeable sampling primitive: k rows with the smallest
    md5(id) digests — deterministic, partitioning-invariant, and
    mergeable by union + re-truncate."""
    digest = F.md5(F.col(id_col).cast("string"))
    return df.orderBy(digest.asc(), F.col(id_col).asc()).limit(k)


def quantile_estimates(samp: DataFrame) -> DataFrame:
    """(pct, est_value, src_event_id) from a bottom-k sample frame —
    rank the k rows by (value, event_id) and pick the order statistic
    at floor((k-1)·p/100 + 0.5) per requested percentile.  Shared by
    batch x97 and the s31 online monitor (the extraction sees only the
    k-row sketch, never the data)."""
    spark = samp.sparkSession
    # k rows: the single-partition window is on the sketch, not the data
    w = Window.orderBy(F.col("value").asc(), F.col("event_id").asc())
    ranked = samp.select(
        "value", "event_id", (F.row_number().over(w) - 1).alias("r")
    )
    cnt = samp.agg(F.count("*").alias("cnt"))
    spec = (
        spark.range(1)
        .crossJoin(F.broadcast(cnt))
        .select(
            F.explode(
                F.array(*[F.lit(p) for p in _X97_PCTS])
            ).alias("pct"),
            "cnt",
        )
        .select(
            F.col("pct").cast("int").alias("pct"),
            F.floor((F.col("cnt") - 1) * F.col("pct") / 100.0 + 0.5)
            .cast("long")
            .alias("r"),
        )
    )
    return (
        F.broadcast(spec)
        .join(ranked, "r")
        .select("pct", F.col("value").alias("est_value"),
                F.col("event_id").alias("src_event_id"))
    )


X97_ORACLE = f"""
    WITH samp AS (
      SELECT event_id, value
      FROM events
      ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
      LIMIT {_X97_K}),
    ranked AS (
      SELECT value, event_id,
             row_number() OVER (ORDER BY value, event_id) - 1 AS r
      FROM samp),
    n AS (SELECT COUNT(*) AS cnt FROM samp),
    spec AS (
      SELECT CAST(pct AS INT) AS pct,
             CAST(floor((n.cnt - 1) * pct / 100.0 + 0.5) AS BIGINT) AS r
      FROM (SELECT unnest({_X97_PCTS}) AS pct) CROSS JOIN n)
    SELECT s.pct, rk.value AS est_value, rk.event_id AS src_event_id
    FROM spec s JOIN ranked rk ON rk.r = s.r
    """


@query("x97_quantile_sketch", oracle=X97_ORACLE)
def x97_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x97: population quantile estimates of events.value from the
    deterministic bottom-k-by-hash sample — the estimate is the
    sampled row's raw value (zero arithmetic), with its source
    event_id kept for audit."""
    ev = load(spark, sf_dir, "events")
    return quantile_estimates(
        bottomk_sample(ev.select("event_id", "value"), "event_id")
    )


# --- x99: grouped quantile sketch ROLLUP (re-aggregation demonstrated) ----------
# The property that makes x97 a sketch, exercised as a registered
# operator: per-group bottom-k samples (the state a 100 TB pipeline
# persists at its finest grain, one k-row blob per group) roll up to
# the GLOBAL sample by union + re-truncate — never rescanning raw
# data.  Exactness of the rollup is pigeonhole: any row in the global
# bottom-k is necessarily in its own group's bottom-k (same hash
# order), so min-k(∪_g min-k(group_g)) = min-k(all) whenever the
# global k <= each per-group k.  The registered output carries per-
# group quantiles AND the rolled-up global quantiles, so the oracle
# value-checks the whole hierarchy.
# Scale shape: one shuffle on the group key for the per-group window
# top-k (bounded at k rows/group out), then the rollup runs on
# |groups|·k rows.
_X99_K = 64
_X99_PCTS = [25, 50, 75]


@query(
    "x99_quantile_rollup",
    oracle=f"""
    WITH samp AS (
      SELECT event_type, event_id, value,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rk
      FROM events),
    gs AS (SELECT event_type, event_id, value FROM samp WHERE rk <= {_X99_K}),
    granked AS (
      SELECT event_type, value, event_id,
             row_number() OVER (
               PARTITION BY event_type ORDER BY value, event_id) - 1 AS r,
             COUNT(*) OVER (PARTITION BY event_type) AS cnt
      FROM gs),
    gmerged AS (
      SELECT event_id, value FROM gs
      ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
      LIMIT {_X99_K}),
    gmranked AS (
      SELECT value, event_id,
             row_number() OVER (ORDER BY value, event_id) - 1 AS r,
             COUNT(*) OVER () AS cnt
      FROM gmerged),
    pcts AS (SELECT unnest({_X99_PCTS}) AS pct)
    SELECT g.event_type AS scope, CAST(p.pct AS INT) AS pct,
           g.value AS est_value, g.event_id AS src_event_id
    FROM granked g JOIN pcts p
      ON g.r = CAST(floor((g.cnt - 1) * p.pct / 100.0 + 0.5) AS BIGINT)
    UNION ALL
    SELECT '_global' AS scope, CAST(p.pct AS INT) AS pct,
           g.value AS est_value, g.event_id AS src_event_id
    FROM gmranked g JOIN pcts p
      ON g.r = CAST(floor((g.cnt - 1) * p.pct / 100.0 + 0.5) AS BIGINT)
    """,
)
def x99_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x99: per-event_type quantile estimates from per-group bottom-k
    samples, plus the '_global' scope REBUILT by merging the group
    samples (union + re-truncate) — the persisted-sketch rollup path,
    value-checked end to end."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    digest = F.md5(F.col("event_id").cast("string"))
    wg = Window.partitionBy("event_type").orderBy(
        digest.asc(), F.col("event_id").asc()
    )
    gs = (
        ev.withColumn("rk", F.row_number().over(wg))
        .filter(F.col("rk") <= _X99_K)
        .drop("rk")
    )
    gs = gs.localCheckpoint(eager=True)  # group samples feed both arms

    def extract(samp: DataFrame, scope_col) -> DataFrame:
        w = Window.partitionBy("scope").orderBy(
            F.col("value").asc(), F.col("event_id").asc()
        )
        ranked = samp.select(
            scope_col.alias("scope"), "value", "event_id"
        ).select(
            "scope",
            "value",
            "event_id",
            (F.row_number().over(w) - 1).alias("r"),
            (F.count("*").over(Window.partitionBy("scope")) - 1).alias(
                "cnt1"
            ),
        )
        picks = ranked.select(
            "scope",
            "value",
            "event_id",
            "r",
            F.explode(
                F.array(*[F.lit(p) for p in _X99_PCTS])
            ).alias("pct"),
            "cnt1",
        ).filter(
            F.col("r")
            == F.floor(
                F.col("cnt1") * F.col("pct") / 100.0 + 0.5
            ).cast("long")
        )
        return picks.select(
            "scope",
            F.col("pct").cast("int").alias("pct"),
            F.col("value").alias("est_value"),
            F.col("event_id").alias("src_event_id"),
        )

    per_group = extract(gs, F.col("event_type"))
    glob = extract(
        bottomk_sample(gs.select("event_id", "value"), "event_id", _X99_K),
        F.lit("_global"),
    )
    return per_group.unionByName(glob)

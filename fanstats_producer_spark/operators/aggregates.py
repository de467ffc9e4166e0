"""Aggregation operators (SURVEY.md §2B q20-q26).

The daily engagement rollup is the FanStats core analytic (the reference
lands raw posts and Athena aggregates them, reference main.py:4-5).  All
grouped aggs here hash-aggregate with map-side partials automatically;
the decimal-sum pattern (functions/num.py) keeps float sums reproducible
across any partitioning — a correctness property at 1000 executors, not
just an oracle-parity trick.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fanstats_producer_spark.functions.num import (
    qavg_pos,
    qint,
    dsum_pos,
    sql_qavg_pos,
    sql_qint,
    sql_dsum_pos,
)
from fanstats_producer_spark.io import load
from fanstats_producer_spark.registry import query


# --- q20: grouped agg with HAVING (TPC-H Q1 adapted to fixture columns) ---
@query(
    "q20_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS count_order,
           {sum_qty} AS sum_qty,
           {sum_base} AS sum_base_price,
           {sum_disc} AS sum_disc_price,
           {avg_qty} AS avg_qty_e6,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01'
    GROUP BY 1, 2
    HAVING COUNT(*) > 10
    """.format(
        # all four measures are nonnegative -> split-accumulator fast
        # path (plain long digit sums, ~6x cheaper than decimal casts)
        sum_qty=sql_dsum_pos("l_quantity"),
        sum_base=sql_dsum_pos("l_extendedprice"),
        sum_disc=sql_dsum_pos("l_extendedprice * (1 - l_discount)"),
        avg_qty=sql_qavg_pos("l_quantity"),
    ),
)
def q20_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "2001-09-01")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("count_order"),
            dsum_pos("l_quantity").alias("sum_qty"),
            dsum_pos("l_extendedprice").alias("sum_base_price"),
            dsum_pos(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            qavg_pos("l_quantity").alias("avg_qty_e6"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
        )
        .filter(F.col("count_order") > 10)
    )


# --- q21: COUNT(DISTINCT) ---------------------------------------------------
@query(
    "q21_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps
    FROM lineitem
    GROUP BY 1
    """,
)
def q21_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
        )
    )


# --- q22: approximate distinct (Athena approx_distinct parity) -------------
# Spark's HLL++ is exact in its sparse regime (small true cardinality);
# the fixture cardinalities here (≤ a few hundred) stay within it, so the
# exact-COUNT(DISTINCT) oracle matches.  At 100 TB this operator is the
# whole point: one pass, fixed memory, no exact-distinct shuffle.
@query(
    "q22_approx",
    oracle="""
    SELECT o_orderstatus, COUNT(DISTINCT o_orderpriority) AS approx_priorities
    FROM orders
    GROUP BY 1
    """,
)
def q22_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(# default rsd=0.05: the sparse HLL++ regime is exact at these
            # cardinalities regardless, and rsd=0.01 forced 2^16-register
            # partials whose shuffle serialization dominated the query
            F.approx_count_distinct("o_orderpriority").alias("approx_priorities"))
    )


# --- q23: exact row dedup (DISTINCT / dropDuplicates) -----------------------
@query(
    "q23_dedup_exact",
    oracle="""
    SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
)
def q23_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dropDuplicates(["text"]) picks an arbitrary survivor; min(doc_id) is
    # the deterministic equivalent (and what a 100 TB dedup job should do).
    return (
        load(spark, sf_dir, "documents")
        .groupBy("text")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .select("keep_id", "n_copies")
    )


# --- q24: ROLLUP / grouping sets -------------------------------------------
@query(
    "q24_rollup",
    oracle="""
    SELECT COALESCE(r.r_name, 'ALL') AS region_name,
           COALESCE(n.n_name, 'ALL') AS nation_name,
           CAST(GROUPING(r.r_name) * 2 + GROUPING(n.n_name) AS INT) AS gid,
           COUNT(*) AS n
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def q24_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    n = F.broadcast(load(spark, sf_dir, "nation"))
    r = F.broadcast(load(spark, sf_dir, "region"))
    joined = c.join(n, c.c_nationkey == n.n_nationkey).join(
        r, n.n_regionkey == r.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.grouping_id().cast("int").alias("gid"), F.count("*").alias("n"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "gid",
            "n",
        )
    )


# --- q24b: explicit GROUPING SETS (SURVEY.md:216 — the literal form; -------
# rollup (q24) and cube (q28) are its two canned shapes, this is the
# arbitrary-set form, exercised through the SQL surface on both engines)
@query(
    "q24b_grouping_sets",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INT) AS gid,
           COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
)
def q24b_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("q24b_orders")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INT)
                 AS gid,
               COUNT(*) AS n
        FROM q24b_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        """
    )


# --- q25: collect_list / array_agg (deterministic via sort) ----------------
@query(
    "q25_arrayagg",
    oracle="""
    SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation
    GROUP BY 1
    """,
)
def q25_arrayagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations"))
    )


# --- q26: statistical aggregates -------------------------------------------
# stddev/var are float-order-dependent; rounding to 2 decimals leaves a
# >1e6x margin over cross-engine noise at these magnitudes.
def sort_percentile(
    df: DataFrame, group_col: str, val_col: str, p: float
) -> DataFrame:
    """Exact interpolated percentile per group via sort-based order
    statistics: (group, pctl).

    Spark's `percentile` aggregate buffers a per-group value->count map
    through partial/final merge — ~1 s of map serialization on 600 k
    distinct doubles at sf0.1, and an OOM risk when a single group's
    cardinality outgrows an executor at 100 TB.  This path instead sorts
    within groups (one exchange + spillable sort), ranks with
    row_number, and keeps ONLY the two rows the interpolation touches.
    Same formula as percentile/quantile_cont: for 1-based rank
    r = p·(n-1)+1, result = v_lo + (v_hi - v_lo)·(r - floor(r)).
    Measured 1.45 s -> 0.75 s on q26 at sf0.1."""
    from pyspark.sql import Window

    n = df.groupBy(group_col).agg(F.count(val_col).alias("__n"))
    w = Window.partitionBy(group_col).orderBy(val_col)
    ranked = (
        df.select(group_col, val_col)
        .filter(F.col(val_col).isNotNull())
        .withColumn("__rn", F.row_number().over(w))
    )
    # Interpolate EXACTLY as the percentile aggregate does
    # (Percentile.getPercentile): pos = p·(n-1);
    # result = (ceil(pos)-pos)·v_lo + (pos-floor(pos))·v_hi, with the
    # exact v_lo short-circuits when pos is integral or v_lo == v_hi
    # (0.8·-3.0 + 0.2·-3.0 is -3.0000000000000004).  The algebraically
    # equal v_lo + (v_hi-v_lo)·frac rounds differently in the last ulp —
    # caught by the equivalence test.
    j = ranked.join(F.broadcast(n), group_col).withColumn(
        "__pos", F.lit(p) * (F.col("__n") - 1)
    )
    lo = F.floor("__pos") + 1
    hi = F.ceil("__pos") + 1
    edge = j.filter((F.col("__rn") == lo) | (F.col("__rn") == hi))
    v_lo = F.min(F.when(F.col("__rn") == lo, F.col(val_col)))
    v_hi = F.min(F.when(F.col("__rn") == hi, F.col(val_col)))
    pos = F.min("__pos")
    interp = (F.ceil(pos) - pos) * v_lo + (pos - F.floor(pos)) * v_hi
    return edge.groupBy(group_col).agg(
        F.when((F.floor(pos) == F.ceil(pos)) | (v_lo == v_hi), v_lo)
        .otherwise(interp)
        .alias("pctl")
    )


@query(
    "q26_stats",
    oracle="""
    SELECT l_returnflag,
           CAST(floor(stddev_samp(l_quantity) * 1e2 + 0.5) AS BIGINT) AS sd_qty_e2,
           CAST(floor(var_samp(l_quantity) * 1e2 + 0.5) AS BIGINT) AS var_qty_e2,
           CAST(floor(quantile_cont(l_quantity, 0.5) * 1e2 + 0.5) AS BIGINT) AS median_qty_e2,
           CAST(floor(quantile_cont(l_extendedprice, 0.9) * 1e2 + 0.5) AS BIGINT) AS p90_price_e2
    FROM lineitem
    GROUP BY 1
    """,
)
def q26_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The moment/percentile family.  l_quantity's percentile stays an
    aggregate (≈50 distinct values — the map is tiny); l_extendedprice's
    p90 takes the sort-based path (600 k distinct doubles — see
    sort_percentile)."""
    li = load(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag").agg(
        qint(F.stddev_samp("l_quantity"), 2).alias("sd_qty_e2"),
        qint(F.var_samp("l_quantity"), 2).alias("var_qty_e2"),
        qint(F.expr("percentile(l_quantity, 0.5)"), 2).alias("median_qty_e2"),
    )
    p90 = sort_percentile(li, "l_returnflag", "l_extendedprice", 0.9)
    return base.join(F.broadcast(p90), "l_returnflag").select(
        "l_returnflag",
        "sd_qty_e2",
        "var_qty_e2",
        "median_qty_e2",
        qint("pctl", 2).alias("p90_price_e2"),
    )


# --- q28: CUBE (all grouping-set combinations) ------------------------------
@query(
    "q28_cube",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INT) AS gid,
           COUNT(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q28_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.grouping_id().cast("int").alias("gid"), F.count("*").alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "gid",
            "n",
        )
    )


# --- q52: correlation / covariance / regression slope ------------------------
# Spark's corr()/covar_samp() accumulate in partition-order-dependent
# doubles (Welford-style), so they can never bitwise-match a
# single-threaded oracle.  Instead both engines compute the SAME closed
# formula from exact decimal sums (the dsum pattern): every input to the
# final double arithmetic is bit-identical, IEEE ops are exactly
# rounded, so the outputs are bit-identical too — on any partitioning,
# which is also what makes the result reproducible on a real cluster.
@query(
    "q52_corr",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*)::DOUBLE AS n,
             {sx} AS sx, {sy} AS sy, {sxx} AS sxx, {syy} AS syy, {sxy} AS sxy
      FROM lineitem GROUP BY 1)
    SELECT l_returnflag,
           CAST(floor((n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy))
                      * 1e6 + 0.5) AS BIGINT) AS corr_qty_price_e6,
           CAST(floor((n*sxy - sx*sy) / (n*(n-1)) * 1e4 + 0.5) AS BIGINT)
             AS covar_qty_price_e4,
           CAST(floor((n*sxy - sx*sy) / (n*sxx - sx*sx) * 1e6 + 0.5) AS BIGINT)
             AS slope_price_per_qty_e6
    FROM s
    """.format(
        sx=sql_dsum_pos("l_quantity"),
        sy=sql_dsum_pos("l_extendedprice"),
        sxx=sql_dsum_pos("l_quantity * l_quantity"),
        syy=sql_dsum_pos("l_extendedprice * l_extendedprice"),
        sxy=sql_dsum_pos("l_quantity * l_extendedprice"),
    ),
)
def q52_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dsum_pos (split-accumulator long sums), not dsum: quantities and
    # prices are nonnegative with |x*y| < 1e11, and the decimal-cast sum
    # was q52's entire cost (2.4 s of its 4.4 s driver-r2 time).
    li = load(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        dsum_pos(x).alias("sx"),
        dsum_pos(y).alias("sy"),
        dsum_pos(x * x).alias("sxx"),
        dsum_pos(y * y).alias("syy"),
        dsum_pos(x * y).alias("sxy"),
    )
    n, sx, sy, sxx, syy, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "syy", "sxy"))
    return s.select(
        "l_returnflag",
        qint(
            (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
        ).alias("corr_qty_price_e6"),
        qint((n * sxy - sx * sy) / (n * (n - 1)), 4).alias("covar_qty_price_e4"),
        qint((n * sxy - sx * sy) / (n * sxx - sx * sx)).alias(
            "slope_price_per_qty_e6"
        ),
    )


# --- q66: equi-width histogram ----------------------------------------------
# The classic profiling aggregate: global min/max in one tiny pass,
# then a zero-join bucket assignment (the broadcast scalar pattern —
# at 100 TB the second pass is a map-side-combined count, and the
# bounds row is a broadcast, never a shuffle of the fact).  Bucket
# arithmetic is the same IEEE (v - lo) / width on both engines, so the
# assignment is bit-identical; bounds are emitted integer-quantized.
_Q66_BUCKETS = 10


@query(
    "q66_histogram",
    oracle=f"""
    WITH b AS (SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders)
    SELECT bucket,
           {sql_qint("lo + bucket * (hi - lo) / " + str(_Q66_BUCKETS), 2)} AS bucket_lo_e2,
           {sql_qint("lo + (bucket + 1) * (hi - lo) / " + str(_Q66_BUCKETS), 2)} AS bucket_hi_e2,
           COUNT(*) AS n
    FROM (
      SELECT LEAST(CAST(floor((o_totalprice - lo) / ((hi - lo) / {_Q66_BUCKETS}))
                        AS BIGINT), {_Q66_BUCKETS - 1}) AS bucket, lo, hi
      FROM orders CROSS JOIN b)
    GROUP BY bucket, lo, hi
    """,
)
def q66_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / _Q66_BUCKETS
    bucket = F.least(
        F.floor((F.col("o_totalprice") - F.col("lo")) / width).cast("long"),
        F.lit(_Q66_BUCKETS - 1),
    )
    return (
        o.join(F.broadcast(bounds))
        .select(bucket.alias("bucket"), "lo", "hi")
        .groupBy("bucket", "lo", "hi")
        .agg(F.count("*").alias("n"))
        .select(
            "bucket",
            qint(F.col("lo") + F.col("bucket") * (F.col("hi") - F.col("lo")) / _Q66_BUCKETS, 2).alias("bucket_lo_e2"),
            qint(F.col("lo") + (F.col("bucket") + 1) * (F.col("hi") - F.col("lo")) / _Q66_BUCKETS, 2).alias("bucket_hi_e2"),
            "n",
        )
    )


# --- q82: listagg / ordered string aggregation (Spark 4.0 SQL surface) ----------
@query(
    "q82_listagg",
    oracle="""
    SELECT r.r_name,
           string_agg(n.n_name, '|' ORDER BY n.n_name) AS nations,
           COUNT(*) AS n
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1
    """,
)
def q82_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q82: ANSI listagg ... WITHIN GROUP (ORDER BY ...) — ordered
    string aggregation, new SQL surface in Spark 4.0 (SPARK-42746,
    public JIRA).  The explicit WITHIN GROUP order makes the
    concatenation deterministic on any partitioning — without it,
    collect_list order is partition-dependent and unoracleable (the
    q25 key sorts arrays for the same reason).  Scale shape: ordinary
    partial/final hash aggregation; the per-group payload grows with
    group size, so at 100 TB cap groups or aggregate digests instead."""
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    j = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return j.groupBy("r_name").agg(
        F.expr("listagg(n_name, '|') WITHIN GROUP (ORDER BY n_name)").alias(
            "nations"
        ),
        F.count("*").alias("n"),
    )

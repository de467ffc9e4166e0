"""Product-analytics operators over the event stream: conversion
funnels, cohort retention, and batch sessionization (SURVEY.md §2B's
Athena-delegated analytics layer, owned natively — the engagement
questions the reference's daily ingest exists to answer,
reference main.py:4-5 / nba.yaml topics).

Scale design: every operator shuffles events exactly once, on user_id
(funnel stages and sessions are per-user sequential logic), or once on
the grouping key (cohort matrix).  Stage frames in the funnel collapse
to one row per user BEFORE any join, so the joins move |users| rows,
not |events|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fanstats_producer_spark.functions.num import qint
from fanstats_producer_spark.io import disk_checkpoint, load
from fanstats_producer_spark.registry import query
from fanstats_producer_spark.streaming.jobs import SESSION_GAP_MINUTES


# --- q55: conversion funnel ----------------------------------------------------
_FUNNEL = ("view", "click", "purchase")


@query(
    "q55_funnel",
    oracle=f"""
    WITH v AS (
      SELECT user_id, MIN(ts) AS v_ts FROM events
      WHERE event_type = '{_FUNNEL[0]}' GROUP BY 1),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS c_ts
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts >= v.v_ts
      WHERE e.event_type = '{_FUNNEL[1]}' GROUP BY 1),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS p_ts
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts >= c.c_ts
      WHERE e.event_type = '{_FUNNEL[2]}' GROUP BY 1),
    counts AS (
      SELECT 1 AS stage_no, '{_FUNNEL[0]}' AS stage, COUNT(*) AS n_users FROM v
      UNION ALL
      SELECT 2, '{_FUNNEL[1]}', COUNT(*) FROM c
      UNION ALL
      SELECT 3, '{_FUNNEL[2]}', COUNT(*) FROM p)
    SELECT stage_no, stage, n_users,
           CAST(floor(CAST(n_users AS DOUBLE)
                 / MAX(n_users) OVER () * 1e6 + 0.5) AS BIGINT)
             AS conv_from_top_e6
    FROM counts
    """,
)
def q55_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: a user counts
    for stage k only if the stage-k event happens AT OR AFTER their
    stage-(k-1) entry time.

    Each stage collapses to one row per user before feeding the next
    stage's join, so successive joins are |users|-sized.  The ordering
    constraint makes this stricter than a per-type distinct count — the
    classic analytics gap that a plain GROUP BY cannot express.
    """
    ev = load(spark, sf_dir, "events")

    def stage(event_type: str, prev: DataFrame | None, prev_ts: str, out_ts: str):
        s = ev.filter(F.col("event_type") == event_type)
        if prev is not None:
            s = s.join(prev, "user_id").filter(F.col("ts") >= F.col(prev_ts))
        return s.groupBy("user_id").agg(F.min("ts").alias(out_ts))

    v = stage(_FUNNEL[0], None, "", "v_ts")
    c = stage(_FUNNEL[1], v, "v_ts", "c_ts")
    p = stage(_FUNNEL[2], c, "c_ts", "p_ts")
    counts = (
        v.agg(F.count("*").alias("n_users"))
        .select(F.lit(1).alias("stage_no"), F.lit(_FUNNEL[0]).alias("stage"), "n_users")
        .unionByName(
            c.agg(F.count("*").alias("n_users")).select(
                F.lit(2).alias("stage_no"), F.lit(_FUNNEL[1]).alias("stage"), "n_users"
            )
        )
        .unionByName(
            p.agg(F.count("*").alias("n_users")).select(
                F.lit(3).alias("stage_no"), F.lit(_FUNNEL[2]).alias("stage"), "n_users"
            )
        )
    )
    # Broadcast the 1-row max instead of an unpartitioned window: the
    # counts frame is 3 rows, but the empty-frame WindowExec still drags
    # everything to one task (and spams the driver log); the cross join
    # is a broadcast nested loop over a scalar.
    top = counts.agg(F.max("n_users").alias("__top"))
    return (
        counts.crossJoin(F.broadcast(top))
        .withColumn(
            "conv_from_top_e6",
            qint(F.col("n_users").cast("double") / F.col("__top")),
        )
        .drop("__top")
    )


# --- q56: cohort retention matrix ----------------------------------------------
@query(
    "q56_cohort",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY 1),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(datediff('day', CAST(f.cohort_week AS DATE),
                           CAST(date_trunc('week', e.ts) AS DATE)) // 7
                  AS INT) AS week_offset
      FROM events e JOIN first_seen f USING (user_id))
    SELECT CAST(cohort_week AS DATE) AS cohort_week, week_offset,
           COUNT(*) AS n_active
    FROM activity GROUP BY 1, 2
    """,
)
def q56_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen week, counted in
    each subsequent activity week (the retention-curve input).

    Two shuffles total: min(ts) per user, then the distinct over
    (user, offset).  The first-seen frame is |users|-sized and
    broadcasts into the activity join — events shuffle once."""
    ev = load(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        ev.join(F.broadcast(first_seen), "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")).cast("date"),
                    F.col("cohort_week").cast("date"),
                )
                / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy(
        F.col("cohort_week").cast("date").alias("cohort_week"), "week_offset"
    ).agg(F.count("*").alias("n_active"))


# --- q57: batch sessionization --------------------------------------------------


@query(
    "q57_sessionize",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER w
                       <= INTERVAL {SESSION_GAP_MINUTES} MINUTE
                  THEN 0 ELSE 1 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sessions AS (
      SELECT user_id, ts, event_id,
             SUM(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS session_seq
      FROM flagged)
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           COUNT(*) AS n_events,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end
    FROM sessions GROUP BY 1, 2
    """,
)
def q57_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: a >{gap}-minute silence starts a new
    session (gap-and-island via lag + running sum — the batch analogue
    of the s04 streaming session window).

    ONE shuffle on user_id serves both windows and the final group-by
    (same partitioning key), so Catalyst reuses the exchange."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # unix_micros, NOT cast("long"): the cast truncates to whole
    # seconds, so a gap of 1800.x s read as 1800 stayed in-session
    # while the full-precision comparison breaks it — invisible below
    # sf1 (zero boundary-straddling gaps), 15 lost sessions in 955k at
    # sf1 (caught by the localdata sf1 sweep)
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.unix_micros(F.col("ts"))
            - F.lag(F.unix_micros(F.col("ts"))).over(w)
            <= SESSION_GAP_MINUTES * 60 * 1_000_000,
            0,
        ).otherwise(1),
    )
    sessions = flagged.withColumn(
        "session_seq", F.sum("new_session").over(w)
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
    )


# --- q59: market-basket co-occurrence (lift) -----------------------------------
# Items bought together: pair frequencies within an order plus the lift
# statistic (P(a,b) / (P(a)P(b))) — the co-engagement analytic the
# reference's topic feeds point at ("which topics trend together").
# Plan shape reuses the x04 posting-list trick: ONE shuffle groups the
# (order, part) postings per order, pairs are expanded MAP-SIDE from
# each basket's sorted item list (i<j combinations), then one hash
# aggregate counts pairs — no self-join of the 100 TB fact table with
# itself, and the expansion is bounded by basket size (tiny), not table
# size.  Margins n_a/n_b are a second small aggregate broadcast into
# the final scoring join.
_Q59_MIN_PAIRS = 2


@query(
    "q59_basket_pairs",
    oracle=f"""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_ab
      FROM d a JOIN d b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_Q59_MIN_PAIRS}),
    marg AS (SELECT l_partkey, COUNT(*) AS n FROM d GROUP BY 1),
    tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM d)
    SELECT part_a, part_b, n_ab,
           CAST(floor((CAST(n_ab AS DOUBLE) * n_orders)
                      / (CAST(ma.n AS DOUBLE) * mb.n) * 1e6 + 0.5) AS BIGINT)
             AS lift_e6
    FROM pairs
    JOIN marg ma ON ma.l_partkey = part_a
    JOIN marg mb ON mb.l_partkey = part_b
    CROSS JOIN tot
    """,
)
def q59_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # collect_set per order = dedupe + basket build in ONE exchange of the
    # fact table (a distinct-then-regroup would shuffle it twice: once by
    # (order, part), again by order).  Everything downstream — margins,
    # pair expansion, scoring — runs on the much smaller basket/posting
    # frames.
    # localCheckpoint: baskets feed FOUR consumers (pair expansion, two
    # margin broadcasts, the order total); without materialization each
    # consumer would re-scan and re-shuffle the 100 TB fact table (plan-
    # level subtree reuse does not dedupe across DataFrame references).
    # Same diamond-reuse lever as connected_components; at cluster scale,
    # checkpoint to reliable storage instead.
    baskets = disk_checkpoint(
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("items"))
    )
    combos = (
        "flatten(transform(items, (x, i) ->"
        " transform(slice(items, cast(i + 2 as int), size(items)),"
        " y -> struct(x as part_a, y as part_b))))"
    )
    pairs = (
        baskets.select(F.expr(f"explode({combos}) as p"))
        .groupBy(F.col("p.part_a").alias("part_a"), F.col("p.part_b").alias("part_b"))
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= _Q59_MIN_PAIRS)
    )
    postings = baskets.select(F.explode("items").alias("l_partkey"))
    marg = postings.groupBy("l_partkey").agg(F.count("*").alias("n"))
    tot = baskets.agg(F.count("*").alias("n_orders"))
    return (
        pairs.join(
            F.broadcast(marg.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("n_a"))),
            "part_a",
        )
        .join(
            F.broadcast(marg.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("n_b"))),
            "part_b",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            qint(
                (F.col("n_ab").cast("double") * F.col("n_orders"))
                / (F.col("n_a").cast("double") * F.col("n_b"))
            ).alias("lift_e6"),
        )
    )

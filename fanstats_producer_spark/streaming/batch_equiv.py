"""Windowed-aggregation operators shared by batch and streaming
(SURVEY.md §2B streaming rows s02-s04, s06).

`window()` / `session_window()` are the same expressions in batch and
Structured Streaming; registering their *batch* application here gives
the driver an oracle-checkable arm, while streaming/jobs.py applies the
identical transforms to `readStream` sources (tested in
tests/test_streaming.py with real file streams, watermarks and
checkpoints).  This one-transform-two-modes split is exactly how the
reference's daily-crawl batch (reference main.tf:214-218) becomes a
continuous pipeline without rewriting the analytics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fanstats_producer_spark.functions.num import dsum_pos, sql_dsum_pos
from fanstats_producer_spark.io import load
from fanstats_producer_spark.operators.sketches import _HLL_LG_K
from fanstats_producer_spark.registry import query
from fanstats_producer_spark.streaming.jobs import SESSION_GAP, SESSION_GAP_MINUTES

_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


def tumbling_daily(events: DataFrame) -> DataFrame:
    """1-day tumbling windows (the reference's daily run cadence,
    main.tf:217, as a windowed agg)."""
    return (
        events.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum_pos("value").alias("sum_value"))
        .select(
            F.date_format("w.start", _FMT_SPARK).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query(
    "s02_tumbling",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '{fmt}') AS window_start,
           event_type,
           COUNT(*) AS n,
           {sum_value} AS sum_value
    FROM events
    GROUP BY 1, 2
    """.format(fmt=_FMT_DUCK, sum_value=sql_dsum_pos("value")),
)
def s02_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_daily(load(spark, sf_dir, "events"))


def sliding_hourly(events: DataFrame) -> DataFrame:
    """1-hour windows sliding every 15 minutes."""
    return (
        events.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.date_format("w.start", _FMT_SPARK).alias("window_start"), "n")
    )


@query(
    "s03_sliding",
    oracle="""
    -- each event belongs to 4 sliding windows: the 15-min bucket it's in
    -- minus 0..3 slide offsets (epoch-aligned, same as Spark's origin)
    SELECT strftime(to_timestamp(CAST(floor(epoch(ts) / 900) AS BIGINT) * 900
                                 - o.off * 900), '{fmt}')
             AS window_start,
           COUNT(*) AS n
    FROM events
    CROSS JOIN (VALUES (0), (1), (2), (3)) AS o(off)
    GROUP BY 1
    """.format(fmt=_FMT_DUCK),
)
def s03_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_hourly(load(spark, sf_dir, "events"))


def sessionize(events: DataFrame) -> DataFrame:
    """Per-user session windows (fan activity bursts): events closer than
    SESSION_GAP (shared with the s04 stream) merge; session end = last
    event + SESSION_GAP."""
    return (
        events.groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), dsum_pos("value").alias("sum_value"))
        .select(
            "user_id",
            F.date_format("w.start", _FMT_SPARK).alias("session_start"),
            F.date_format("w.end", _FMT_SPARK).alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "s04_session",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL {gap} MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked)
    SELECT user_id,
           strftime(MIN(ts), '{fmt}') AS session_start,
           strftime(MAX(ts) + INTERVAL {gap} MINUTE, '{fmt}') AS session_end,
           COUNT(*) AS n_events,
           {sum_value} AS sum_value
    FROM numbered
    GROUP BY user_id, sid
    """.format(
        fmt=_FMT_DUCK, gap=SESSION_GAP_MINUTES, sum_value=sql_dsum_pos("value")
    ),
)
def s04_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(load(spark, sf_dir, "events"))


def dedup_first_by_time(events: DataFrame, keys: list[str]) -> DataFrame:
    """Keep the earliest event per key — the batch mirror of streaming
    dropDuplicatesWithinWatermark (first-arrival wins)."""
    w = Window.partitionBy(*keys).orderBy("ts", "event_id")
    return (
        events.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


@query(
    "s06_stream_dedup",
    oracle="""
    SELECT event_id, user_id, event_type FROM (
      SELECT event_id, user_id, event_type,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events)
    WHERE rn = 1
    """,
)
def s06_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_first_by_time(
        load(spark, sf_dir, "events"), ["user_id", "event_type"]
    ).select("event_id", "user_id", "event_type")


def windowed_distinct_users(events: DataFrame) -> DataFrame:
    """s13: distinct users per day per event type from HLL sketches —
    the x20 mergeable-sketch pattern inside a window aggregation.  On a
    stream this runs with a watermark and fixed per-window state (a KB
    blob), where exact distinct would hold every key seen; exact
    through sf0.1 cardinality at sketches._HLL_LG_K (measured), so the batch
    arm oracle-checks.  Measured boundary: at sf1 (~5.3k distinct per
    window) 15 of 150 windows sit exactly -1 — a coupon-hash collision
    pair, PRECISION-INDEPENDENT (identical at lg 18/20/21) — the
    honest floor of any hashed sketch; past it, exactness needs the
    countDistinct arm (q21), which is what the sketch deliberately
    trades away."""
    return (
        events.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(_HLL_LG_K))
            ).alias("n_users")
        )
        .select(
            F.date_format("w.start", _FMT_SPARK).alias("window_start"),
            "event_type",
            "n_users",
        )
    )


@query(
    "s13_stream_distinct",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '{fmt}') AS window_start,
           event_type,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    """.format(fmt=_FMT_DUCK),
)
def s13_stream_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windowed_distinct_users(load(spark, sf_dir, "events"))


#: s14's per-day heavy-hitter tracker size (approx_top_k's k).
_S14_TOP_K = 5


def windowed_trending(events: DataFrame) -> DataFrame:
    """s14: trending items per day — the reference's core analytic (top
    topics per day) as a windowed heavy-hitter sketch.  approx_top_k
    keeps fixed per-window state on a stream (vs a full count map);
    exact while the tracker is not evicting, so the batch arm
    oracle-checks against plain GROUP BY counts."""
    return (
        events.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.expr(f"approx_top_k(event_type, {_S14_TOP_K})").alias("top"))
        .select(
            F.date_format("w.start", _FMT_SPARK).alias("window_start"),
            F.explode("top").alias("e"),
        )
        .select(
            "window_start",
            F.col("e.item").alias("item"),
            F.col("e.count").alias("n"),
        )
    )


@query(
    "s14_stream_trending",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '{fmt}') AS window_start,
           event_type AS item,
           COUNT(*) AS n
    FROM events
    GROUP BY 1, 2
    """.format(fmt=_FMT_DUCK),
)
def s14_stream_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windowed_trending(load(spark, sf_dir, "events"))

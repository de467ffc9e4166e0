"""Time-series densification: calendar gap-fill with forward-fill and
linear interpolation (SURVEY.md §2B windows family, extending the
q53_recursive_cte calendar pattern to value imputation).

The reference's downstream is a daily Athena dashboard over a feed that
can skip days (its producer caps at 3000 rows/run and a failed ECS run
lands nothing — main.py:13-19, main.tf:217); any rate/trend query over
that feed needs explicit gap handling.  This operator owns it natively:
build the dense (series key × calendar day) grid, then impute missing
days two ways — last-observation-carried-forward and linear
interpolation between the flanking observations.

Scale design: the grid is |keys| × |days| — astronomically smaller than
the event table — built from two tiny aggregates (distinct keys, global
date bounds) that Catalyst broadcasts; the event table itself is touched
by exactly one shuffle (the daily pre-aggregation).  The imputation
windows then run over the GRID, not the events, so their cost is
independent of event volume.  Per-day sums are decimal-quantized before
the float divide (the q52_corr pattern) so imputed values are bit-stable
across partitionings and engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fanstats_producer_spark.functions.num import qint
from fanstats_producer_spark.io import load
from fanstats_producer_spark.operators.sampling import hash_bucket
from fanstats_producer_spark.registry import query


def gapfill_interpolate(daily: DataFrame) -> DataFrame:
    """Densify (event_type, d, avg_v) to the full event_type × calendar
    grid and impute gaps: `v_ffill` carries the last observation
    forward, `v_interp` linearly interpolates between the flanking
    observations (falling back to the nearest one at series edges);
    `n` is the day's count, 0 on a filled day."""
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    days = bounds.select(F.explode(F.sequence("lo", "hi")).alias("d"))
    keys = daily.select("event_type").distinct()
    grid = keys.crossJoin(F.broadcast(days))
    j = grid.join(daily, ["event_type", "d"], "left")

    back = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    v = F.col("avg_v")
    obs_day = F.when(v.isNotNull(), F.col("d"))
    pv = F.last(v, ignorenulls=True).over(back)
    pd_ = F.last(obs_day, ignorenulls=True).over(back)
    nv = F.first(v, ignorenulls=True).over(fwd)
    nd = F.first(obs_day, ignorenulls=True).over(fwd)
    interp = (
        F.when(v.isNotNull(), v)
        .when(pv.isNull(), nv)
        .when(nv.isNull(), pv)
        .otherwise(
            pv
            + ((nv - pv) * F.datediff(F.col("d"), pd_))
            / F.datediff(nd, pd_)
        )
    )
    return j.select(
        "event_type",
        "d",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        pv.alias("v_ffill"),
        interp.alias("v_interp"),
    )


# The fixture feed is dense, so the gap structure is created the same way
# a sparse production slice arises: a deterministic 1/16 sample (md5
# bucket on event_id — reproducible, engine-independent) leaves real
# holes in the (event_type × day) grid at test scale.
@query(
    "q58_gapfill",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(18,6))) AS sv
      FROM events
      WHERE CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 < 1
      GROUP BY 1, 2),
    davg AS (
      SELECT event_type, d, n,
             floor(CAST(sv AS DOUBLE) / n * 1e6 + 0.5) / 1e6 AS avg_v
      FROM daily),
    bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM davg),
    days AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
      FROM bounds),
    grid AS (
      SELECT k.event_type, days.d
      FROM (SELECT DISTINCT event_type FROM davg) k CROSS JOIN days),
    j AS (
      SELECT g.event_type, g.d, COALESCE(davg.n, 0) AS n, davg.avg_v
      FROM grid g LEFT JOIN davg ON g.event_type = davg.event_type AND g.d = davg.d),
    w AS (
      SELECT event_type, d, n, avg_v,
        last_value(avg_v IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN avg_v IS NOT NULL THEN d END IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        first_value(avg_v IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY d
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN avg_v IS NOT NULL THEN d END IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY d
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM j)
    SELECT event_type, d, n,
      CAST(floor(pv * 1e6 + 0.5) AS BIGINT) AS v_ffill_e6,
      CAST(floor((CASE WHEN avg_v IS NOT NULL THEN avg_v
                 WHEN pv IS NULL THEN nv
                 WHEN nv IS NULL THEN pv
                 ELSE pv + ((nv - pv) * date_diff('day', pd, d))
                           / date_diff('day', pd, nd)
            END) * 1e6 + 0.5) AS BIGINT) AS v_interp_e6
    FROM w
    """,
)
def q58_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(
        hash_bucket(F.col("event_id"), 16) < 1
    )
    daily = (
        ev.groupBy(
            "event_type", F.to_date("ts").alias("d")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sv"),
        )
        .select(
            "event_type",
            "d",
            "n",
            (
                F.floor(
                    F.col("sv").cast("double") / F.col("n") * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("avg_v"),
        )
    )
    filled = gapfill_interpolate(daily)
    return filled.select(
        "event_type",
        "d",
        "n",
        qint("v_ffill").alias("v_ffill_e6"),
        qint("v_interp").alias("v_interp_e6"),
    )

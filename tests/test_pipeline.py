"""End-to-end producer-pipeline tests (SURVEY.md §3.1 parity)."""

from __future__ import annotations

import datetime
import os

import pytest

from pyspark.sql import functions as F

from fanstats_producer_spark.pipeline import demo_fetcher, run_pipeline


@pytest.fixture()
def configs(tmp_path):
    data = tmp_path / "nba.yaml"
    data.write_text(
        "version: 1.0\n---\nTopic: NBA\nType: League\nAliases:\n  - Basketball\n"
    )
    plats = tmp_path / "platforms.yaml"
    plats.write_text("version: 1.0\n---\nPlatforms:\n  - Twitter\n")
    return str(data), str(plats)


def test_run_pipeline_end_to_end(spark, configs, tmp_path):
    """config → lookback → paginated collect → filters → partitioned sink."""
    data_file, platforms_file = configs
    out = str(tmp_path / "lake")
    wrote = run_pipeline(
        spark,
        data_file,
        platforms_file,
        out,
        fetch_page=demo_fetcher(),
        now=datetime.datetime(2024, 1, 16, 5, 0, tzinfo=datetime.timezone.utc),
    )
    assert wrote == {"Twitter": True}
    # layout: platform/topic/year/month/day (main.py:70-73 as named partitions)
    assert os.path.isdir(
        os.path.join(out, "platform=Twitter", "topic=NBA", "year=2024",
                     "month=01", "day=15")
    )
    back = spark.read.json(out)
    # demo fetcher: 3 pages x 25 rows per topic, 2 topics (NBA + alias)
    assert back.count() == 150
    assert {r.platform for r in back.select("platform").distinct().collect()} == {"Twitter"}


def test_run_pipeline_unsupported_platform(spark, tmp_path, configs):
    data_file, _ = configs
    bad = tmp_path / "bad_platforms.yaml"
    bad.write_text("version: 1.0\n---\nPlatforms:\n  - Facebook\n")
    with pytest.raises(ValueError, match="platform not supported"):
        run_pipeline(spark, data_file, str(bad), str(tmp_path / "x"),
                     fetch_page=demo_fetcher())


def test_landed_data_supports_athena_style_analytics(spark, configs, tmp_path):
    """The full reference loop: produce → land → analyze.  The analytics
    the reference delegates to Athena (engagement rollups over the
    landed layout, main.py:4-5) run directly on our lake."""
    data_file, platforms_file = configs
    out = str(tmp_path / "lake2")
    run_pipeline(
        spark, data_file, platforms_file, out,
        fetch_page=demo_fetcher(),
        now=datetime.datetime(2024, 1, 16, 5, 0, tzinfo=datetime.timezone.utc),
    )
    lake = spark.read.json(out)
    lake.createOrReplaceTempView("landed_tweets")
    daily = spark.sql(
        """
        SELECT topic, year, month, day,
               COUNT(*) AS n_posts,
               SUM(public_metrics.like_count) AS likes,
               SUM(public_metrics.retweet_count) AS retweets,
               ROUND(AVG(public_metrics.like_count), 2) AS avg_likes
        FROM landed_tweets
        GROUP BY topic, year, month, day
        ORDER BY n_posts DESC
        """
    ).collect()
    assert len(daily) == 1  # one topic-day in the demo fetch
    row = daily[0]
    assert (row.topic, row.year, row.month, row.day) == ("NBA", 2024, 1, 15)
    assert row.n_posts == 150
    # engagement figures: demo fetcher likes = 2*i for i in 0..24, x2 topics x3 pages
    assert row.likes == 2 * sum(2 * i for i in range(25)) * 3


def test_pipeline_second_platform_collector(spark, configs, tmp_path):
    """P9 extensibility: a Reddit-shaped collector (different schema)
    lands beside Twitter in the same run, same lake."""
    data_file, _ = configs
    plats = tmp_path / "two_platforms.yaml"
    plats.write_text("version: 1.0\n---\nPlatforms:\n  - Twitter\n  - Reddit\n")
    out = str(tmp_path / "lake3")

    def reddit_collector(s):
        return s.createDataFrame(
            [("r1", "NBA thread", "2024-01-15T08:00:00.000Z", 42),
             ("r2", "trade rumors", "2024-01-15T09:00:00.000Z", 7)],
            "id string, title string, created_at string, upvotes int",
        )

    wrote = run_pipeline(
        spark, data_file, str(plats), out,
        fetch_page=demo_fetcher(),
        now=datetime.datetime(2024, 1, 16, 5, 0, tzinfo=datetime.timezone.utc),
        extra_collectors={"Reddit": reddit_collector},
    )
    assert wrote == {"Twitter": True, "Reddit": True}
    lake = spark.read.option("mergeSchema", True).json(out)
    by_platform = {
        r.platform: r.n for r in
        lake.groupBy("platform").agg(F.count("*").alias("n")).collect()
    }
    assert by_platform == {"Twitter": 150, "Reddit": 2}
    # schema drift tolerated: upvotes only on Reddit rows
    assert lake.filter(F.col("upvotes").isNotNull()).count() == 2


def test_scd2_merge_closes_and_opens(spark):
    """Matched keys emit a closed old row + an open new row; unmatched
    keys pass through current; point-in-time lookup works."""
    import datetime

    import pyspark.sql.functions as F

    from fanstats_producer_spark.operators.scd import scd2_merge

    dim = spark.createDataFrame(
        [(1, "AUTO", datetime.date(1990, 1, 1)), (2, "BIKE", datetime.date(1991, 5, 2))],
        "k long, segment string, valid_from date",
    )
    upd = spark.createDataFrame(
        [(1, "HOUSE", datetime.date(1995, 6, 1))],
        "k long, segment string, eff_date date",
    )
    hist = scd2_merge(dim, upd, key="k", attr="segment")
    rows = sorted(hist.collect(), key=lambda r: (r.k, r.valid_from))
    assert [(r.k, r.segment, str(r.valid_from), r.valid_to and str(r.valid_to), r.is_current) for r in rows] == [
        (1, "AUTO", "1990-01-01", "1995-06-01", False),
        (1, "HOUSE", "1995-06-01", None, True),
        (2, "BIKE", "1991-05-02", None, True),
    ]
    # point-in-time join: as of 1993-01-01, key 1 is still AUTO
    asof = hist.filter(
        (F.lit("1993-01-01").cast("date") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.lit("1993-01-01").cast("date") < F.col("valid_to")))
    )
    assert {(r.k, r.segment) for r in asof.collect()} == {(1, "AUTO"), (2, "BIKE")}

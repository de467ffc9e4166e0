"""P-layer tests (SURVEY.md §2A): tweet NDJSON ingest, source predicates,
pagination/cap semantics, partition layout, config version gates.

Fixture requirements from FIXTURES.md §B: ≥2 topics × ≥3 days, rows each
predicate removes, missing entities, an overflow set for the cap, and
versioned YAML configs incl. unsupported variants.
"""

from __future__ import annotations

import itertools
import json
import os

import pytest

from pyspark.sql import functions as F

from fanstats_producer_spark.sources import config as cfg
from fanstats_producer_spark.sources.ndjson import (
    TWEET_SCHEMA,
    default_source_filters,
    read_tweets,
    with_partition_columns,
    write_partitioned,
)
from fanstats_producer_spark.sources.rest import PaginatedSource


def _tweet(i: int, day: int, lang="en", rt=False, hashtags=None, topic="NBA"):
    t = {
        "id": str(i),
        "text": ("RT @x " if rt else "") + f"game tonight {topic} #{i}",
        "created_at": f"2024-01-{day:02d}T12:00:{i % 60:02d}.000Z",
        "lang": lang,
        "public_metrics": {
            "retweet_count": i % 7,
            "reply_count": i % 5,
            "like_count": i * 3 % 100,
            "quote_count": i % 3,
        },
    }
    if hashtags is not None:
        t["entities"] = {"hashtags": [{"start": 0, "end": 5, "tag": h} for h in hashtags]}
    t["context_annotations"] = [
        {
            "domain": {"id": "46", "name": "Brand", "description": "d"},
            "entity": {"id": str(i), "name": topic, "description": "d"},
        }
    ]
    return t


@pytest.fixture(scope="module")
def landing_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("landing")
    rows = []
    for i in range(30):
        day = 10 + (i % 3)
        topic = "NBA" if i % 2 == 0 else "NFL"
        rows.append(_tweet(i, day, topic=topic))
    rows.append(_tweet(100, 10, lang="es"))  # dropped by lang:en
    rows.append(_tweet(101, 10, rt=True))  # dropped by -is:retweet
    rows.append(_tweet(102, 10, hashtags=["nbatopshot"]))  # dropped by -#nbatopshot
    rows.append(_tweet(103, 10, hashtags=["playoffs"]))  # kept
    with open(d / "batch.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return str(d)


def test_read_pinned_schema(spark, landing_dir):
    df = read_tweets(spark, landing_dir)
    assert df.schema == TWEET_SCHEMA
    assert df.count() == 34


def test_schema_inference_parity(spark, landing_dir):
    """Glue-crawler-style inference (main.tf:304-314) still reads every row."""
    df = read_tweets(spark, landing_dir, infer_schema=True)
    assert df.count() == 34
    assert "public_metrics" in df.columns


def test_default_source_filters(spark, landing_dir):
    df = read_tweets(spark, landing_dir)
    kept = default_source_filters(df)
    ids = {r.id for r in kept.select("id").collect()}
    assert {"100", "101", "102"}.isdisjoint(ids)
    assert "103" in ids  # non-matching hashtag not dropped
    assert kept.count() == 31  # 30 base + id 103


def test_topic_predicate(spark, landing_dir):
    df = default_source_filters(read_tweets(spark, landing_dir), topic="NBA")
    names = df.select(F.explode("context_annotations.entity.name").alias("n")).distinct()
    assert {r.n for r in names.collect()} == {"NBA"}


def test_partitioned_layout(spark, landing_dir, tmp_path):
    """Named Hive layout mirrors main.py:70-73 `Twitter/<topic>/YYYY/MM/DD`."""
    out = str(tmp_path / "lake")
    df = default_source_filters(read_tweets(spark, landing_dir))
    wrote = write_partitioned(
        with_partition_columns(df, platform="Twitter", topic="NBA"), out
    )
    assert wrote
    assert os.path.isdir(os.path.join(out, "platform=Twitter", "topic=NBA",
                                      "year=2024", "month=01", "day=10"))
    back = spark.read.json(out)
    assert back.count() == df.count()
    # partition pruning works on the named layout
    one_day = back.filter((F.col("year") == "2024") & (F.col("day") == "11"))
    assert one_day.count() == df.filter(F.col("created_at").contains("2024-01-11")).count()


def test_empty_result_guard(spark, tmp_path):
    """main.py:183-194: no data → no write, no error."""
    empty = spark.createDataFrame([], TWEET_SCHEMA)
    out = str(tmp_path / "never")
    assert not write_partitioned(
        with_partition_columns(empty, platform="Twitter", topic="NBA"), out
    )
    assert not os.path.exists(out)


# --- pagination / cap (P1/P4, main.py:122-160) --------------------------------
def _fake_fetch(pages: dict[str, list[list[dict]]]):
    def fetch(topic, start_time, next_token, page_size):
        chunks = pages[topic]
        idx = 0 if next_token is None else int(next_token)
        rows = chunks[idx][:page_size]
        nxt = str(idx + 1) if idx + 1 < len(chunks) else None
        return rows, nxt

    return fetch


def test_pagination_follows_next_token(spark):
    pages = {"NBA": [[_tweet(i, 10) for i in range(j * 10, j * 10 + 10)] for j in range(4)]}
    src = PaginatedSource(spark, _fake_fetch(pages), page_size=10, max_results=1000)
    df = src.scan(["NBA"], "2024-01-01T00:00:00Z")
    assert df.count() == 40


def test_result_cap(spark):
    pages = {"NBA": [[_tweet(i, 10) for i in range(j * 100, j * 100 + 100)] for j in range(5)]}
    src = PaginatedSource(spark, _fake_fetch(pages), max_results=250)
    assert src.scan(["NBA"], "t0").count() == 250  # stops at the cap (main.py:136)


def test_multi_topic_fanout_union(spark):
    pages = {
        "NBA": [[_tweet(i, 10, topic="NBA") for i in range(20)]],
        "NFL": [[_tweet(i, 11, topic="NFL") for i in range(30)]],
    }
    src = PaginatedSource(spark, _fake_fetch(pages))
    assert src.scan(["NBA", "NFL"], "t0").count() == 50


def _repeating_cursor():
    """A server that returns the same 10 tweets and cursor "same" forever."""
    page = [_tweet(i, 10) for i in range(10)]
    return lambda topic, start_time, next_token, page_size: (page, "same")


def _empty_pages():
    """A server that returns empty pages under a fresh cursor each time,
    and raises once a crawl has spun for 50 requests."""
    calls = itertools.count(1)

    def fetch(topic, start_time, next_token, page_size):
        n = next(calls)
        if n > 50:
            raise RuntimeError("crawl never stopped")
        return [], f"c{n}"

    return fetch


def _scan_count(spark, factory) -> int:
    return PaginatedSource(spark, factory()).scan(["NBA"], "t0").count()


@pytest.mark.parametrize("count", [_scan_count], ids=["scan"])
@pytest.mark.parametrize(
    "factory, most", [(_repeating_cursor, 20), (_empty_pages, 0)], ids=["repeat", "empty"]
)
def test_pager_liveness_guards(spark, count, factory, most):
    """The Twitter crawl stops on a repeated cursor and on a page with
    no rows, instead of paging to the cap or forever."""
    assert count(spark, factory) <= most


# --- config loading / version gates (P8/P10) -----------------------------------
def _write_yaml(path, text):
    path.write_text(text)
    return str(path)


def test_datafile_load(tmp_path):
    p = _write_yaml(
        tmp_path / "nba.yaml",
        "version: 1.0\n---\nTopic: NBA\nType: League\nAliases:\n  - National Basketball Association\n",
    )
    c = cfg.load_data_file(p)
    assert (c.topic, c.type, c.partition_key) == ("NBA", "League", "NBA")
    assert c.aliases == ["National Basketball Association"]


def test_team_type_requires_league(tmp_path):
    c = cfg.load_data_file(
        _write_yaml(
            tmp_path / "team.yaml",
            "version: 1.0\n---\nTopic: Lakers\nType: Team\nLeague: NBA\n",
        )
    )
    assert c.partition_key == "NBA"  # main.py:185-186
    broken = cfg.load_data_file(
        _write_yaml(tmp_path / "team2.yaml", "version: 1.0\n---\nTopic: Lakers\nType: Team\n")
    )
    with pytest.raises(ValueError, match="League"):
        _ = broken.partition_key


def test_unsupported_version_raises(tmp_path):
    """Real ValueError, not the reference's string-raise (main.py:196-200)."""
    p = _write_yaml(tmp_path / "v2.yaml", "version: 2.0\n---\nTopic: NBA\nType: League\n")
    with pytest.raises(ValueError, match="unsupported datafile version"):
        cfg.load_data_file(p)
    p2 = _write_yaml(tmp_path / "p2.yaml", "version: 9.9\n---\nPlatforms:\n  - Twitter\n")
    with pytest.raises(ValueError, match="unsupported platformfile version"):
        cfg.load_platforms(p2)


def test_platforms_load(tmp_path):
    p = _write_yaml(
        tmp_path / "platforms.yaml", "version: 1.0\n---\nPlatforms:\n  - Twitter\n"
    )
    assert cfg.load_platforms(p).platforms == ["Twitter"]


def _fake_reddit(posts_per_sub: int):
    """Deterministic Reddit listing fake: pages of `kind: t3` envelopes
    with an `after` fullname cursor, plus one non-t3 child per page
    that must be skipped."""

    def fetch(subreddit, after, limit):
        start = int(after.split("_")[1]) + 1 if after else 0
        ids = range(start, min(start + limit, posts_per_sub))
        children = [
            {
                "kind": "t3",
                "data": {
                    "id": f"{subreddit}_{i}",
                    "subreddit": subreddit,
                    "title": f"post {i}",
                    "selftext": "body" if i % 2 else "",
                    "author": f"u{i % 7}",
                    "created_utc": 1700000000.0 + i,
                    "score": i,
                    "num_comments": i % 3,
                },
            }
            for i in ids
        ]
        children.append({"kind": "t1", "data": {"id": "comment-noise"}})
        last = max(ids, default=None)
        nxt = f"t3_{last}" if last is not None and last + 1 < posts_per_sub else None
        return children, nxt

    return fetch


def test_reddit_listing_pagination_and_envelope(spark):
    """P9 second platform: `after`-cursor pagination, per-request limit
    clamp, t3-envelope unwrap, epoch-seconds timestamps, result cap."""
    from fanstats_producer_spark.sources.reddit import RedditListingSource

    src = RedditListingSource(spark, _fake_reddit(250), limit=500, max_posts=220)
    assert src.limit == 100  # clamped to Reddit's per-request max
    out = src.scan(["nba"]).collect()
    assert len(out) == 220  # cap enforced mid-listing (3 pages fetched)
    ids = [r.post_id for r in out]
    assert ids[0] == "nba_0" and ids[-1] == "nba_219"  # cursor chain in order
    assert all(r.created_utc == 1700000000.0 + i for i, r in enumerate(out))
    assert not any("comment" in r.post_id for r in out)  # non-t3 skipped


def test_reddit_listing_liveness_and_row_tolerance(spark):
    """A server that keeps handing back a cursor over pages with no
    usable rows (or a repeating cursor) must terminate the scan, and a
    malformed numeric field nulls/zeroes that field instead of killing
    the whole listing."""
    from fanstats_producer_spark.sources.reddit import RedditListingSource

    calls = {"n": 0}

    def hostile(subreddit, after, limit):
        calls["n"] += 1
        # page 1: one good row + one row with garbage numerics;
        # afterwards: endless non-t3 noise with a live cursor
        if after is None:
            return (
                [
                    {"kind": "t3", "data": {
                        "id": "ok", "created_utc": 1700000000.0, "score": 3}},
                    {"kind": "t3", "data": {
                        "id": "bad", "created_utc": "not-a-number",
                        "score": "NaNish", "num_comments": None}},
                ],
                "t3_cursor",
            )
        return [{"kind": "t1", "data": {"id": "noise"}}], "t3_cursor"

    src = RedditListingSource(spark, hostile, max_posts=50)
    out = {r.post_id: r for r in src.scan(["nba"]).collect()}
    assert calls["n"] <= 3  # zero-progress page broke the loop
    assert set(out) == {"ok", "bad"}
    assert out["bad"].created_utc is None and out["bad"].score == 0
    assert out["ok"].created_utc == 1700000000.0 and out["ok"].score == 3

    # repeated-cursor variant: pages always add a row but the cursor
    # never advances — the seen-cursor guard must stop the chain
    def repeater(subreddit, after, limit):
        return (
            [{"kind": "t3", "data": {"id": f"r{len(after or '')}"}}],
            "t3_same",
        )

    out2 = RedditListingSource(spark, repeater, max_posts=50).scan(["nba"])
    assert out2.count() <= 2


def _run_platforms(spark, tmp_path, collectors: dict):
    """One run_pipeline call over a Twitter fetch that yields a single
    tweet ``t1`` plus ``collectors``; returns the lake read back by
    name, keyed by id."""
    from fanstats_producer_spark.pipeline import run_pipeline

    def twitter(topic, start_time, next_token, page_size):
        return [{"id": "t1", "text": "hello", "lang": "en",
                 "created_at": "2024-01-01T00:00:00.000Z"}], None

    data = _write_yaml(tmp_path / "nba.yaml", "version: 1.0\n---\nTopic: NBA\nType: League\n")
    plats = _write_yaml(
        tmp_path / "platforms.yaml",
        "version: 1.0\n---\nPlatforms:\n"
        + "".join(f"  - {p}\n" for p in ["Twitter", *collectors]),
    )
    out = str(tmp_path / "lake")
    wrote = run_pipeline(spark, data, plats, out, fetch_page=twitter,
                         extra_collectors=collectors)
    assert wrote == {p: True for p in ["Twitter", *collectors]}
    return {r.id: r for r in spark.read.option("mergeSchema", True).json(out).collect()}


def test_reddit_collector_unions_with_twitter(spark, tmp_path):
    """Normalized Reddit posts land through run_pipeline beside Twitter
    and read back unioned by name: column names align on id/text/
    created_at/author_id, platform-specific columns null-fill across,
    and created_at is RFC-3339 like the Twitter arm."""
    from fanstats_producer_spark.sources.reddit import (
        RedditListingSource,
        normalize_posts,
    )

    rows = _run_platforms(spark, tmp_path, {
        "Reddit": lambda s: normalize_posts(
            RedditListingSource(s, _fake_reddit(3)).scan(["nba"])),
    })
    assert len(rows) == 4
    assert rows["t1"].platform == "Twitter" and rows["t1"].subreddit is None
    r1 = rows["nba_1"]
    assert r1.platform == "Reddit" and r1.subreddit == "nba"
    assert r1.text == "post 1\n\nbody"  # title+selftext merge
    assert rows["nba_2"].text == "post 2"  # empty selftext -> title only
    assert r1.created_at.startswith("2023-11-14T") and r1.created_at.endswith("Z")
    assert r1.author_id == "u1"


def _fake_facebook(posts_per_page: int):
    """Deterministic Graph-API feed fake: flat `data` arrays with
    nested from/reactions/comments/shares objects and an opaque
    `paging.cursors.after` token, plus one id-less stub per page that
    must be skipped."""

    def fetch(page_id, after, limit):
        start = int(after.split(":")[1]) + 1 if after else 0
        ids = range(start, min(start + limit, posts_per_page))
        data = [
            {
                "id": f"{page_id}_{i}",
                "message": f"update {i}",
                "created_time": "2024-03-05T08:30:00+0000",
                "from": {"id": f"pg{i % 4}", "name": f"Page Author {i % 4}"},
                "reactions": {"summary": {"total_count": i * 2}},
                "comments": {"summary": {"total_count": i % 5}},
                "shares": {"count": i % 3},
            }
            for i in ids
        ]
        data.append({"created_time": "2024-03-05T08:30:00+0000"})  # id-less stub
        last = max(ids, default=None)
        nxt = (
            f"cur:{last}"
            if last is not None and last + 1 < posts_per_page
            else None
        )
        return data, nxt

    return fetch


def test_facebook_feed_pagination_and_flatten(spark):
    """P9 third platform: opaque `after`-cursor pagination, per-request
    limit clamp, nested from/summary flattening, +0000-offset
    timestamps, result cap."""
    from fanstats_producer_spark.sources.facebook import FacebookFeedSource

    src = FacebookFeedSource(spark, _fake_facebook(250), limit=500, max_posts=220)
    assert src.limit == 100  # clamped to the Graph API per-request max
    out = src.scan(["espn"]).collect()
    assert len(out) == 220  # cap enforced mid-feed (3 pages fetched)
    ids = [r.post_id for r in out]
    assert ids[0] == "espn_0" and ids[-1] == "espn_219"  # cursor chain in order
    r7 = next(r for r in out if r.post_id == "espn_7")
    assert r7.author_id == "pg3" and r7.author_name == "Page Author 3"
    assert r7.reactions == 14 and r7.comments == 2 and r7.shares == 1
    assert r7.created_time == "2024-03-05T08:30:00+0000"


def test_facebook_feed_liveness_and_row_tolerance(spark):
    """Same liveness/tolerance contract as the Reddit arm: zero-
    progress and repeated cursors terminate the feed; malformed nested
    counts land as 0 instead of killing the scan."""
    from fanstats_producer_spark.sources.facebook import FacebookFeedSource

    calls = {"n": 0}

    def hostile(page_id, after, limit):
        calls["n"] += 1
        if after is None:
            return (
                [
                    {"id": "ok", "reactions": {"summary": {"total_count": 4}}},
                    {"id": "bad",
                     "reactions": {"summary": {"total_count": "many"}},
                     "shares": {"count": "viral"},
                     "from": "not-a-dict-free-pass"},
                ],
                "cur:x",
            )
        return [{"no_id": True}], "cur:x"

    src = FacebookFeedSource(spark, hostile, max_posts=50)
    out = {r.post_id: r for r in src.scan(["espn"]).collect()}
    assert calls["n"] <= 3  # zero-progress page broke the loop
    assert set(out) == {"ok", "bad"}
    assert out["bad"].reactions == 0 and out["bad"].shares == 0
    assert out["ok"].reactions == 4

    def repeater(page_id, after, limit):
        return [{"id": f"p{len(after or '')}"}], "cur:same"

    out2 = FacebookFeedSource(spark, repeater, max_posts=50).scan(["espn"])
    assert out2.count() <= 2


def test_three_platform_union(spark, tmp_path):
    """Architecture.png's full planned source set: Twitter + Reddit +
    Facebook land through one run_pipeline call and read back unioned
    by name, each platform's extra columns null-filling across the
    others, all created_at values RFC-3339 Z-suffixed UTC."""
    from fanstats_producer_spark.sources import facebook, reddit

    rows = _run_platforms(spark, tmp_path, {
        "Reddit": lambda s: reddit.normalize_posts(
            reddit.RedditListingSource(s, _fake_reddit(2)).scan(["nba"])),
        "Facebook": lambda s: facebook.normalize_posts(
            facebook.FacebookFeedSource(s, _fake_facebook(2)).scan(["espn"])),
    })
    assert len(rows) == 5
    fb = rows["espn_1"]
    assert fb.platform == "Facebook" and fb.page == "espn"
    assert fb.text == "update 1" and fb.author_id == "pg1"
    assert fb.reactions == 2 and fb.subreddit is None
    # +0000 offset parsed as a real instant, re-rendered in UTC
    assert fb.created_at == "2024-03-05T08:30:00.000Z"
    assert rows["t1"].page is None and rows["nba_1"].shares is None
    assert all(r.created_at.endswith(".000Z") for r in rows.values())


def test_normalized_created_at_ignores_session_timezone(spark):
    """Reddit's epoch seconds and Facebook's +0000 strings render the
    same UTC created_at on a Europe/Berlin session as on a UTC one."""
    from fanstats_producer_spark.sources import facebook, reddit

    def render():
        rd = reddit.normalize_posts(
            reddit.RedditListingSource(spark, _fake_reddit(2)).scan(["nba"]))
        fb = facebook.normalize_posts(
            facebook.FacebookFeedSource(spark, _fake_facebook(2)).scan(["espn"]))
        pairs = rd.select("id", "created_at").union(fb.select("id", "created_at"))
        return sorted(tuple(r) for r in pairs.collect())

    key = "spark.sql.session.timeZone"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "UTC")
        utc = render()
        spark.conf.set(key, "Europe/Berlin")
        berlin = render()
    finally:
        spark.conf.set(key, saved)
    assert berlin == utc
    assert dict(utc) == {
        "nba_0": "2023-11-14T22:13:20.000Z",
        "nba_1": "2023-11-14T22:13:21.000Z",
        "espn_0": "2024-03-05T08:30:00.000Z",
        "espn_1": "2024-03-05T08:30:00.000Z",
    }


def test_trace_instrument_wraps_each_scan_once(spark):
    """The benchmark's patch points: inside perfbench's instrument, each
    collector's scan records exactly one sources.scan span per call, and
    every class gets its own scan back on exit."""
    from fanstats_producer_spark.sources import facebook, reddit
    from perfbench.trace import Tracer, instrument

    classes = (PaginatedSource, reddit.RedditListingSource, facebook.FacebookFeedSource)
    originals = [cls.__dict__["scan"] for cls in classes]
    scans = [
        lambda: PaginatedSource(spark, _fake_fetch({"NBA": [[_tweet(1, 10)]]})).scan(["NBA"], "t0"),
        lambda: reddit.RedditListingSource(spark, _fake_reddit(2)).scan(["nba"]),
        lambda: facebook.FacebookFeedSource(spark, _fake_facebook(2)).scan(["espn"]),
    ]
    tracer = Tracer(enabled=True)
    with instrument(tracer):
        for n, scan in enumerate(scans, 1):
            scan()
            assert len(tracer.durations("sources.scan")) == n
    assert [cls.__dict__["scan"] for cls in classes] == originals


# --- Arrow landing (rest.fan_out) ---------------------------------------------
_BASE = {"id": "1", "text": "t", "created_at": "2024-01-15T12:00:00.000Z", "lang": "en"}


def _fan_out_tweets(spark, rows):
    from fanstats_producer_spark.sources.rest import fan_out

    return fan_out(spark, ["NBA"], lambda topic: rows, TWEET_SCHEMA)


def _twitter_landing(spark):
    df = PaginatedSource(
        spark, _fake_fetch({"NBA": [[_tweet(i, 10) for i in range(5)]]})
    ).scan(["NBA"], "t0")
    assert df.count() == 5
    return df


def _reddit_landing(spark):
    from fanstats_producer_spark.sources.reddit import RedditListingSource

    df = RedditListingSource(spark, _fake_reddit(5)).scan(["nba"])
    assert df.count() == 5
    return df


def _facebook_landing(spark):
    from fanstats_producer_spark.sources.facebook import FacebookFeedSource

    df = FacebookFeedSource(spark, _fake_facebook(5)).scan(["espn"])
    assert df.count() == 5
    return df


def _union_find_landing(spark):
    from fanstats_producer_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9), (3, 4, 0.9), (10, 11, 0.8)],
        "id_a long, id_b long, jaccard double",
    )
    df = connected_components(pairs)
    got = {r.doc_id: r.cluster_id for r in df.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    return df


def _pagerank_landing(spark):
    from fanstats_producer_spark.operators.graph import pagerank_ranks

    e0 = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (3, 11), (4, 11), (5, 12)],
        "src long, dst long",
    )
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    df = pagerank_ranks(edges, driver_threshold=1_000)
    driver = sorted(tuple(r) for r in df.collect())
    broad = sorted(
        tuple(r) for r in pagerank_ranks(edges, driver_threshold=None).collect()
    )
    assert driver == broad and len(driver) == 8
    return df


def _mmr_landing(spark):
    from conftest import SF_DIR

    from fanstats_producer_spark.io import load, spread
    from fanstats_producer_spark.operators.similarity import mmr_rerank

    emb = spread(load(spark, SF_DIR, "embeddings"))
    df = mmr_rerank(emb)
    fast = sorted(tuple(r) for r in df.collect())
    dist = sorted(tuple(r) for r in mmr_rerank(emb, driver_threshold=0).collect())
    assert fast == dist and len(fast) > 0
    return df


# every frame the driver builds from Python rows: the three collectors'
# scans and the driver arms of connected_components, PageRank and MMR;
# each case checks its values, then returns it
_DRIVER_LANDINGS = {
    "Twitter": _twitter_landing,
    "Reddit": _reddit_landing,
    "Facebook": _facebook_landing,
    "union_find": _union_find_landing,
    "pagerank": _pagerank_landing,
    "mmr": _mmr_landing,
}


@pytest.mark.parametrize("case", list(_DRIVER_LANDINGS))
def test_scans_land_without_python_rdd(spark, case):
    """Every driver-built frame is a JVM collection of Arrow batches: no
    PythonRDD in its lineage, so the jobs over it (a collector's
    empty-result guard and write, a cluster or rank join) start no
    Python worker."""
    df = _DRIVER_LANDINGS[case](spark)
    lineage = df._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, (case, lineage)


def test_reddit_numeric_id_lands_as_string(spark):
    from fanstats_producer_spark.sources.reddit import RedditListingSource

    def fetch(subreddit, after, limit):
        return [{"kind": "t3", "data": {"id": 5, "title": "t"}}], None

    out = RedditListingSource(spark, fetch).scan(["nba"]).collect()
    assert [r.post_id for r in out] == ["5"]


def test_fan_out_row_tolerance(spark):
    """Extra keys are ignored and missing keys land as null, top-level
    and nested; a bad value in an int field raises the same error class
    as createDataFrame over the list of rows, before any Spark job."""
    from pyspark.errors import PySparkException

    rows = [
        dict(_BASE, extra=1, public_metrics={"like_count": 3, "views": 9},
             entities={"hashtags": [{"start": 0, "end": 4, "tag": "nba", "x": 1}]}),
        {"id": "2"},
    ]
    assert _fan_out_tweets(spark, rows).toJSON().collect() == [
        '{"id":"1","text":"t","created_at":"2024-01-15T12:00:00.000Z","lang":"en",'
        '"public_metrics":{"like_count":3},'
        '"entities":{"hashtags":[{"start":0,"end":4,"tag":"nba"}]}}',
        '{"id":"2"}',
    ]

    sc = spark.sparkContext
    group = "fan-out-row-tolerance"
    sc.setJobGroup(group, "bad rows")
    try:
        for bad, condition in [
            ("5", "FIELD_DATA_TYPE_UNACCEPTABLE_WITH_NAME"),
            (True, "FIELD_DATA_TYPE_UNACCEPTABLE_WITH_NAME"),
            (2**31, "VALUE_OUT_OF_BOUNDS"),
            (5.0, "FIELD_DATA_TYPE_UNACCEPTABLE_WITH_NAME"),
        ]:
            with pytest.raises(PySparkException) as err:
                _fan_out_tweets(spark, [dict(_BASE, public_metrics={"like_count": bad})])
            assert err.value.getCondition() == condition, bad
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        _fan_out_tweets(spark, [_BASE]).count()  # the group does see jobs
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.mark.parametrize("field, value", [("id", 5), ("text", 1.5), ("lang", True)])
def test_fan_out_rejects_non_string_scalar_in_string_field(spark, field, value):
    """The one change from landing a list of rows: the JVM turned a
    non-string scalar in a string field into its toString ("5", "1.5",
    "true"); the Arrow build raises instead of landing those bytes."""
    import pyarrow as pa

    with pytest.raises(pa.ArrowTypeError):
        _fan_out_tweets(spark, [dict(_BASE, **{field: value})])


def test_twitter_page_lands_exact_ndjson(spark, tmp_path):
    """A page with nested public_metrics, a hashtag without a tag and
    null entities lands these exact lines under the partition dirs;
    a scan that collects no row writes nothing."""
    metrics = {"retweet_count": 1, "reply_count": 2, "like_count": 3, "quote_count": 4}
    page = [
        dict(_BASE, public_metrics=metrics, entities={"hashtags": [
            {"start": 0, "end": 4, "tag": None}, {"start": 5, "end": 9, "tag": "NBA"}]}),
        dict(_BASE, id="2", created_at="2024-01-16T01:02:03.000Z",
             public_metrics=metrics, entities=None),
    ]
    out = str(tmp_path / "lake")
    df = PaginatedSource(spark, _fake_fetch({"NBA": [page]})).scan(["NBA"], "t0")
    assert write_partitioned(with_partition_columns(df, platform="Twitter", topic="NBA"), out)
    landed: dict[str, list[str]] = {}
    for root, _, files in os.walk(out):
        for name in files:
            if name.endswith(".json"):
                with open(os.path.join(root, name)) as f:
                    landed.setdefault(os.path.relpath(root, out), []).extend(f.read().splitlines())
    day = "platform=Twitter/topic=NBA/year=2024/month=01/day="
    pm = '"public_metrics":{"retweet_count":1,"reply_count":2,"like_count":3,"quote_count":4}'
    assert landed == {
        day + "15": [
            '{"id":"1","text":"t","created_at":"2024-01-15T12:00:00.000Z","lang":"en",'
            + pm + ',"entities":{"hashtags":[{"start":0,"end":4},'
            '{"start":5,"end":9,"tag":"NBA"}]}}'
        ],
        day + "16": [
            '{"id":"2","text":"t","created_at":"2024-01-16T01:02:03.000Z","lang":"en",'
            + pm + "}"
        ],
    }

    never = str(tmp_path / "never")
    empty = PaginatedSource(spark, _fake_fetch({"NBA": [[]]})).scan(["NBA"], "t0")
    assert not write_partitioned(
        with_partition_columns(empty, platform="Twitter", topic="NBA"), never
    )
    assert not os.path.exists(never)


def test_corrupt_records_tolerated(spark, tmp_path):
    """PERMISSIVE ingest: malformed NDJSON lines land in _corrupt_record
    instead of failing the job (the reference appends API responses
    blindly, main.py:151-153 — garbage would poison its whole file)."""
    from pyspark.sql.types import StringType, StructField, StructType

    p = tmp_path / "mixed.json"
    p.write_text(
        '{"id": "1", "text": "good", "lang": "en"}\n'
        "this is not json at all\n"
        '{"id": "2", "text": "also good", "lang": "en"}\n'
    )
    schema = StructType(
        [
            StructField("id", StringType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    df = spark.read.schema(schema).json(str(p)).cache()
    assert df.count() == 3
    assert df.filter(F.col("_corrupt_record").isNotNull()).count() == 1
    assert df.filter(F.col("id").isNotNull()).count() == 2
    df.unpersist()

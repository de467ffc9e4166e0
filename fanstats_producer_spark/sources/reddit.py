"""Reddit listing collector (SURVEY.md §2A P9's planned second
platform — the reference's Architecture.png shows Facebook and Reddit
as future sources next to the shipped Twitter crawler; main.py:216-219
errors on them today).

Reddit's public listing API paginates differently from Twitter's
search API, and this module models that shape faithfully:

- cursoring is by `after` fullname (e.g. ``t3_abc123``), not a
  ``meta.next_token`` — the cursor is the last item of the page, and
  an empty/absent ``after`` ends the listing;
- items arrive wrapped in a ``{"kind": "t3", "data": {...}}`` envelope
  that must be unwrapped before landing;
- timestamps are ``created_utc`` epoch SECONDS (float), not RFC-3339
  strings;
- the per-request ``limit`` clamps at 100, like main.py:95-96's
  RESULTS_PER_PAGE clamp.

The HTTP seam is injectable exactly like sources/rest.py (no network
in this repo; tests inject a deterministic fake), and the cursor chain
and fan-out are rest.py's ``paginate``/``fan_out``.  ``normalize_posts``
adapts the landed posts to the TWEET_SCHEMA column names; registered
with ``run_pipeline(extra_collectors={"Reddit": ...})``, Reddit rows
land in the same lake as Twitter's and read back unioned by name — one
pipeline, N platforms.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from fanstats_producer_spark.sources.ndjson import utc_rfc3339
from fanstats_producer_spark.sources.rest import fan_out, paginate

# fetch_listing(subreddit, after, limit) ->
#   (children: list[dict] with the kind/data envelope, after: str | None)
FetchListing = Callable[[str, str | None, int], tuple[list[dict], str | None]]

LISTING_LIMIT = 100          # Reddit's per-request max
MAX_POSTS = 3000             # parity with rest.py's MAX_RESULTS cap

REDDIT_POST_SCHEMA = StructType(
    [
        StructField("post_id", StringType()),
        StructField("subreddit", StringType()),
        StructField("title", StringType()),
        StructField("selftext", StringType()),
        StructField("author", StringType()),
        StructField("created_utc", DoubleType()),
        StructField("score", LongType()),
        StructField("num_comments", LongType()),
    ]
)


def _parse(subreddit: str, child: dict) -> dict | None:
    """One listing child → a REDDIT_POST_SCHEMA row, or None to skip it."""
    if child.get("kind") != "t3":  # only link/self posts
        return None
    d = child.get("data") or {}
    if not d.get("id"):
        # removed/deleted posts can arrive field-stripped; a row without
        # an id is unusable — skip it rather than kill the whole scan
        # (the rest.py tolerance contract: land what's landable)
        return None
    # per-row tolerance: a malformed numeric field nulls / zeroes that
    # field instead of killing the whole scan
    cu = d.get("created_utc")
    try:
        cu = float(cu) if cu is not None else None
    except (TypeError, ValueError):
        cu = None
    try:
        score = int(d.get("score") or 0)
    except (TypeError, ValueError):
        score = 0
    try:
        num_comments = int(d.get("num_comments") or 0)
    except (TypeError, ValueError):
        num_comments = 0
    return {
        "post_id": str(d["id"]),
        "subreddit": d.get("subreddit", subreddit),
        "title": d.get("title", ""),
        "selftext": d.get("selftext", ""),
        "author": d.get("author"),
        "created_utc": cu,
        "score": score,
        "num_comments": num_comments,
    }


class RedditListingSource:
    def __init__(
        self,
        spark: SparkSession,
        fetch_listing: FetchListing,
        limit: int = LISTING_LIMIT,
        max_posts: int = MAX_POSTS,
    ) -> None:
        self.spark = spark
        self.fetch_listing = fetch_listing
        self.limit = min(limit, LISTING_LIMIT)
        self.max_posts = max_posts

    def scan(self, subreddits: list[str]) -> DataFrame:
        """One `after`-cursor chain per subreddit, fanned out in
        parallel, landing as one schema-pinned DataFrame."""
        return fan_out(
            self.spark,
            subreddits,
            lambda sub: paginate(
                lambda after: self.fetch_listing(sub, after, self.limit),
                functools.partial(_parse, sub),
                self.max_posts,
            ),
            REDDIT_POST_SCHEMA,
        )


def normalize_posts(posts: DataFrame) -> DataFrame:
    """Adapt landed Reddit posts to the Twitter collector's column
    names so the P9 union aligns: id, text (title + selftext),
    created_at (RFC-3339 from epoch seconds), author_id.  Platform-
    specific columns (subreddit, score, num_comments) ride along —
    a mergeSchema read of the lake null-fills them on the Twitter
    side, exactly the drift the lake tolerates."""
    return posts.select(
        F.col("post_id").alias("id"),
        F.when(
            F.length("selftext") > 0,
            F.concat_ws("\n\n", "title", "selftext"),
        )
        .otherwise(F.col("title"))
        .alias("text"),
        utc_rfc3339(F.timestamp_seconds("created_utc")).alias("created_at"),
        F.col("author").alias("author_id"),
        "subreddit",
        "score",
        "num_comments",
    )


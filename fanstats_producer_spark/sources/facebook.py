"""Facebook Graph-API page-feed collector (SURVEY.md §2A P9's planned
third platform — the reference's Architecture.png shows Facebook and
Reddit as future sources next to the shipped Twitter crawler;
main.py:216-219 errors on them today; Reddit landed in round 6, this
is the Facebook arm).

The Graph API `/{page-id}/feed` edge paginates differently from both
Twitter and Reddit, and this module models that shape faithfully:

- cursoring is by an opaque `paging.cursors.after` token; a response
  without a usable `after` (or without `paging.next`) ends the feed;
- items arrive as a flat `data` array of post objects — no kind/data
  envelope, but the author is a NESTED ``from: {"id", "name"}`` object
  that must be flattened before landing;
- timestamps are ``created_time`` RFC-3339 strings with a NUMERIC
  offset (``2024-01-01T12:00:00+0000``), not Twitter's ``Z`` suffix
  and not Reddit's epoch floats;
- engagement counts arrive as nested summaries
  (``reactions.summary.total_count`` etc.) when the fetch requested
  them — absent summaries land as 0;
- the per-request ``limit`` clamps at 100 like the other platforms.

The HTTP seam is injectable exactly like sources/rest.py and
sources/reddit.py (no network in this repo; tests inject a
deterministic fake), and the cursor chain and fan-out are rest.py's
``paginate``/``fan_out``.  ``normalize_posts`` adapts landed posts to
the TWEET_SCHEMA column names; registered with
``run_pipeline(extra_collectors={"Facebook": ...})``, Facebook rows
land beside Twitter's and Reddit's and read back unioned by name — one
pipeline, N platforms.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from fanstats_producer_spark.sources.ndjson import utc_rfc3339
from fanstats_producer_spark.sources.rest import fan_out, paginate

# fetch_feed(page_id, after, limit) ->
#   (data: list[dict] post objects, after: str | None)
FetchFeed = Callable[[str, str | None, int], tuple[list[dict], str | None]]

GRAPH_LIMIT = 100            # Graph API per-request max for /feed
MAX_POSTS = 3000             # parity with rest.py's MAX_RESULTS cap

FACEBOOK_POST_SCHEMA = StructType(
    [
        StructField("post_id", StringType()),
        StructField("page", StringType()),
        StructField("message", StringType()),
        StructField("author_id", StringType()),
        StructField("author_name", StringType()),
        StructField("created_time", StringType()),
        StructField("reactions", LongType()),
        StructField("comments", LongType()),
        StructField("shares", LongType()),
    ]
)


def _summary_count(post: dict, edge: str) -> int:
    """``{edge}.summary.total_count`` with per-row tolerance: absent or
    malformed summaries land as 0 rather than killing the scan."""
    try:
        return int(((post.get(edge) or {}).get("summary") or {}).get(
            "total_count"
        ) or 0)
    except (TypeError, ValueError):
        return 0


def _parse(page_id: str, post: dict) -> dict | None:
    """One feed post → a FACEBOOK_POST_SCHEMA row, or None to skip it."""
    if not isinstance(post, dict) or not post.get("id"):
        # deleted/permission-stripped posts arrive as bare stubs; a row
        # without an id is unusable — skip it rather than kill the scan
        # (the rest.py tolerance contract: land what's landable)
        return None
    frm = post.get("from")
    if not isinstance(frm, dict):  # stripped/odd author
        frm = {}
    try:
        shares = int((post.get("shares") or {}).get("count") or 0)
    except (TypeError, ValueError):
        shares = 0
    return {
        "post_id": str(post["id"]),
        "page": page_id,
        "message": post.get("message", ""),
        "author_id": frm.get("id"),
        "author_name": frm.get("name"),
        "created_time": post.get("created_time"),
        "reactions": _summary_count(post, "reactions"),
        "comments": _summary_count(post, "comments"),
        "shares": shares,
    }


class FacebookFeedSource:
    def __init__(
        self,
        spark: SparkSession,
        fetch_feed: FetchFeed,
        limit: int = GRAPH_LIMIT,
        max_posts: int = MAX_POSTS,
    ) -> None:
        self.spark = spark
        self.fetch_feed = fetch_feed
        self.limit = min(limit, GRAPH_LIMIT)
        self.max_posts = max_posts

    def scan(self, page_ids: list[str]) -> DataFrame:
        """One `after`-cursor chain per page, fanned out in parallel,
        landing as one schema-pinned DataFrame."""
        return fan_out(
            self.spark,
            page_ids,
            lambda page_id: paginate(
                lambda after: self.fetch_feed(page_id, after, self.limit),
                functools.partial(_parse, page_id),
                self.max_posts,
            ),
            FACEBOOK_POST_SCHEMA,
        )


def normalize_posts(posts: DataFrame) -> DataFrame:
    """Adapt landed Graph-API posts to the Twitter collector's column
    names so the P9 union aligns: id, text (message), created_at
    (RFC-3339 ``Z`` milliseconds from the ``+0000``-offset string),
    author_id.  Platform-specific columns (page, reactions, comments,
    shares) ride along — a mergeSchema read of the lake null-fills them
    on the other platforms' sides.

    ``to_timestamp`` with an explicit ``Z`` offset pattern anchors the
    instant; ``ndjson.utc_rfc3339`` renders it in UTC."""
    return posts.select(
        F.col("post_id").alias("id"),
        F.col("message").alias("text"),
        utc_rfc3339(
            F.to_timestamp(F.col("created_time"), "yyyy-MM-dd'T'HH:mm:ssZ")
        ).alias("created_at"),
        "author_id",
        "page",
        "reactions",
        "comments",
        "shares",
    )


"""Paginated REST source (SURVEY.md §2A P1/P2/P4/P11).

The reference's `write_tweets` loop (reference main.py:122-160) pulls
≤RESULTS_PER_PAGE rows per request, follows `meta.next_token`, and stops
at MAX_RESULTS (main.py:136, 156-160).  This module reproduces those
semantics as a Spark source, and owns the two steps every collector
shares:

- `paginate` walks one cursor chain: the reference's loop plus the
  liveness guards it lacks (a page with no usable row, or a repeated
  cursor, ends the chain instead of spinning until the cap).
- `fan_out` runs one chain per key (topic, subreddit, page) in
  parallel — the axis the reference leaves on the table (it loops
  topics sequentially in one process, main.py:214) — and lands every
  chain's rows as one schema-pinned DataFrame through `io.local_frame`,
  so the jobs over it (the empty-result guard and the write, per
  platform) start no Python worker.
- `PaginatedSource` takes an injectable `fetch_page` callable (the
  seam where the real authenticated HTTP GET, main.py:114-120, plugs
  in; tests inject a deterministic fake — no network in this repo).
  Rows land as-is with the pinned TWEET_SCHEMA; the cap is enforced
  exactly like main.py:136 (stop fetching, then truncate).

Scale note: a production deployment would wrap this as a DataSourceV2
reader with SupportsPushDownFilters/RequiredColumns so the query-string
predicates (P2) stay source-side; for this repo the seam is the
callable and predicates apply as post-filters (same semantics — the
fixtures are already landed data).
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from fanstats_producer_spark.io import local_frame
from fanstats_producer_spark.sources.ndjson import TWEET_SCHEMA

# fetch_page(topic, start_time, next_token, page_size) ->
#   (rows: list[dict], next_token: str | None)
FetchPage = Callable[[str, str, str | None, int], tuple[list[dict], str | None]]

RESULTS_PER_PAGE = 100  # main.py:6-12
MAX_RESULTS = 3000  # main.py:13-19


def paginate(
    fetch: Callable[[str | None], tuple[list, str | None]],
    parse: Callable[[object], object | None],
    cap: int,
) -> list:
    """Follow one cursor chain: ``fetch(cursor) -> (items, next_cursor)``
    from cursor None, ``parse(item)`` each item to a row (None skips it),
    and return at most ``cap`` rows in chain order.

    The chain ends when the cursor is falsy (main.py:156-160), the cap is
    reached (main.py:136), a page adds no usable row, or a cursor repeats
    — so a server that hands back a live cursor over empty or filtered
    pages, or never advances it, cannot spin the collector."""
    rows: list = []
    cursor: str | None = None
    seen: set[str] = set()
    while len(rows) < cap:
        before = len(rows)
        items, cursor = fetch(cursor)
        rows.extend(row for row in map(parse, items) if row is not None)
        if not cursor or len(rows) == before or cursor in seen:
            break
        seen.add(cursor)
    return rows[:cap]


def fan_out(
    spark: SparkSession,
    keys: list[str],
    collect: Callable[[str], list],
    schema: StructType,
) -> DataFrame:
    """``collect`` every key in parallel (each key's cursor chain stays
    serial) and land all rows, in key order, as one DataFrame through
    `io.local_frame` (row verifier, then one Arrow table).  A string
    field takes only ``str``, so a parse must ``str()`` ids it may
    receive as numbers."""
    with ThreadPoolExecutor(max_workers=max(len(keys), 1)) as pool:
        per_key = list(pool.map(collect, keys))
    rows = [r for chain in per_key for r in chain]
    return local_frame(spark, rows, schema)


class PaginatedSource:
    def __init__(
        self,
        spark: SparkSession,
        fetch_page: FetchPage,
        page_size: int = RESULTS_PER_PAGE,
        max_results: int = MAX_RESULTS,
    ) -> None:
        self.spark = spark
        self.fetch_page = fetch_page
        # per-request clamp (main.py:95-96)
        self.page_size = min(page_size, RESULTS_PER_PAGE)
        self.max_results = max_results

    def scan(self, topics: list[str], start_time: str) -> DataFrame:
        """One cursor chain per topic, fanned out in parallel; tweets
        land unchanged with the pinned TWEET_SCHEMA."""
        return fan_out(
            self.spark,
            topics,
            lambda topic: paginate(
                lambda cursor: self.fetch_page(topic, start_time, cursor, self.page_size),
                lambda tweet: tweet,
                self.max_results,
            ),
            TWEET_SCHEMA,
        )

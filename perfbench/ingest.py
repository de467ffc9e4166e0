"""Seeded load generator for the ingest workload: fake Twitter, Reddit
and Facebook APIs that page up to the collectors' caps.

Every Twitter page holds the same mix of rows (retweets, non-English
posts, ``#NBATopShot`` posts and plain English posts) in a seeded order
with seeded text and timestamps, so the seed changes the content while
the number of posts that pass ``default_source_filters`` stays fixed.
Each fetcher counts the posts it handed out that should land; the
benchmark compares that count with what the pipeline wrote.
"""

from __future__ import annotations

import datetime
import os
import random
import threading
import time

from fanstats_producer_spark.sources import facebook, reddit
from fanstats_producer_spark.sources.rest import MAX_RESULTS, RESULTS_PER_PAGE

VOCAB = (
    "dunk rebound assist buzzer trade playoff rookie coach overtime layup "
    "defense court ticket fans score arena season draft injury win"
).split()
# Per page of RESULTS_PER_PAGE rows: these many are filtered out.
RETWEETS, FOREIGN, TOPSHOT = 15, 10, 5


def twitter_kept(row: dict) -> bool:
    """Python statement of ``default_source_filters`` (topic=None)."""
    tags = ((row.get("entities") or {}).get("hashtags")) or []
    return (
        not row["text"].startswith("RT @")
        and row["lang"] == "en"
        and not any((t.get("tag") or "").lower() == "nbatopshot" for t in tags)
    )


class Feeds:
    """The three fake APIs for one scheduled run (``run`` = hour index)."""

    def __init__(self, seed: int, run: int, now: datetime.datetime) -> None:
        self.seed, self.run, self.now = seed, run, now
        self.expected = 0
        self.fetch_intervals: list[tuple[float, float]] = []
        self._lock = threading.Lock()

    def _rng(self, *parts) -> random.Random:
        return random.Random("|".join(map(str, (self.seed, self.run, *parts))))

    def _record(self, t0: float, kept: int) -> None:
        with self._lock:
            self.expected += kept
            self.fetch_intervals.append((t0, time.time()))

    def _created(self, rng: random.Random) -> datetime.datetime:
        return self.now - datetime.timedelta(seconds=rng.randrange(86_400))

    def twitter(self, topic: str, start_time: str, next_token: str | None, page_size: int):
        t0 = time.time()
        page = int(next_token or 0)
        rng = self._rng("tw", topic, page)
        kinds = (
            ["rt"] * RETWEETS
            + ["foreign"] * FOREIGN
            + ["topshot"] * TOPSHOT
            + ["plain"] * (page_size - RETWEETS - FOREIGN - TOPSHOT)
        )
        rng.shuffle(kinds)
        rows = []
        for i, kind in enumerate(kinds):
            words = " ".join(rng.choice(VOCAB) for _ in range(rng.randrange(6, 24)))
            text = f"{topic} {words}"
            tags = [{"start": 0, "end": 4, "tag": rng.choice(VOCAB)}]
            if kind == "rt":
                text = f"RT @fan{rng.randrange(999)}: {text}"
            elif kind == "topshot":
                tags.append({"start": 5, "end": 15, "tag": "NBATopShot"})
            rows.append(
                {
                    "id": f"{self.run}-{topic}-{page}-{i}",
                    "text": text,
                    "created_at": self._created(rng).strftime("%Y-%m-%dT%H:%M:%S.000Z"),
                    "lang": rng.choice(("de", "es", "fr")) if kind == "foreign" else "en",
                    "public_metrics": {
                        "retweet_count": rng.randrange(500),
                        "reply_count": rng.randrange(50),
                        "like_count": rng.randrange(5000),
                        "quote_count": rng.randrange(20),
                    },
                    "entities": {"hashtags": tags, "mentions": None, "urls": None,
                                 "annotations": None},
                    "context_annotations": None,
                }
            )
        last = (page + 1) * page_size >= MAX_RESULTS
        self._record(t0, sum(map(twitter_kept, rows)))
        return rows, None if last else str(page + 1)

    def reddit(self, subreddit: str, after: str | None, limit: int):
        t0 = time.time()
        page = int(after or 0)
        rng = self._rng("rd", subreddit, page)
        children = [
            {
                "kind": "t3",
                "data": {
                    "id": f"{self.run}-{page}-{i}",
                    "subreddit": subreddit,
                    "title": " ".join(rng.choice(VOCAB) for _ in range(8)),
                    "selftext": " ".join(rng.choice(VOCAB) for _ in range(rng.randrange(40))),
                    "author": f"user{rng.randrange(1000)}",
                    "created_utc": self._created(rng).timestamp(),
                    "score": rng.randrange(10_000),
                    "num_comments": rng.randrange(300),
                },
            }
            for i in range(limit)
        ]
        last = (page + 1) * limit >= reddit.MAX_POSTS
        self._record(t0, len(children))
        return children, None if last else str(page + 1)

    def facebook(self, page_id: str, after: str | None, limit: int):
        t0 = time.time()
        page = int(after or 0)
        rng = self._rng("fb", page_id, page)
        data = [
            {
                "id": f"{self.run}-{page}-{i}",
                "message": " ".join(rng.choice(VOCAB) for _ in range(rng.randrange(5, 30))),
                "from": {"id": str(rng.randrange(10**6)), "name": "fan page"},
                "created_time": self._created(rng).strftime("%Y-%m-%dT%H:%M:%S+0000"),
                "reactions": {"summary": {"total_count": rng.randrange(900)}},
                "comments": {"summary": {"total_count": rng.randrange(90)}},
                "shares": {"count": rng.randrange(40)},
            }
            for i in range(limit)
        ]
        last = (page + 1) * limit >= facebook.MAX_POSTS
        self._record(t0, len(data))
        return data, None if last else str(page + 1)


DATA_FILE = "version: 1.0\n---\nTopic: NBA\nType: League\nAliases:\n{aliases}"
PLATFORMS_FILE = (
    "version: 1.0\n---\nPlatforms:\n  - Twitter\n  - Reddit\n  - Facebook\n"
)


def write_configs(directory: str, topics: int) -> tuple[str, str]:
    """The datafile (topic plus ``topics - 1`` aliases) and platformfile."""
    aliases = "".join(f"  - Hoops{i}\n" for i in range(1, max(topics, 1)))
    data, plats = os.path.join(directory, "nba.yaml"), os.path.join(directory, "platforms.yaml")
    with open(data, "w") as fh:
        fh.write(DATA_FILE.format(aliases=aliases or "  []\n"))
    with open(plats, "w") as fh:
        fh.write(PLATFORMS_FILE)
    return data, plats


def collectors(feeds: Feeds) -> dict:
    """``extra_collectors`` for run_pipeline: Reddit and Facebook through
    their own sources, each over one listing."""
    return {
        "Reddit": lambda s: reddit.normalize_posts(
            reddit.RedditListingSource(s, feeds.reddit, limit=RESULTS_PER_PAGE).scan(["nba"])
        ),
        "Facebook": lambda s: facebook.normalize_posts(
            facebook.FacebookFeedSource(s, feeds.facebook, limit=RESULTS_PER_PAGE).scan(["nba"])
        ),
    }


def base_time(seed: int) -> datetime.datetime:
    """First scheduled run: a seeded hour in January 2024 (UTC)."""
    start = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    return start + datetime.timedelta(hours=random.Random(seed).randrange(24 * 28))


"""The producer pipeline end-to-end (SURVEY.md §3.1): the reference's
`main()` (reference main.py:243-274) re-expressed as one Spark job.

Flow parity, step for step:
  load env/config (main.py:248-259) → lookback start_date (main.py:263)
  → per-platform dispatch (main.py:203-219) → paginated scan with
  source predicates + cap (main.py:122-160, 84-112) → partitioned,
  guarded sink (main.py:64-81, 183-194).

A user of the reference runs `python main.py -d nba.yaml -p
platforms.yaml`; here the same run is
`python -m fanstats_producer_spark.pipeline --data-file nba.yaml
--platforms-file platforms.yaml --output /lake` (offline, over the
deterministic demo fetcher).
The scheduled trigger (EventBridge cron, main.tf:214-218) maps to
invoking this module from any scheduler — or switching the same
transforms to readStream (streaming/jobs.py) for a continuous run.
"""

from __future__ import annotations

import argparse
import datetime

from pyspark.sql import DataFrame, SparkSession

from fanstats_producer_spark.session import get_spark
from fanstats_producer_spark.sources.config import (
    DataFileConfig,
    load_data_file,
    load_platforms,
)
from fanstats_producer_spark.sources.ndjson import (
    default_source_filters,
    with_partition_columns,
    write_partitioned,
)
from fanstats_producer_spark.sources.rest import FetchPage, PaginatedSource


def collect_twitter(
    spark: SparkSession,
    cfg: DataFileConfig,
    fetch_page: FetchPage,
    start_time: str,
) -> DataFrame:
    """The Twitter collector (main.py:162-200): paginated scan over the
    topic + aliases, source predicates applied declaratively."""
    topics = list(dict.fromkeys([cfg.topic, *cfg.aliases]))
    df = PaginatedSource(spark, fetch_page).scan(topics, start_time)
    return default_source_filters(df, topic=None)


def run_pipeline(
    spark: SparkSession,
    data_file: str,
    platforms_file: str,
    output: str,
    fetch_page: FetchPage,
    now: datetime.datetime | None = None,
    extra_collectors: dict | None = None,
) -> dict[str, bool]:
    """One scheduled run.  Returns {platform: wrote_anything} — the
    empty-result guard outcome per platform (main.py:183-194).

    This is the per-platform dispatch (main.py:203-219).
    ``extra_collectors`` registers additional platforms (the Facebook/
    Reddit sources the reference's architecture diagram plans but never
    implements): {platform_name: (spark) -> DataFrame}.  Each platform's
    frame must carry a ``created_at`` column for the partition layout;
    other columns may differ — the lake tolerates per-source schema
    drift (JSON landing + mergeSchema read unions platforms by name)."""
    cfg = load_data_file(data_file)
    platforms = load_platforms(platforms_file)
    now = now or datetime.datetime.now(datetime.timezone.utc)
    start_time = (now - datetime.timedelta(days=1)).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )  # main.py:262-263 + isotime main.py:138

    collectors = dict(extra_collectors or {})
    collectors.setdefault(
        "Twitter",
        lambda s: collect_twitter(s, cfg, fetch_page, start_time),
    )

    results: dict[str, bool] = {}
    for platform in platforms.platforms:
        collector = collectors.get(platform)
        if collector is None:  # main.py:219, as a real error
            raise ValueError(f"platform not supported: {platform!r}")
        df = collector(spark)
        partitioned = with_partition_columns(
            df, platform=platform, topic=cfg.partition_key
        )
        results[platform] = write_partitioned(partitioned, output)
    return results


def demo_fetcher() -> FetchPage:
    """Deterministic offline stand-in for the Twitter API (the repo has
    no network); the real deployment injects an authenticated HTTP
    fetcher with the query string of main.py:84-112."""

    def fetch(topic, start_time, next_token, page_size):
        page = 0 if next_token is None else int(next_token)
        base = page * page_size
        rows = [
            {
                "id": str(base + i),
                "text": f"{topic} game update {base + i}",
                "created_at": "2024-01-15T12:00:00.000Z",
                "lang": "en",
                "public_metrics": {
                    "retweet_count": i,
                    "reply_count": 0,
                    "like_count": 2 * i,
                    "quote_count": 0,
                },
                "entities": None,
                "context_annotations": None,
            }
            for i in range(min(page_size, 25))
        ]
        return rows, (str(page + 1) if page < 2 else None)

    return fetch


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("-d", "--data-file", required=True)
    ap.add_argument("-p", "--platforms-file", required=True)
    ap.add_argument("-o", "--output", required=True)
    args = ap.parse_args()
    spark = get_spark("fanstats-producer-pipeline")
    wrote = run_pipeline(
        spark,
        args.data_file,
        args.platforms_file,
        args.output,
        fetch_page=demo_fetcher(),
    )
    for platform, ok in wrote.items():
        print(f"{platform}: {'written' if ok else 'no data found'}")


if __name__ == "__main__":
    main()

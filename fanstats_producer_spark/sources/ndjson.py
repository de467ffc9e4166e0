"""Tweet NDJSON source/sink (SURVEY.md §2A P2/P3/P5/P6/P7/P12).

The reference lands Twitter API v2 tweet objects as newline-delimited
JSON (one object per line, appended — reference main.py:151-153), under
S3 keys `<platform>/<topic>/YYYY/MM/DD/HH-MM-SS.json` (main.py:70-73,
184-191).  This module re-expresses that pipeline Spark-first:

- pinned StructType for the requested `tweet.fields` (main.py:90) —
  schema declared once, not re-inferred per batch (the Glue-crawler
  inference, main.tf:304-314, remains available via infer_schema=True);
- the default source predicates `-is:retweet lang:en -%23nbatopshot`
  (main.py:89) as DataFrame filters that Catalyst pushes into the scan;
- the date/topic partition layout as *named* Hive partition columns
  (platform/topic/year/month/day) — strictly better than the
  reference's positional dirs, which Glue surfaces as partition_0..3;
- the empty-result guard (main.py:183-194) as an isEmpty check.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# Pinned schema for tweet.fields=created_at,context_annotations,entities,
# public_metrics (reference main.py:90; FIXTURES.md §B).
_span = lambda *extra: [  # noqa: E731
    StructField("start", IntegerType()),
    StructField("end", IntegerType()),
    *extra,
]

TWEET_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("text", StringType()),
        StructField("created_at", StringType()),
        StructField("lang", StringType()),
        StructField(
            "public_metrics",
            StructType(
                [
                    StructField("retweet_count", IntegerType()),
                    StructField("reply_count", IntegerType()),
                    StructField("like_count", IntegerType()),
                    StructField("quote_count", IntegerType()),
                ]
            ),
        ),
        StructField(
            "entities",
            StructType(
                [
                    StructField(
                        "hashtags",
                        ArrayType(StructType(_span(StructField("tag", StringType())))),
                    ),
                    StructField(
                        "mentions",
                        ArrayType(StructType(_span(StructField("username", StringType())))),
                    ),
                    StructField(
                        "urls",
                        ArrayType(
                            StructType(
                                _span(
                                    StructField("url", StringType()),
                                    StructField("expanded_url", StringType()),
                                    StructField("display_url", StringType()),
                                )
                            )
                        ),
                    ),
                    StructField(
                        "annotations",
                        ArrayType(
                            StructType(
                                _span(
                                    StructField("probability", DoubleType()),
                                    StructField("type", StringType()),
                                    StructField("normalized_text", StringType()),
                                )
                            )
                        ),
                    ),
                ]
            ),
        ),
        StructField(
            "context_annotations",
            ArrayType(
                StructType(
                    [
                        StructField(
                            "domain",
                            StructType(
                                [
                                    StructField("id", StringType()),
                                    StructField("name", StringType()),
                                    StructField("description", StringType()),
                                ]
                            ),
                        ),
                        StructField(
                            "entity",
                            StructType(
                                [
                                    StructField("id", StringType()),
                                    StructField("name", StringType()),
                                    StructField("description", StringType()),
                                ]
                            ),
                        ),
                    ]
                )
            ),
        ),
    ]
)


def read_tweets(
    spark: SparkSession, path: str, infer_schema: bool = False
) -> DataFrame:
    """NDJSON scan with the pinned tweet schema (or Glue-crawler-style
    inference when infer_schema=True, main.tf:304-314 parity)."""
    reader = spark.read
    if not infer_schema:
        reader = reader.schema(TWEET_SCHEMA)
    return reader.json(path)


def default_source_filters(df: DataFrame, topic: str | None = None) -> DataFrame:
    """The reference's default query-string predicates as DataFrame
    filters (main.py:89: `-is:retweet lang:en -%23nbatopshot`, plus the
    entity:"<topic>" match, main.py:99).

    Retweets in API v2 are detected by the `RT @` text prefix (the
    reference filters server-side; landed data has no is_retweet flag).
    Null-safe: absent entities/hashtags never drop a row on their own.
    """
    out = df.filter(~F.col("text").startswith("RT @")).filter(F.col("lang") == "en")
    hashtags = F.col("entities.hashtags.tag")
    out = out.filter(
        hashtags.isNull() | ~F.exists(hashtags, lambda t: F.lower(t) == "nbatopshot")
    )
    if topic is not None:
        out = out.filter(
            F.exists(
                F.coalesce(
                    F.col("context_annotations.entity.name"),
                    F.array().cast("array<string>"),
                ),
                lambda name: F.lower(name) == topic.lower(),
            )
            | F.col("text").rlike(f"(?i){topic}")
        )
    return out


def utc_rfc3339(ts: Column) -> Column:
    """Render a timestamp column as RFC-3339 UTC milliseconds
    (``yyyy-MM-ddTHH:mm:ss.SSSZ``, the Twitter ``created_at`` shape)
    whatever ``spark.sql.session.timeZone`` is.

    A bare date_format renders in the session time zone, so the literal
    'Z' would lie on any non-UTC session (measured: Europe/Berlin shifts
    the instant one hour); to_utc_timestamp re-expresses the session-zone
    wall clock back to UTC first, making the composition
    timezone-invariant."""
    return F.date_format(
        F.to_utc_timestamp(ts, F.expr("current_timezone()")),
        "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'",
    )


def with_partition_columns(df: DataFrame, platform: str, topic: str) -> DataFrame:
    """Derive the reference's partition keys (main.py:70-73, 184-191) as
    named columns: platform/topic/year/month/day from ``created_at``."""
    ts = F.to_timestamp(F.col("created_at"))
    return (
        df.withColumn("platform", F.lit(platform))
        .withColumn("topic", F.lit(topic))
        .withColumn("year", F.date_format(ts, "yyyy"))
        .withColumn("month", F.date_format(ts, "MM"))
        .withColumn("day", F.date_format(ts, "dd"))
    )


def write_partitioned(df: DataFrame, path: str) -> bool:
    """Partitioned NDJSON append sink (P6+P7).  Returns False (and skips
    the write) on empty input — the reference's "No Twitter data found"
    guard (main.py:183-194).

    At scale: named Hive partitions give free partition pruning on
    read; `json` keeps byte-parity with the reference's landing zone.
    """
    if df.isEmpty():
        return False
    (
        df.write.mode("append")
        .partitionBy("platform", "topic", "year", "month", "day")
        .json(path)
    )
    return True

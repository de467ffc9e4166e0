"""Embedding clustering (SURVEY.md §2C vector family): deterministic
k-means over the `embeddings` table — seed assignment, one exact Lloyd
refinement, final assignment.

Vector quantization is the scale path for embedding workloads (IVF
coarse quantizers, dedup bucketing, corpus diversity sampling); the
reference has no vector compute at all, so this is a north-star
extension like x05/x05b.  Unlike MLlib KMeans (RNG init, float-order
merges), every step here is engine- and partitioning-deterministic, so
the whole algorithm is oracle-checkable:

- seeds = embeddings of the k smallest vec_ids (no RNG);
- distances fold left-to-right over the vector (F.aggregate — a
  per-row sequential fold, bit-stable under any partitioning, and
  DuckDB's list_reduce folds in the same order);
- centroid means use the decimal-sum pattern (functions/num.py), so
  the refit centroids are bit-identical across engines;
- argmin ties break on cluster id.

Scale shape: the k×dim centroid table is broadcast into both
assignment passes (no shuffle of the vectors by cluster); the only
wide exchange is the explode-regroup that refits centroids, which is
the unavoidable partial-aggregation shuffle and combines map-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fanstats_producer_spark.functions.num import qint
from fanstats_producer_spark.io import load, spread
from fanstats_producer_spark.registry import query

_K = 10


def _dist2(vec: Column, cent: Column) -> Column:
    """Squared euclidean distance, folded left-to-right in double.

    Element order is fixed, so the result is bit-identical on any
    engine that folds sequentially (DuckDB list_reduce does) — no
    decimal quantization needed for the argmin to agree.
    """
    diffs = F.zip_with(
        vec,
        cent,
        lambda x, c: (x.cast("double") - c.cast("double"))
        * (x.cast("double") - c.cast("double")),
    )
    return F.aggregate(
        diffs, F.lit(0.0), lambda acc, v: acc + v
    )


def _assign(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the k centroids, argmin
    with (dist2, cid) tie-break.  Returns (vec_id, cid, dist2)."""
    d = emb.crossJoin(F.broadcast(centroids)).select(
        "vec_id", "cid", _dist2(F.col("embedding"), F.col("cent")).alias("dist2")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("dist2").asc(), F.col("cid").asc())
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def kmeans_assignments(emb: DataFrame) -> DataFrame:
    """Seed (_K centroids) → refit once (exact decimal means) → reassign."""
    seeds = emb.orderBy("vec_id").limit(_K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cent")
    )
    asg1 = _assign(emb, seeds).select("vec_id", "cid")
    expl = asg1.join(emb, "vec_id").select(
        "cid", F.posexplode("embedding").alias("pos", "val")
    )
    # floor-quantize, not round(): the decimal sum is exact on both
    # engines, and floor(x*1e6+0.5)/1e6 is pure IEEE — no dependence on
    # either engine's round() implementation (num.py qint note).
    cent2 = expl.groupBy("cid", "pos").agg(
        (
            F.floor(
                F.sum(
                    F.col("val").cast("double").cast("decimal(18,6)")
                ).cast("double")
                / F.count("*")
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("c")
    )
    cent2l = cent2.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("cent")
    )
    return _assign(emb, cent2l)


@query(
    "x24_kmeans",
    oracle=f"""
    WITH emb AS (SELECT vec_id, embedding FROM embeddings),
    seeds AS (
      SELECT vec_id AS cid, embedding AS cent
      FROM emb ORDER BY vec_id LIMIT {_K}),
    d1 AS (
      SELECT e.vec_id, s.cid,
             list_reduce(
               list_transform(range(1, len(e.embedding) + 1),
                 i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(s.cent[i] AS DOUBLE))
                    * (CAST(e.embedding[i] AS DOUBLE) - CAST(s.cent[i] AS DOUBLE))),
               (acc, v) -> acc + v) AS dist2
      FROM emb e CROSS JOIN seeds s),
    asg1 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        FROM d1) WHERE rn = 1),
    expl AS (
      SELECT a.cid,
             generate_subscripts(e.embedding, 1) AS pos,
             unnest(e.embedding) AS val
      FROM emb e JOIN asg1 a USING (vec_id)),
    cent2 AS (
      SELECT cid, pos,
             floor(CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*) * 1e6 + 0.5) / 1e6 AS c
      FROM expl GROUP BY 1, 2),
    cent2l AS (SELECT cid, list(c ORDER BY pos) AS cent FROM cent2 GROUP BY 1),
    d2 AS (
      SELECT e.vec_id, s.cid,
             list_reduce(
               list_transform(range(1, len(e.embedding) + 1),
                 i -> (CAST(e.embedding[i] AS DOUBLE) - s.cent[i])
                    * (CAST(e.embedding[i] AS DOUBLE) - s.cent[i])),
               (acc, v) -> acc + v) AS dist2
      FROM emb e CROSS JOIN cent2l s)
    SELECT vec_id, cid AS cluster_id,
           CAST(floor(dist2 * 1e6 + 0.5) AS BIGINT) AS dist2_e6
    FROM (
      SELECT vec_id, cid, dist2,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
      FROM d2) WHERE rn = 1
    """,
)
def x24_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    out = kmeans_assignments(emb)
    return out.select(
        "vec_id",
        F.col("cid").alias("cluster_id"),
        qint("dist2").alias("dist2_e6"),
    )

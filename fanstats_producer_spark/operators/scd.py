"""Slowly-changing-dimension (type 2) merge: close-and-insert history
maintenance for dimension tables.

The reference refreshes its catalog daily over mutable upstream state
(Glue crawler re-run, main.tf:309) but keeps no history — each crawl
overwrites the previous schema/partition view.  A warehouse built on the
same landed data needs the standard SCD2 answer: when a tracked
attribute changes, close the current row (valid_to = effective date) and
open a new one, so point-in-time joins stay possible.

Scale design: ONE equi-join on the dimension key (update batches are
small relative to the dimension → broadcast hint; at 100 TB the dim side
stays hash-partitioned and never moves), then a single projection that
emits 1 row for unmatched keys and 2 rows (closed + opened) for matched
keys via array+explode — no triple-branch union re-scanning the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fanstats_producer_spark.io import disk_checkpoint, load
from fanstats_producer_spark.registry import query


def scd2_merge(
    dim: DataFrame,
    updates: DataFrame,
    key: str,
    attr: str,
) -> DataFrame:
    """Apply one batch of attribute updates to a current-state dimension.

    ``dim`` must carry (key, attr, valid_from) with valid_from the date
    each current row became effective; ``updates`` carries (key, attr,
    eff_date) — at most one row per key.  Returns the full type-2 table:
    (key, attr, valid_from, valid_to, is_current).
    """
    upd = F.broadcast(
        updates.select(
            F.col(key),
            F.col(attr).alias("_new_attr"),
            F.col("eff_date").alias("_eff"),
        )
    )
    joined = dim.join(upd, key, "left")
    matched = F.col("_eff").isNotNull()
    mk = lambda a, vf, vt, cur: F.struct(  # noqa: E731
        a.alias(attr),
        vf.alias("valid_from"),
        vt.alias("valid_to"),
        cur.alias("is_current"),
    )
    null_date = F.lit(None).cast("date")
    closed = mk(F.col(attr), F.col("valid_from"), F.col("_eff"), F.lit(False))
    opened = mk(F.col("_new_attr"), F.col("_eff"), null_date, F.lit(True))
    current = mk(F.col(attr), F.col("valid_from"), null_date, F.lit(True))
    return joined.select(
        key,
        F.explode(
            F.when(matched, F.array(closed, opened)).otherwise(F.array(current))
        ).alias("_r"),
    ).select(key, "_r.*")


_SCD2_BASE_DATE = "1990-01-01"
_SCD2_EFF_DATE = "1995-06-01"


@query(
    "q50_scd2",
    oracle=f"""
    WITH upd AS (
      SELECT c_custkey, 'DELINQUENT' AS new_seg, DATE '{_SCD2_EFF_DATE}' AS eff
      FROM customer WHERE c_acctbal < 0)
    SELECT c.c_custkey,
           c.c_mktsegment AS segment,
           DATE '{_SCD2_BASE_DATE}' AS valid_from,
           u.eff AS valid_to,
           u.c_custkey IS NULL AS is_current
    FROM customer c LEFT JOIN upd u USING (c_custkey)
    UNION ALL
    SELECT c_custkey, new_seg AS segment, eff AS valid_from,
           CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
    FROM upd
    """,
)
def q50_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 merge on the customer dimension: delinquent accounts
    (c_acctbal < 0) move to segment DELINQUENT effective 1995-06-01;
    their old segment rows close, everyone else stays current."""
    cust = load(spark, sf_dir, "customer")
    dim = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit(_SCD2_BASE_DATE).cast("date").alias("valid_from"),
    )
    updates = cust.filter(F.col("c_acctbal") < 0).select(
        "c_custkey",
        F.lit("DELINQUENT").alias("segment"),
        F.lit(_SCD2_EFF_DATE).cast("date").alias("eff_date"),
    )
    return scd2_merge(dim, updates, key="c_custkey", attr="segment")


# --- q80: MERGE INTO (upsert + delete) as the portable join formulation ---------
# The warehouse MERGE statement — WHEN MATCHED AND op='D' DELETE / WHEN
# MATCHED AND op='U' UPDATE / WHEN NOT MATCHED INSERT — applied to a
# deterministic CDC feed.  Spark's literal `MERGE INTO` needs a v2
# transactional catalog (Delta/Iceberg); the PORTABLE formulation every
# engine can run is ONE full-outer join on the key with the action
# decided by CASE — same semantics, and the shape that scales: a
# co-partitioned (or bucketed) equi-join on the merge key, no row-level
# mutation.  The CDC feed here derives from the target by modulo
# classes (exclusive by construction: deletes %97, else updates %10;
# inserts are fresh keys +10M), so the operator is closed over the
# fixture.  Balances ride as integer cents (floor(x*100+0.5)) so every
# arithmetic action is exact on both engines.
@query(
    "q80_merge_upsert",
    oracle="""
    WITH tgt AS (
      SELECT c_custkey AS k,
             CAST(floor(CAST(c_acctbal AS DOUBLE) * 100 + 0.5) AS BIGINT)
               AS bal_e2
      FROM customer),
    src AS (
      SELECT k, 'D' AS op, CAST(NULL AS BIGINT) AS new_bal_e2
      FROM tgt WHERE k % 97 = 0
      UNION ALL
      SELECT k, 'U' AS op, bal_e2 + 10000 AS new_bal_e2
      FROM tgt WHERE k % 97 != 0 AND k % 10 = 0
      UNION ALL
      SELECT k + 10000000 AS k, 'I' AS op, k * 100 AS new_bal_e2
      FROM tgt WHERE k % 211 = 0)
    SELECT COALESCE(t.k, s.k) AS c_custkey,
           CASE WHEN s.op = 'U' THEN s.new_bal_e2
                WHEN s.op = 'I' THEN s.new_bal_e2
                ELSE t.bal_e2 END AS bal_e2,
           CASE WHEN s.op IS NULL THEN 'keep'
                WHEN s.op = 'D' THEN 'delete'
                WHEN s.op = 'U' THEN 'update'
                ELSE 'insert' END AS action
    FROM tgt t FULL OUTER JOIN src s ON s.k = t.k
    WHERE s.op IS NULL OR s.op != 'D'
    """,
)
def q80_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    tgt = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.floor(F.col("c_acctbal").cast("double") * 100 + 0.5)
        .cast("long")
        .alias("bal_e2"),
    )
    # the CDC feed reads the target once (checkpoint the small frame)
    tgt = disk_checkpoint(tgt)
    src = (
        tgt.filter(F.col("k") % 97 == 0)
        .select("k", F.lit("D").alias("op"), F.lit(None).cast("long").alias("new_bal_e2"))
        .unionByName(
            tgt.filter((F.col("k") % 97 != 0) & (F.col("k") % 10 == 0)).select(
                "k",
                F.lit("U").alias("op"),
                (F.col("bal_e2") + 10000).alias("new_bal_e2"),
            )
        )
        .unionByName(
            tgt.filter(F.col("k") % 211 == 0).select(
                (F.col("k") + 10_000_000).alias("k"),
                F.lit("I").alias("op"),
                (F.col("k") * 100).alias("new_bal_e2"),
            )
        )
    )
    merged = tgt.join(src, "k", "full_outer").select(
        F.col("k").alias("c_custkey"),
        F.when(F.col("op").isin("U", "I"), F.col("new_bal_e2"))
        .otherwise(F.col("bal_e2"))
        .alias("bal_e2"),
        F.when(F.col("op").isNull(), "keep")
        .when(F.col("op") == "D", "delete")
        .when(F.col("op") == "U", "update")
        .otherwise("insert")
        .alias("action"),
    )
    return merged.filter(F.col("action") != "delete")

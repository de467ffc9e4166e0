"""UDF / UDAF / UDTF surface (SURVEY.md §2B u01-u04).

Policy (100 TB posture): built-ins first; when Python is unavoidable the
hot path uses Arrow-batched pandas UDFs (u02/u03), never row-at-a-time
(u01 exists to cover the API surface and is deliberately off any large
fact table).  u03 is the grouped-map pattern (applyInPandas) that the
X-layer reuses for custom stateless per-group logic.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType

from fanstats_producer_spark.functions.num import qint
from fanstats_producer_spark.io import load
from fanstats_producer_spark.registry import query


# --- u01: scalar Python UDF ---------------------------------------------------
@F.udf(returnType=StringType(), useArrow=False)
def _shout(s: str | None) -> str | None:
    return None if s is None else s.upper() + "!"


@query(
    "u01_udf",
    oracle="SELECT r_regionkey, upper(r_name) || '!' AS shouted FROM region",
)
def u01_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "region").select(
        "r_regionkey", _shout("r_name").alias("shouted")
    )


# --- u02: vectorized pandas UDF (Arrow batches) --------------------------------
# sqrt, not log1p: IEEE 754 requires sqrt to be correctly rounded, so
# numpy's hardware sqrt and DuckDB's sqrt produce identical bits and the
# quantized output is deterministic (log1p vs ln(1+x) differ in the last
# ulp between implementations).
@F.pandas_udf(DoubleType())
def _sqrt_score(v: pd.Series) -> pd.Series:
    import numpy as np

    return pd.Series(np.sqrt(v.to_numpy(dtype="float64")))


@query(
    "u02_pandas_udf",
    oracle="""
    SELECT event_id,
           CAST(floor(sqrt(value) * 1e6 + 0.5) AS BIGINT) AS sqrt_score_e6
    FROM events
    """,
)
def u02_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "events").select(
        "event_id", qint(_sqrt_score("value")).alias("sqrt_score_e6")
    )


# --- u03: grouped map (applyInPandas) ------------------------------------------
def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    import numpy as np

    mean = pdf["c_acctbal"].mean()
    sd = pdf["c_acctbal"].std(ddof=1)
    z = (pdf["c_acctbal"] - mean) / sd if sd else pdf["c_acctbal"] * 0.0
    return pd.DataFrame(
        {
            "c_custkey": pdf["c_custkey"],
            "zscore_e6": np.floor(z * 1e6 + 0.5).astype("int64"),
        }
    )


@query(
    "u03_grouped_map",
    oracle="""
    SELECT c_custkey,
           CAST(floor((c_acctbal - avg(c_acctbal) OVER seg)
                 / stddev_samp(c_acctbal) OVER seg * 1e6 + 0.5) AS BIGINT)
             AS zscore_e6
    FROM customer
    WINDOW seg AS (PARTITION BY c_mktsegment)
    """,
)
def u03_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .applyInPandas(_zscore_group, schema="c_custkey long, zscore_e6 long")
    )


# --- u04: UDTF (table-generating) -----------------------------------------------
@query(
    "u04_udtf",
    oracle="""
    SELECT doc_id, unnest(string_split(text, ' ')) AS token
    FROM documents WHERE doc_id < 50
    """,
)
def u04_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, token string")
    class Tokenize:
        def eval(self, doc_id: int, text: str):  # noqa: ANN001
            for tok in text.split(" "):
                yield doc_id, tok

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    d.createOrReplaceTempView("u04_docs")
    spark.udtf.register("fs_tokenize", Tokenize)
    return spark.sql(
        "SELECT t.doc_id, t.token FROM u04_docs, LATERAL fs_tokenize(doc_id, text) t"
    )


# --- u06: Arrow-optimized Python UDF (Spark 3.5+ useArrow) ---------------------
# Completes the UDF execution-mode matrix: u01 is the pickled row-at-a-
# time bridge, u02 the vectorized pandas UDF, u06 the Arrow-serialized
# scalar UDF — same per-row Python semantics as u01 but Arrow batch
# transfer (no pickling), the recommended migration path for legacy
# row UDFs that cannot be vectorized.
@F.udf(returnType=StringType(), useArrow=True)
def _tag_priority(priority: str, total: float) -> str:
    band = "high" if total >= 150000 else "low"
    return f"{priority.split('-')[0]}:{band}"


@query(
    "u06_arrow_udf",
    oracle="""
    SELECT o_orderkey,
           string_split(o_orderpriority, '-')[1] || ':' ||
           CASE WHEN o_totalprice >= 150000 THEN 'high' ELSE 'low' END AS tag
    FROM orders
    """,
)
def u06_arrow_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        _tag_priority("o_orderpriority", "o_totalprice").alias("tag"),
    )


# --- u07: mapInArrow (zero-conversion RecordBatch transform) --------------------
# Completes the batch-transfer matrix: u02/u03 cross into pandas (one
# Arrow->pandas conversion per batch, with its NaN/dtype coercions);
# mapInArrow hands the worker the raw pyarrow.RecordBatch — no pandas
# materialization at all — which is the right lane for columnar
# transforms that pyarrow.compute can express (the multimodal decoders
# would sit here if their logic were expressible kernel-side).  The
# quantization below mirrors functions/num.qint exactly (floor(x*100
# + 0.5) in float64) so the output is bit-identical to the JVM path.
@query(
    "u07_map_in_arrow",
    oracle="""
    SELECT o_orderkey,
           CAST(floor(CAST(o_totalprice AS DOUBLE) * 1e2 + 0.5) AS BIGINT)
             AS totalprice_e2
    FROM orders
    """,
)
def u07_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.compute as pc

    def quantize(batches):  # noqa: ANN001
        for batch in batches:
            price = pc.cast(batch.column("o_totalprice"), pa.float64())
            e2 = pc.cast(
                pc.floor(pc.add(pc.multiply(price, 100.0), 0.5)), pa.int64()
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column("o_orderkey"), e2],
                names=["o_orderkey", "totalprice_e2"],
            )

    return load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    ).mapInArrow(quantize, "o_orderkey bigint, totalprice_e2 bigint")


# --- u08: applyInArrow (grouped-map without pandas) -----------------------------
# The grouped-map lane of the Arrow matrix: u03 is applyInPandas
# (grouped Arrow->pandas crossing), u07 is ungrouped raw RecordBatches
# — applyInArrow is grouped-map WITHOUT the pandas materialization:
# each group arrives as a pyarrow.Table and pyarrow.compute does the
# work columnar-side.  Per-group rollup (count + e2-quantized price
# sum) is deliberately the kind of thing the JVM aggregate would do
# natively; the key exists to pin the API surface and its exactness
# contract (integer cents, so partial order can't matter).
@query(
    "u08_apply_in_arrow",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(floor(CAST(o_totalprice AS DOUBLE) * 1e2 + 0.5)
                         AS BIGINT)) AS BIGINT) AS price_e2_sum
    FROM orders GROUP BY 1
    """,
)
def u08_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.compute as pc

    def rollup(table):  # noqa: ANN001
        price = pc.cast(table.column("o_totalprice"), pa.float64())
        e2 = pc.cast(
            pc.floor(pc.add(pc.multiply(price, 100.0), 0.5)), pa.int64()
        )
        return pa.Table.from_arrays(
            [
                pa.array([table.column("o_orderstatus")[0].as_py()]),
                pa.array([table.num_rows], pa.int64()),
                pa.array([pc.sum(e2).as_py()], pa.int64()),
            ],
            names=["o_orderstatus", "n", "price_e2_sum"],
        )

    return (
        load(spark, sf_dir, "orders")
        .select("o_orderstatus", "o_totalprice")
        .groupBy("o_orderstatus")
        .applyInArrow(
            rollup, "o_orderstatus string, n bigint, price_e2_sum bigint"
        )
    )

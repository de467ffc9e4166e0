"""Source/sink format coverage (SURVEY.md §2B scans/sinks table):
CSV and JSON round-trips, mergeSchema evolution, and a hypothesis
property for NDJSON round-trips.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from conftest import SF_DIR

from fanstats_producer_spark.io import load


def test_csv_roundtrip(spark, tmp_path):
    out = str(tmp_path / "csv")
    src = load(spark, SF_DIR, "nation")
    src.write.option("header", True).csv(out)
    back = spark.read.option("header", True).option("inferSchema", True).csv(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_json_roundtrip_preserves_nested(spark, tmp_path):
    out = str(tmp_path / "json")
    src = spark.createDataFrame(
        [(1, {"a": 1, "b": [1, 2]}), (2, {"a": 2, "b": []})],
        "id long, payload struct<a:long, b:array<long>>",
    )
    src.write.json(out)
    back = spark.read.json(out)
    got = {r.id: (r.payload.a, list(r.payload.b or [])) for r in back.collect()}
    assert got == {1: (1, [1, 2]), 2: (2, [])}


def test_orc_roundtrip_partitioned(spark, tmp_path):
    """ORC sink/scan (built into Spark, the other columnar lake format):
    partitioned write, pruned read, values preserved."""
    out = str(tmp_path / "orc")
    src = load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    src.write.partitionBy("o_orderstatus").orc(out)
    back = spark.read.orc(out)
    assert back.count() == src.count()
    one = back.filter(F.col("o_orderstatus") == "F")
    plan = one._jdf.queryExecution().executedPlan().toString()
    # the status predicate lands in PartitionFilters (directory pruning)
    assert "PartitionFilters" in plan
    part_section = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert "o_orderstatus" in part_section
    got = sorted(map(tuple, one.select("o_orderkey", "o_totalprice").collect()))
    want = sorted(
        map(
            tuple,
            src.filter(F.col("o_orderstatus") == "F")
            .select("o_orderkey", "o_totalprice")
            .collect(),
        )
    )
    assert got == want


def test_xml_roundtrip(spark, tmp_path):
    """XML source/sink (built into Spark 4): typed round-trip with
    rowTag framing — config/feed ingestion parity."""
    out = str(tmp_path / "xml")
    src = load(spark, SF_DIR, "region").select("r_regionkey", "r_name")
    src.write.format("xml").option("rootTag", "regions").option(
        "rowTag", "region"
    ).save(out)
    back = (
        spark.read.format("xml")
        .option("rowTag", "region")
        .load(out)
        .select("r_regionkey", "r_name")
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_merge_schema_evolution(spark, tmp_path):
    """Schema drift tolerated on read — the Glue-crawler re-crawl story."""
    out = str(tmp_path / "evolving")
    spark.range(3).select(F.col("id"), F.lit("v1").alias("old_col")).write.parquet(
        out + "/batch=1"
    )
    spark.range(3).select(
        F.col("id"), F.lit("v2").alias("old_col"), F.lit(42).alias("new_col")
    ).write.parquet(out + "/batch=2")
    merged = spark.read.option("mergeSchema", True).parquet(out)
    assert set(merged.columns) == {"id", "old_col", "new_col", "batch"}
    assert merged.filter(F.col("new_col").isNull()).count() == 3


# --- hypothesis: NDJSON round-trip property (SURVEY.md §5.5) --------------------
try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _texts = st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126, exclude_characters='"\\'),
        max_size=40,
    )

    @given(
        rows=st.lists(
            st.tuples(st.integers(min_value=0, max_value=2**40), _texts),
            min_size=1,
            max_size=20,
            unique_by=lambda t: t[0],
        )
    )
    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    def test_ndjson_roundtrip_property(rows):
        """DataFrame → NDJSON → DataFrame is the identity on content."""
        import conftest
        from fanstats_producer_spark.session import get_spark

        spark = get_spark("fanstats-tests")
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            src = spark.createDataFrame(rows, "id long, text string")
            src.write.mode("overwrite").json(d + "/out")
            back = spark.read.schema("id long, text string").json(d + "/out")
            assert sorted(map(tuple, back.collect())) == sorted(rows)
except ImportError:  # pragma: no cover
    pass


_TS_US = [1_700_000_000_123_456, 1_700_000_060_000_001, 1_700_086_400_999_999]


@pytest.mark.parametrize(
    "arrow_type, raw_type",
    [
        (pa.timestamp("ns"), LongType()),
        (pa.timestamp("us"), TimestampNTZType()),
        (pa.timestamp("us", tz="UTC"), TimestampType()),
    ],
    ids=["nanos", "ntz-micros", "utc-micros"],
)
def test_events_ts_flavours_load_and_stream_alike(
    spark, tmp_path, arrow_type, raw_type
):
    """Each events.ts flavour a fixture generator has shipped lands as
    the same UTC microsecond TIMESTAMP through io.load and through the
    drained events stream (driver_entries._read_events_stream)."""
    from fanstats_producer_spark.streaming.driver_entries import (
        _drain_memory,
        _read_events_stream,
    )

    scale = 1000 if arrow_type.unit == "ns" else 1
    table = pa.table(
        {
            "event_id": pa.array(range(len(_TS_US)), pa.int64()),
            "ts": pa.array([t * scale for t in _TS_US], arrow_type),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))
    sf_dir = str(tmp_path)
    batch = load(spark, sf_dir, "events")  # pins nanosAsLong
    raw = spark.read.parquet(f"{sf_dir}/events.parquet").schema["ts"].dataType
    assert raw == raw_type  # the case reaches its own branch
    stream = _drain_memory(spark, _read_events_stream(spark, sf_dir), "append")

    def micros(df):
        assert df.schema["ts"].dataType == TimestampType()
        return sorted(
            tuple(r)
            for r in df.select("event_id", F.unix_micros("ts")).collect()
        )

    assert micros(batch) == micros(stream) == list(enumerate(_TS_US))

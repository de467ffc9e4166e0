"""Differential testing against the DuckDB oracle (SURVEY.md §5.1):
every SQL-expressible query must produce identical row sets.

This mirrors the driver's correctness gate (row count + column names +
order-insensitive canonical values) at sf0.001 for speed; the driver
runs the same comparison at sf0.01.
"""

from __future__ import annotations

import math

import pytest

from pyspark.sql.types import ArrayType, MapType, StructType

from fanstats_producer_spark import registry

from conftest import SF_DIR


def _assert_scalar_schema(key, sdf):
    """The driver's canonicalizer sorts rows with pandas; array/struct/map
    output columns are unhashable there and crash the comparison (round-2
    x32 red).  Every registered query must emit scalar columns only —
    serialize vectors as CSV/JSON strings."""
    complex_cols = [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (ArrayType, StructType, MapType))
    ]
    assert not complex_cols, f"{key}: complex-typed output columns {complex_cols}"


def _canon_value(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    return repr(v)


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    body = sorted(tuple(_canon_value(r[i]) for i in order) for r in rows)
    return sorted(cols), body


@pytest.mark.parametrize("key", sorted(registry.ORACLE))
def test_oracle_parity(key, spark, duck):
    sdf = registry.QUERIES[key](spark, SF_DIR)
    _assert_scalar_schema(key, sdf)
    s_cols, s_rows = _canon(sdf.columns, [tuple(r) for r in sdf.collect()])
    res = duck.execute(registry.ORACLE[key])
    d_cols, d_rows = _canon([d[0] for d in res.description], res.fetchall())
    assert s_cols == d_cols
    assert len(s_rows) == len(d_rows)
    assert s_rows == d_rows


def test_every_query_has_an_oracle():
    """All registered keys are oracle-checked — the rows-only fallback
    path is unused (were a non-SQL-expressible key ever added, give it
    a dedicated execution test rather than a parametrized skip)."""
    assert set(registry.QUERIES) == set(registry.ORACLE)


#: every module that materializes through io.disk_checkpoint, and the keys
#: whose plans reach that call
_CHECKPOINT_MODULES = (
    "dedup",
    "graph",
    "multimodal",
    "product_analytics",
    "scd",
    "similarity",
)
_CHECKPOINT_KEYS = (
    "x61_semdedup",
    "q65_pagerank",
    "q59_basket_pairs",
    "q80_merge_upsert",
    "x82_sparse_text_topk",
    "x88_image_neardup",
    "x96_image_cluster_dedup",
    "x103_jl_ann_recall",
)


def test_reliable_checkpoint_seam_keeps_results(spark, tmp_path, monkeypatch):
    """`io.disk_checkpoint` is the seam a deployment swaps for a reliable
    `df.checkpoint()` when it needs lineage-free intermediates to survive
    executor loss: with every caller rebound to that arm, each key that
    reaches the call returns the rows it returns unswapped."""
    import importlib

    def rows(key):
        sdf = registry.QUERIES[key](spark, SF_DIR)
        return _canon(sdf.columns, [tuple(r) for r in sdf.collect()])

    want = {key: rows(key) for key in _CHECKPOINT_KEYS}
    spark.sparkContext.setCheckpointDir(str(tmp_path))
    calls = []

    def reliable(df, eager=True):
        calls.append(df)
        return df.checkpoint(eager=True)

    for name in _CHECKPOINT_MODULES:
        mod = importlib.import_module(f"fanstats_producer_spark.operators.{name}")
        monkeypatch.setattr(mod, "disk_checkpoint", reliable)
    for key in _CHECKPOINT_KEYS:
        del calls[:]
        assert rows(key) == want[key], key
        assert calls, f"{key} did not reach disk_checkpoint"

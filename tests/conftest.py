from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fanstats_producer_spark import registry
from fanstats_producer_spark.io import TABLES
from fanstats_producer_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"

registry.load_all()


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "flaky_under_load: wall-clock-dependent streaming test that can"
        " time out on a saturated host; re-run solo before suspecting"
        " a code regression",
    )


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    warehouse = tmp_path_factory.mktemp("warehouse")
    spark = get_spark(
        "fanstats-tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": str(warehouse)},
    )
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()

"""Shared fixtures: one session-scoped SparkSession + a DuckDB connection
with the testdata views registered (mirroring the driver's oracle setup).
"""

from __future__ import annotations

import os

import duckdb
import pytest

from sales_forecast_pyspark_spark.session import get_spark
from sales_forecast_pyspark_spark.sources.readers import TESTDATA_TABLES

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def pytest_collection_modifyitems(config, items):
    """Skip ``slow`` soak tests unless a marker expression was given
    (``-m slow``, ``-m "slow or not slow"``) or the test was named by
    node id (``tests/test_x.py::test_y``), so asking for one slow test
    runs it instead of silently deselecting it."""
    if config.getoption("markexpr"):
        return
    named = []
    for arg in config.args:
        path, sep, rest = arg.partition("::")
        if sep:
            rel = os.path.relpath(os.path.abspath(path), config.rootpath)
            named.append(rel.replace(os.sep, "/") + "::" + rest)
    skip = pytest.mark.skip(
        reason="slow soak: run with -m slow or name it by node id"
    )
    for item in items:
        if "slow" in item.keywords and not any(
            item.nodeid == n or item.nodeid.startswith((n + "[", n + "::"))
            for n in named
        ):
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="tests",
        **{"spark.sql.shuffle.partitions": "8", "spark.driver.memory": "8g"},
    )
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    yield con


def register_duck_views(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

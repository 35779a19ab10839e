"""Shared pytest fixtures: one SparkSession per test run, DuckDB oracle."""

from __future__ import annotations

import contextlib
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from anti_money_laundering_spark.session import get_spark  # noqa: E402
from anti_money_laundering_spark.sources import TABLES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="aml_engine_tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield spark


@pytest.fixture
def force_loop(monkeypatch):
    """Context manager under which every small-graph collapse gate
    (``graph.components.SMALL_GRAPH_COLLAPSE_ROWS``) refuses, so CC,
    Brandes and the densest peel run their distributed loops."""
    from anti_money_laundering_spark.graph import components

    @contextlib.contextmanager
    def _loop():
        with monkeypatch.context() as m:
            m.setattr(components, "SMALL_GRAPH_COLLAPSE_ROWS", -1)
            yield

    return _loop


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    """DuckDB connection with the fixture tables pre-registered as
    views — mirrors the driver's oracle environment."""
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    yield con
    con.close()

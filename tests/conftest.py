"""Shared fixtures: one SparkSession and one DuckDB connection per run."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from project_map_reduce_spark.session import get_spark

    # Modest parallelism for tiny test data — fewer empty partitions.
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from project_map_reduce_spark.tables import TABLES, table_path

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(SF_DIR, t)}')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def query_plans():
    """Formatted plan of each registered query, as built before it runs.

    ``test_query_matches_oracle`` stores the plan of the frame it
    compares; the plan-rule tests in ``test_plan_audit.py`` assert on
    that string instead of building the query again."""
    return {}


def pytest_collection_modifyitems(items):
    # The plan audit reads the plans parity stores, so it runs last in
    # whatever order the files were named; the sort is stable.
    items.sort(key=lambda item: "test_plan_audit.py::" in item.nodeid)

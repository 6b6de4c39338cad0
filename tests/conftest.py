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

"""Shared fixtures: one SparkSession per test session (cold start ~7 s,
so never per-test), plus a DuckDB connection with the fixture views."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from oeem_etl_spark.catalog import TABLES, table_path
from oeem_etl_spark.session import get_session

# Small sf for fast local iteration; the driver gate runs sf0.01.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_session("oeem-etl-spark-tests")
    # Tests run with the library's own SQL settings (session.configure:
    # AQE on, core-count shuffle partitions), the same ones every
    # load_table caller gets; only scan splits are sized for the MB-scale
    # fixtures.
    s.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
    return s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(SF_DIR, name)}')"
        )
    return con

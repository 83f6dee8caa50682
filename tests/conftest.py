"""Shared pytest fixtures: one SparkSession + one DuckDB connection with the
fixture tables registered, mirroring the driver's oracle setup."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import SparkSession

from snowflake_to_postgres_spark.session import get_spark
from snowflake_to_postgres_spark.sources import TABLES, table_path

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


TEST_SESSION = {"app_name": "tests", "master": "local[4]", "shuffle_partitions": 4}


@pytest.fixture(scope="session")
def spark():
    s = get_spark(**TEST_SESSION)
    yield s


@pytest.fixture(autouse=True)
def _reset_session_conf():
    """Put the shared session back to the configuration above after any
    test that re-configured it. The CLI verbs call get_spark() in-process,
    and getOrCreate re-applies its runtime conf to the live session: left
    alone, every later test file would run at the CLI's default of 32
    shuffle partitions on 4 cores."""
    yield
    active = SparkSession.getActiveSession()
    if active is not None and active.conf.get("spark.sql.shuffle.partitions") != str(
        TEST_SESSION["shuffle_partitions"]
    ):
        get_spark(**TEST_SESSION)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    yield con
    con.close()

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"


def _duckdb_jdbc_jars() -> str:
    """The first DuckDB JDBC driver jar in the local artifact caches
    (coursier, ivy, maven), or "" — what tests/test_jdbc_live.py runs
    the JDBC source against."""
    import glob

    found = []
    for pat in (
        "~/.cache/coursier/**/duckdb_jdbc*.jar",
        "~/.ivy2/**/duckdb_jdbc*.jar",
        "~/.m2/**/duckdb_jdbc*.jar",
    ):
        found.extend(glob.glob(os.path.expanduser(pat), recursive=True))
    return sorted(found)[0] if found else ""


# Set before any session is built: get_spark reads it into spark.jars.
os.environ.setdefault("SPARK_GRAFT_JDBC_JARS", _duckdb_jdbc_jars())


@pytest.fixture(scope="session")
def spark():
    from data_pipeline_with_hdfs_sql_integration_spark.session import get_spark

    spark = get_spark("dps-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    # Register sf0.001 tables as views (matching the driver's oracle setup).
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import TABLES

    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    yield con
    con.close()

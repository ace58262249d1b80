"""Live JDBC extract (SURVEY.md §2 O1, reference server.py:29-39).

The reference's DbToHdfs ships a SQL statement to MySQL and lands the
result on HDFS. No MySQL exists here, but a DuckDB JDBC driver jar
does — a real RDBMS endpoint (file-backed), so both JdbcSource modes
run end-to-end: the database is seeded with the same TPC-H parquet the
oracle uses, then Spark extracts over JDBC and the result is compared
row-for-row against the direct parquet scan.
"""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_DIR

DRIVER = "org.duckdb.DuckDBDriver"


pytestmark = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_JDBC_JARS"),
    reason="no DuckDB JDBC driver jar in local artifact caches",
)


@pytest.fixture(scope="module")
def jdbc_db(spark, tmp_path_factory):
    """File-backed DuckDB seeded over JDBC with nation + orders."""
    from data_pipeline_with_hdfs_sql_integration_spark.sources.jdbc import raw_connection

    db = tmp_path_factory.mktemp("jdbc") / "live.db"
    url = f"jdbc:duckdb:{db}"
    with raw_connection(spark, url, DRIVER) as conn:
        st = conn.createStatement()
        for t in ("nation", "orders"):
            st.execute(
                f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
            )
        st.close()
    return url


def _source(url):
    from data_pipeline_with_hdfs_sql_integration_spark.sources.jdbc import JdbcSource

    return JdbcSource(url=url, user="", password="", driver=DRIVER)


def test_query_mode_matches_parquet(spark, jdbc_db):
    """Reference-parity mode: the whole statement (join semantics and
    filter included) executes inside the RDBMS."""
    got = (
        _source(jdbc_db)
        .query(spark, "SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 1")
        .collect()
    )
    want = (
        spark.read.parquet(f"{SF_DIR}/nation.parquet")
        .filter("n_regionkey = 1")
        .select("n_nationkey", "n_name")
        .collect()
    )
    assert sorted(got) == sorted(want)


def test_partitioned_mode_parallel_and_pushed(spark, jdbc_db):
    """Scale mode: N parallel range-partitioned connections, with
    Spark-side filters pushed into each partition's generated SQL."""
    ok = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    lo, hi = 0, ok.count() * 5  # orderkeys are sparse; bounds just split ranges
    df = _source(jdbc_db).table_partitioned(
        spark, "orders", "o_orderkey", lo, hi, num_partitions=4
    )
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == ok.count()

    flt = df.filter("o_orderstatus = 'F'").select("o_orderkey")
    plan = flt._sc._jvm.PythonSQLUtils.explainString(flt._jdf.queryExecution(), "formatted")
    assert "PushedFilters" in plan and "o_orderstatus" in plan
    assert flt.count() == ok.filter("o_orderstatus = 'F'").count()


def test_aggregate_extract_matches_oracle(spark, jdbc_db, duck):
    """End-to-end DbToHdfs shape: SQL runs in the DB, Spark lands the
    result; values equal the DuckDB oracle over the same parquet."""
    sql = """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n
        FROM orders
        WHERE o_orderstatus = 'O'
        GROUP BY o_orderpriority
    """
    got = {(r["o_orderpriority"], r["n"]) for r in _source(jdbc_db).query(spark, sql).collect()}
    want = set(duck.sql(sql).fetchall())
    assert got == want

"""JDBC source (SURVEY.md §2 O1): the reference pulls its extract from
MySQL with the whole SQL statement shipped to the database
(reference server.py:29-39). Spark equivalent, with both modes:

- ``query`` mode — exact reference parity: the statement (join +
  band filter included) executes inside the RDBMS, one result stream.
- ``table + predicates`` mode — the scale path: Spark plans the scan,
  pushes filters/pruning into the source, and reads N partitions in
  parallel via ``partitionColumn/lowerBound/upperBound/numPartitions``.

The driver jar reaches the session's classpath through
``SPARK_GRAFT_JDBC_JARS`` (comma-separated paths, read by
``session.get_spark``); a deployment names its own (MySQL) jar there.
tests/test_jdbc_live.py runs both modes LIVE end-to-end against a
file-backed DuckDB database, whose JDBC jar tests/conftest.py finds in
the local artifact caches: seed via ``raw_connection`` DDL, extract
via ``query`` / ``table_partitioned``, with filter pushdown asserted
on the plan. The registry has no JDBC query only because the
correctness driver's plain session lacks the driver jar on its
classpath.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@contextmanager
def raw_connection(spark: SparkSession, url: str, driver: str):
    """Open a plain JDBC connection through the session's JVM.

    For DDL/seeding in integration tests (the reference's MySQL is
    assumed pre-loaded; here we must load it ourselves). The driver
    class is resolved via the context classloader so jars passed with
    ``spark.jars`` are visible; java.sql.DriverManager would only see
    the boot classpath.
    """
    jvm = spark._jvm
    loader = jvm.Thread.currentThread().getContextClassLoader()
    cls = jvm.java.lang.Class.forName(driver, True, loader)
    conn = cls.newInstance().connect(url, jvm.java.util.Properties())
    try:
        yield conn
    finally:
        conn.close()


@dataclass
class JdbcSource:
    url: str  # e.g. jdbc:mysql://host:3306/db
    user: str
    password: str
    driver: str = "com.mysql.cj.jdbc.Driver"
    extra: dict[str, str] = field(default_factory=dict)

    def _reader(self, spark: SparkSession):
        r = (
            spark.read.format("jdbc")
            .option("url", self.url)
            .option("user", self.user)
            .option("password", self.password)
            .option("driver", self.driver)
        )
        for k, v in self.extra.items():
            r = r.option(k, v)
        return r

    def query(self, spark: SparkSession, sql: str) -> DataFrame:
        """Reference-parity mode: ship the whole statement to the DB."""
        return self._reader(spark).option("query", sql).load()

    def table_partitioned(
        self,
        spark: SparkSession,
        table: str,
        partition_column: str,
        lower_bound: int,
        upper_bound: int,
        num_partitions: int = 32,
    ) -> DataFrame:
        """Scale mode: parallel range-partitioned scan; Catalyst pushes
        filters/pruned columns into each partition's generated SQL."""
        return (
            self._reader(spark)
            .option("dbtable", table)
            .option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
            .load()
        )

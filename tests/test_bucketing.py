"""Bucketed co-located join: correctness + the shuffle-free plan."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def bucketed(spark):
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import load

    orders = load(spark, SF_DIR, "orders")
    li = load(spark, SF_DIR, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    for df, name in ((orders, "b_orders"), (li, "b_lineitem")):
        df.write.mode("overwrite").format("parquet").bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(name)
    yield ("b_orders", "b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_join_is_shuffle_free(spark, bucketed):
    from data_pipeline_with_hdfs_sql_integration_spark.operators.bucketing import bucketed_join

    lt, rt = bucketed
    # Disable auto-broadcast: at test scale the dimension fits under the
    # threshold and Catalyst would broadcast, hiding the bucket path that
    # matters at 100 TB (where neither side broadcasts).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = bucketed_join(spark, lt, rt, "o_orderkey")
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Exchange" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_bucketed_join_matches_plain_join(spark, bucketed):
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import load
    from data_pipeline_with_hdfs_sql_integration_spark.operators.bucketing import bucketed_join

    lt, rt = bucketed
    n_bucketed = bucketed_join(spark, lt, rt, "o_orderkey").count()
    orders = load(spark, SF_DIR, "orders")
    li = load(spark, SF_DIR, "lineitem")
    n_plain = orders.join(li, orders.o_orderkey == li.l_orderkey).count()
    assert n_bucketed == n_plain

"""Subquery-shaped analytics: EXISTS, correlated scalar subqueries,
HAVING-IN, and outer-join histograms (TPC-H Q4/Q17/Q18/Q13 shapes).

The reference delegates all SQL to MySQL (SURVEY.md §3.1) and never
issues a subquery; these are north-star breadth. The Spark
implementations decorrelate by hand — each correlated subquery becomes
a join against a (usually broadcastable) aggregate, which is exactly
what Catalyst's decorrelation rewrite produces from the SQL form, but
written explicitly so the join strategy is visible and tunable.

Numeric parity follows plans/analytics.py: exact DECIMAL sums cast to
double at the end; averages = exact sum / count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import load, run_sql
from data_pipeline_with_hdfs_sql_integration_spark.registry import query


@query(
    "subq_exists_priority",
    oracle="""
        SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_quantity >= 45)
        GROUP BY o.o_orderpriority
    """,
    doc="TPC-H Q4-shaped EXISTS: orders in a date window that have at "
    "least one high-quantity line, counted per priority. EXISTS "
    "decorrelates to a LEFT SEMI join — no duplication of the outer row "
    "however many lines match, and the semi join short-circuits per key. "
    "At scale the date filter prunes the orders scan first, so the "
    "shuffle carries only one year of orders.",
    tags=("subquery", "semi-join"),
)
def subq_exists_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@query(
    "subq_scalar_avg",
    oracle="""
        SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#23'
          AND l.l_quantity < (
              SELECT 0.5 * (CAST(sum(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                            / count(*))
              FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    """,
    doc="TPC-H Q17-shaped correlated scalar subquery: lines of one brand "
    "whose quantity is below half that part's average quantity. "
    "Decorrelated by hand: per-part exact avg (sum/count over decimal) "
    "computed once, broadcast back onto the brand-filtered lines. The "
    "per-part aggregate is |part| rows regardless of fact size, so the "
    "second join is broadcastable even at 100 TB of lineitem.",
    tags=("subquery", "scalar"),
)
def subq_scalar_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23").select("p_partkey")
    li = load(spark, sf_dir, "lineitem")
    # Restrict the per-part aggregate to the brand's parts *before*
    # aggregating: at scale this turns a full-fact group-by into a
    # semi-filtered one (brand is ~1/25 of parts).
    brand_lines = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).drop("p_partkey")
    per_part = brand_lines.groupBy("l_partkey").agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
            / F.count("*")
        ).alias("avg_qty")
    )
    half = 0.5 * F.col("avg_qty")
    return (
        brand_lines.alias("l")
        .join(F.broadcast(per_part).alias("a"), F.col("l.l_partkey") == F.col("a.l_partkey"))
        .filter(F.col("l.l_quantity") < half)
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "subq_in_having",
    oracle="""
        SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
               CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
               CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IN (
            SELECT l2.l_orderkey FROM lineitem l2
            GROUP BY l2.l_orderkey
            HAVING sum(CAST(l2.l_quantity AS DECIMAL(18,2))) > 300)
        GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
    doc="TPC-H Q18-shaped IN-(grouped HAVING): orders whose total line "
    "quantity exceeds 300, rejoined to customer detail. The IN-subquery "
    "becomes a left-semi join against the HAVING aggregate. The "
    "qualifying-key set is tiny (heavy-hitter orders), so it broadcasts; "
    "the big lineitem group-by is the one unavoidable shuffle and AQE "
    "coalesces its output partitions.",
    tags=("subquery", "having"),
)
def subq_in_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # The HAVING aggregate IS the output's sum_qty: for a qualifying
    # order, re-summing l_quantity over a second lineitem scan joined
    # back to orders reproduces exactly the q that qualified it. Carry
    # q through the semi-join (making it an inner join on the tiny
    # heavy-hitter set) instead — one lineitem scan, one shuffle, and
    # no final re-aggregate (the r12 before-plan paid both twice).
    # orders/customer are key-unique, so the join yields one row per
    # qualifying order — the same multiset the grouped re-aggregate
    # produced (guide §1.2: don't compute things you throw away).
    heavy = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"))
        .filter(F.col("q") > 300)
    )
    o = load(spark, sf_dir, "orders").join(
        F.broadcast(heavy), F.col("o_orderkey") == heavy.l_orderkey, "inner"
    )
    c = load(spark, sf_dir, "customer")
    return c.join(o, c.c_custkey == o.o_custkey).select(
        "c_name",
        "c_custkey",
        "o_orderkey",
        "o_orderdate",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        F.col("q").cast("double").alias("sum_qty"),
    )


@query(
    "join_outer_count_histogram",
    oracle="""
        SELECT c_count, CAST(count(*) AS BIGINT) AS n_customers
        FROM (
            SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
            FROM customer c
            LEFT OUTER JOIN orders o
              ON c.c_custkey = o.o_custkey AND o.o_orderstatus <> 'F'
            GROUP BY c.c_custkey) t
        GROUP BY c_count
    """,
    doc="TPC-H Q13-shaped two-level aggregate over a LEFT OUTER join: "
    "orders-per-customer (customers with none count 0 — count(col) "
    "skips the outer join's NULLs), then the distribution of those "
    "counts. The non-equi part of the join condition (status filter) "
    "stays in the join, not a WHERE — a WHERE would silently turn the "
    "outer join inner. First group-by shuffles on c_custkey; the "
    "second input is |distinct counts| rows — negligible.",
    tags=("subquery", "outer-join"),
)
def join_outer_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, (c.c_custkey == o.o_custkey) & (o.o_orderstatus != "F"), "left_outer")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("n_customers"))


@query(
    "subq_scalar_anti",
    oracle="""
        WITH avg_bal AS (
            SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS a
            FROM customer WHERE c_acctbal > 0.0
        )
        SELECT c.c_nationkey,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        FROM customer c, avg_bal
        WHERE c.c_acctbal > avg_bal.a
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_totalprice > 300000.0)
        GROUP BY c.c_nationkey
    """,
    doc="TPC-H Q22-shaped: above-average-balance customers with no "
    "high-value (>300k) orders, per nation. Two subquery decorrelations in one query: the "
    "global scalar average becomes a broadcast 1-row cross join, and "
    "NOT EXISTS becomes a LEFT ANTI join on the order keys. The scalar "
    "is exact (decimal sum / count) so the > comparison is "
    "engine-identical at the boundary.",
    tags=("subquery", "anti-join"),
)
def subq_scalar_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double") / F.count("*")
        ).alias("a")
    )
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000.0)
        .select("o_custkey")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("total_bal"),
        )
    )


@query(
    "subq_not_in_null_aware",
    oracle="""
        SELECT
            (SELECT count(*) FROM orders
             WHERE o_custkey NOT IN
                   (SELECT NULLIF(c_custkey, 0) FROM customer WHERE c_custkey < 10))
                AS n_with_null_inlist,
            (SELECT count(*) FROM orders
             WHERE o_custkey NOT IN
                   (SELECT c_custkey FROM customer
                    WHERE c_custkey < 10 AND c_custkey <> 0))
                AS n_clean_inlist
    """,
    doc="NOT IN is NULL-aware: one NULL in the in-list makes every "
    "NOT IN predicate UNKNOWN, so the first count is 0 while the "
    "NULL-free variant counts normally — the classic silent-empty-"
    "result trap. Spark plans this as a null-aware anti join "
    "(BroadcastHashJoin LeftAnti with isnull-disjunct condition); both "
    "engines' three-valued logic is pinned by the oracle. Expressed "
    "via spark.sql — the DataFrame API has no NOT IN.",
    tags=("subquery", "null", "anti-join"),
)
def subq_not_in_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_sql(
        spark,
        sf_dir,
        """
        SELECT
            (SELECT count(*) FROM {orders}
             WHERE o_custkey NOT IN
                   (SELECT NULLIF(c_custkey, 0) FROM {customer} WHERE c_custkey < 10))
                AS n_with_null_inlist,
            (SELECT count(*) FROM {orders}
             WHERE o_custkey NOT IN
                   (SELECT c_custkey FROM {customer}
                    WHERE c_custkey < 10 AND c_custkey <> 0))
                AS n_clean_inlist
        """,
    )

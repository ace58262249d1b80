"""Window-function breadth: lag/lead/ntile/first_value.

Complements plans/analytics.py's row_number/running-sum windows
(SURVEY.md §2 lists window functions as absent from the reference).
Determinism rule for every window here: the ORDER BY ends with a
unique key (o_orderkey), so ties cannot reorder across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import load
from data_pipeline_with_hdfs_sql_integration_spark.registry import query


@query(
    "window_lag_lead_ntile",
    oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(lag(o_totalprice) OVER w AS DOUBLE) AS prev_price,
               CAST(lead(o_totalprice) OVER w AS DOUBLE) AS next_price,
               CAST(ntile(4) OVER w AS INTEGER) AS quartile,
               first_value(o_orderdate) OVER w AS first_order_date
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="lag/lead/ntile/first_value over per-customer order history, "
    "ordered by (date, orderkey) so the frame is total and the result "
    "engine-independent. One shuffle on o_custkey + per-partition sort; "
    "all four functions share a single window spec, so Spark evaluates "
    "them in one Window operator pass.",
    tags=("window",),
)
def window_lag_lead_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_totalprice").over(w).cast("double").alias("prev_price"),
        F.lead("o_totalprice").over(w).cast("double").alias("next_price"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.first("o_orderdate").over(w).alias("first_order_date"),
    )


@query(
    "window_range_frame",
    oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY day_no
                                   RANGE BETWEEN 30 PRECEDING AND 30 FOLLOWING)
                    AS BIGINT) AS n_orders_60d,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                        PARTITION BY o_custkey ORDER BY day_no
                        RANGE BETWEEN 30 PRECEDING AND 30 FOLLOWING)
                    AS DOUBLE) AS spend_60d
        FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                     datediff('day', TIMESTAMP '1992-01-01 00:00:00', o_orderdate) AS day_no
              FROM orders) t
    """,
    doc="RANGE-frame window (value-based, not row-based): for every "
    "order, the customer's order count and exact-decimal spend within "
    "a +/-30-day window of order dates. RANGE frames include ALL peers "
    "at equal sort values, so the result is tie-proof by construction "
    "— no row-order tiebreak needed, unlike ROWS frames. Order key is "
    "an integer day number (Spark's rangeBetween requires numeric "
    "ordering; identical arithmetic on both engines).",
    tags=("window", "range-frame"),
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").withColumn(
        "day_no",
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01 00:00:00").cast("timestamp")).cast("long"),
    )
    w = Window.partitionBy("o_custkey").orderBy("day_no").rangeBetween(-30, 30)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.count("*").over(w).alias("n_orders_60d"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").alias("spend_60d"),
    )


@query(
    "window_percent_rank_cume",
    oracle="""
        SELECT c_custkey,
               c_mktsegment,
               round(percent_rank() OVER w, 6) AS pr,
               round(cume_dist() OVER w, 6) AS cd,
               CAST(ntile(10) OVER w AS INT) AS decile
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        QUALIFY c_custkey < 400
        ORDER BY c_custkey
    """,
    doc="Relative-rank window functions (percent_rank / cume_dist / "
    "decile ntile) over one (segment, balance) sort — all three share "
    "a single window pass. Ratios are exact rationals of row counts, "
    "rounded identically; ties are impossible by the (balance, "
    "custkey) total order. QUALIFY bounds the compared output without "
    "changing the window input.",
    tags=("window",),
)
def window_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        customer.select(
            "c_custkey",
            "c_mktsegment",
            F.round(F.percent_rank().over(w), 6).alias("pr"),
            F.round(F.cume_dist().over(w), 6).alias("cd"),
            F.ntile(10).over(w).cast("int").alias("decile"),
        )
        .filter(F.col("c_custkey") < 400)
        .orderBy("c_custkey")
    )

"""More TPC-H-shaped queries (Q6/Q10/Q14/Q15/Q19 adapted to this
star schema — no partsupp table, so supplier-side shapes use
lineitem.l_suppkey directly).

Same numeric-parity discipline as plans/analytics.py: DECIMAL inputs
for every sum, double only at the edge, and any value used in an
equality comparison (Q15's max revenue) STAYS decimal — double
equality across engines is a trap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import load
from data_pipeline_with_hdfs_sql_integration_spark.registry import query


def _dec(col, scale: int = 4):
    return col.cast(f"decimal(18,{scale})")


@query(
    "q6_forecast_revenue",
    oracle="""
        SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    doc="TPC-H Q6-shaped: pure scan-filter-aggregate with three "
    "conjunctive predicates (date range, discount band, quantity cap) "
    "— every predicate reaches PushedFilters, the aggregate is one "
    "partial+final pair, zero joins. The canonical 'how fast can you "
    "scan' query.",
    tags=("tpch", "agg"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(_dec(F.col("l_extendedprice") * F.col("l_discount"))).cast("double").alias("revenue"),
        F.count("*").alias("n_lines"),
    )


@query(
    "q10_returned_items",
    oracle="""
        SELECT c.c_custkey, c.c_name, n.n_name AS nation,
               CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
               CAST(c.c_acctbal AS DOUBLE) AS c_acctbal
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
          AND l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
    """,
    doc="TPC-H Q10-shaped returned-item report: 4-way join (two "
    "broadcastable dims, one fact-fact), grouped revenue, top-20. The "
    "returnflag filter prunes lineitem at the scan; the date filter "
    "prunes orders; the joins see only qualifying rows.",
    tags=("tpch", "join"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    revenue = F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"), "c_acctbal")
        .agg(revenue.cast("double").alias("revenue"))
        .select(
            "c_custkey", "c_name", "nation", "revenue",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "q14_promo_revenue_share",
    oracle="""
        SELECT CAST(100.0 * CAST(sum(CASE WHEN p.p_type LIKE 'PROMO%'
                        THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))
                        ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                    / CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE)
               AS DOUBLE) AS promo_share_pct
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1996-02-01 00:00:00'
    """,
    doc="TPC-H Q14-shaped promo share: conditional ratio over one "
    "broadcast join — both the CASE'd and total sums accumulate in one "
    "aggregate pass (exact decimals), the percentage is a single "
    "double division at the very end so both engines hit identical FP.",
    tags=("tpch", "agg"),
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01 00:00:00").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0).cast("decimal(18,4)"))
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return joined.agg(
        (100.0 * F.sum(promo).cast("double") / F.sum(rev).cast("double"))
        .cast("double")
        .alias("promo_share_pct")
    )


@query(
    "q15_top_supplier",
    oracle="""
        WITH srev AS (
            SELECT l_suppkey,
                   sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS total_rev
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name,
               CAST(r.total_rev AS DOUBLE) AS total_rev
        FROM supplier s
        JOIN srev r ON s.s_suppkey = r.l_suppkey
        WHERE r.total_rev = (SELECT max(total_rev) FROM srev)
    """,
    doc="TPC-H Q15-shaped top supplier: per-supplier quarterly revenue, "
    "then the supplier(s) achieving the global max. The max and the "
    "equality comparison stay in exact DECIMAL — double equality "
    "across engines is never safe — and the 1-row max broadcasts back "
    "onto the |supplier|-sized aggregate, never the fact.",
    tags=("tpch", "subquery"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    srev = li.groupBy("l_suppkey").agg(
        F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("total_rev")
    )
    mx = srev.agg(F.max("total_rev").alias("mx"))
    s = load(spark, sf_dir, "supplier")
    return (
        s.join(srev, s.s_suppkey == srev.l_suppkey)
        .crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("mx"))
        .select("s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_rev"))
    )


@query(
    "q19_disjunctive_predicates",
    oracle="""
        SELECT CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity >= 1 AND l.l_quantity <= 11)
           OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
               AND l.l_quantity >= 10 AND l.l_quantity <= 20)
           OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
               AND l.l_quantity >= 20 AND l.l_quantity <= 30)
    """,
    doc="TPC-H Q19-shaped OR-of-ANDs: three disjunctive brand/size/"
    "quantity branches across a join. Catalyst extracts the common "
    "sub-predicates it can push (quantity bounds to lineitem, "
    "brand/size union to part) and evaluates the residual disjunction "
    "post-join — the query shape that punishes engines without "
    "predicate normalization.",
    tags=("tpch", "filter"),
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    branch = lambda brand, size_hi, q_lo, q_hi: (
        (F.col("p_brand") == brand)
        & (F.col("p_size").between(1, size_hi))
        & (F.col("l_quantity") >= q_lo)
        & (F.col("l_quantity") <= q_hi)
    )
    cond = branch("Brand#12", 15, 1, 11) | branch("Brand#23", 25, 10, 20) | branch(
        "Brand#34", 35, 20, 30
    )
    return joined.filter(cond).agg(
        F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_lines"),
    )


@query(
    "q12_priority_class_counts",
    oracle="""
        SELECT l.l_returnflag,
               CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l.l_returnflag
    """,
    doc="TPC-H Q12-shaped: conditional class counts (urgent vs other "
    "priority) across the orders⨝lineitem join, one year of shipments. "
    "Both CASE sums ride one aggregate pass; the date filter prunes "
    "lineitem at the scan and the join carries only the priority "
    "column from orders (pruned ReadSchema).",
    tags=("tpch", "agg"),
)
def q12_priority_class_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )

"""Second TPC-H batch: Q3/Q4/Q5/Q7/Q8/Q9/Q17/Q18/Q21/Q22 shapes.

Adapted to this star schema (no partsupp, no commit/receipt dates, no
phone/comment columns): Q4/Q21's "late delivery" predicate becomes
"shipped more than K days after the order date", Q9 drops the
supplycost term (revenue-only profit), Q17 keys on brand+size instead
of brand+container, Q22 groups by nationkey instead of phone prefix.
The JOIN/SUBQUERY shapes — which is what these queries exercise — are
unchanged.

Parity discipline (matches plans/analytics_tpch.py): DECIMAL(18,4)
inputs for every revenue/quantity sum, double only at the edge; any
value used in a comparison (Q17's 0.2*avg, Q18's quantity threshold,
Q22's global average) is derived from exact decimal sums so both
engines make identical boundary decisions; dates exit as formatted
strings; every ORDER BY carries a unique tie-break key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import load
from data_pipeline_with_hdfs_sql_integration_spark.registry import query


def _dec(col, scale: int = 4):
    return col.cast(f"decimal(18,{scale})")


_REV = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))"


@query(
    "q3_shipping_priority",
    oracle=f"""
        SELECT l.l_orderkey,
               CAST(sum({_REV.replace('l_', 'l.l_')}) AS DOUBLE) AS revenue,
               strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
               o.o_orderpriority
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1996-06-01 00:00:00'
          AND l.l_shipdate  > TIMESTAMP '1996-06-01 00:00:00'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, l.l_orderkey ASC
        LIMIT 10
    """,
    doc="TPC-H Q3-shaped shipping-priority report: unshipped revenue of "
    "BUILDING-segment orders placed before the cutoff. Both date "
    "predicates reach their scans before the joins; top-10 plans as "
    "TakeOrderedAndProject (no global sort).",
    tags=("tpch", "join"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-06-01 00:00:00").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-06-01 00:00:00").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))).cast("double").alias("revenue"))
        .select(
            "l_orderkey", "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query(
    "q4_order_priority_checks",
    oracle="""
        SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
          AND EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
          )
        GROUP BY o.o_orderpriority
    """,
    doc="TPC-H Q4-shaped priority check: orders with at least one line "
    "shipped >30 days after the order date (this schema's analog of "
    "commitdate<receiptdate). The EXISTS plans as a LeftSemi join — "
    "lineitem is never materialized per order, and the count groups "
    "only surviving orders.",
    tags=("tpch", "subquery"),
)
def q4_order_priority_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


@query(
    "q5_local_supplier_volume",
    oracle=f"""
        SELECT n.n_name AS nation,
               CAST(sum({_REV.replace('l_', 'l.l_')}) AS DOUBLE) AS revenue
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n.n_name
        ORDER BY revenue DESC, nation ASC
    """,
    doc="TPC-H Q5-shaped local-supplier volume: 6-way join where customer "
    "and supplier must share a nation inside one region. nation/region "
    "broadcast; the c_nationkey = s_nationkey equi-condition rides the "
    "supplier join (no post-join filter). One grouped sum per nation.",
    tags=("tpch", "join"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("nation").asc())
    )


@query(
    "q7_volume_shipping",
    oracle=f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
               CAST(sum({_REV.replace('l_', 'l.l_')}) AS DOUBLE) AS volume
        FROM lineitem l
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
        JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
        WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
            OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7-shaped bilateral trade volume: the nation dim joins "
    "TWICE (supplier side and customer side) with a disjunctive pair "
    "filter, grouped by both nations and ship year. Both nation joins "
    "broadcast; the pair predicate is evaluated after the two "
    "broadcasts, never as a cartesian.",
    tags=("tpch", "join"),
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
        | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    )
    return (
        li.join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(s, s.s_suppkey == li.l_suppkey)
        .join(F.broadcast(n1), F.col("n1_key") == s.s_nationkey)
        .join(F.broadcast(n2), F.col("n2_key") == c.c_nationkey)
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))).cast("double").alias("volume"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q8_market_share",
    oracle=f"""
        WITH all_nations AS (
            SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
                   {_REV.replace('l_', 'l.l_')} AS volume,
                   n1.n_name AS nation
            FROM part p
            JOIN lineitem l ON l.l_partkey = p.p_partkey
            JOIN orders o   ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
            JOIN region r   ON r.r_regionkey = n2.n_regionkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
            WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
        )
        SELECT o_year,
               CAST(sum(CASE WHEN nation = 'NATION_1' THEN volume
                             ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                   / CAST(sum(volume) AS DOUBLE) AS mkt_share
        FROM all_nations
        GROUP BY o_year
        ORDER BY o_year
    """,
    doc="TPC-H Q8-shaped market share: one nation's fraction of regional "
    "ECONOMY-part revenue per year. Numerator and denominator are both "
    "exact decimal sums (the conditional branch adds decimal zero, not "
    "double), divided once at the edge — identical FP on both engines.",
    tags=("tpch", "join"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    vol = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    zero = F.lit(0).cast("decimal(18,4)")
    base = (
        p.join(li, li.l_partkey == p.p_partkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n2), F.col("n2_key") == c.c_nationkey)
        .join(F.broadcast(r), r.r_regionkey == F.col("n2_region"))
        .join(s, s.s_suppkey == li.l_suppkey)
        .join(F.broadcast(n1), F.col("n1_key") == s.s_nationkey)
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            vol.alias("volume"),
            "nation",
        )
    )
    return (
        base.groupBy("o_year")
        .agg(
            (
                F.sum(F.when(F.col("nation") == "NATION_1", F.col("volume")).otherwise(zero)).cast("double")
                / F.sum("volume").cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "q9_product_profit",
    oracle=f"""
        SELECT n.n_name AS nation,
               CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
               CAST(sum({_REV.replace('l_', 'l.l_')}) AS DOUBLE) AS profit
        FROM part p
        JOIN lineitem l ON l.l_partkey = p.p_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        WHERE p.p_name LIKE '%widget%'
        GROUP BY nation, o_year
        ORDER BY nation ASC, o_year DESC
    """,
    doc="TPC-H Q9-shaped product profit by supplier nation and year "
    "(supplycost term dropped — no partsupp in this schema). The LIKE "
    "filter prunes part before the fact join; nation broadcasts; the "
    "grouped sum is partial+final.",
    tags=("tpch", "join"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "nation")
    return (
        p.join(li, li.l_partkey == p.p_partkey)
        .join(s, s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))).cast("double").alias("profit"))
        .orderBy(F.col("nation").asc(), F.col("o_year").desc())
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
        WITH pavg AS (
            SELECT l_partkey,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS avg_qty
            FROM lineitem
            GROUP BY l_partkey
        )
        SELECT CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS DOUBLE)
                   AS avg_yearly
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN pavg  ON pavg.l_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#23' AND p.p_size < 15
          AND l.l_quantity < 0.2 * pavg.avg_qty
    """,
    doc="TPC-H Q17-shaped small-quantity revenue: lines below 20% of "
    "their part's average quantity (correlated scalar subquery "
    "expressed as a grouped self-join — one shuffle on l_partkey, no "
    "per-row subquery execution). The average is an exact decimal sum "
    "over count so the 0.2*avg comparison is bit-identical across "
    "engines.",
    tags=("tpch", "subquery"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter((F.col("p_brand") == "Brand#23") & (F.col("p_size") < 15))
    pavg = li.groupBy("l_partkey").agg(
        (F.sum(_dec(F.col("l_quantity"))).cast("double") / F.count("*").cast("double")).alias("avg_qty")
    ).withColumnRenamed("l_partkey", "pa_partkey")
    return (
        li.join(p, p.p_partkey == li.l_partkey)
        .join(pavg, F.col("pa_partkey") == li.l_partkey)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((F.sum(_dec(F.col("l_extendedprice"))).cast("double") / F.lit(7.0)).cast("double").alias("avg_yearly"))
    )


@query(
    "q18_large_volume_customers",
    oracle="""
        SELECT c.c_name, c.c_custkey, o.o_orderkey,
               strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
               CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
               CAST(sum(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        FROM customer c
        JOIN orders o   ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey
            HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 250
        )
        GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
        ORDER BY o_totalprice DESC, o.o_orderkey ASC
        LIMIT 100
    """,
    doc="TPC-H Q18-shaped large-volume customers: orders whose total "
    "quantity exceeds the threshold (exact decimal HAVING — a double "
    "sum would make the cut nondeterministic across partition orders). "
    "The IN becomes a LeftSemi join against the pre-aggregated keys; "
    "top-100 is TakeOrderedAndProject.",
    tags=("tpch", "subquery"),
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec(F.col("l_quantity"))).alias("q"))
        .filter(F.col("q") > F.lit(250).cast("decimal(18,4)"))
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        c.join(o, o.o_custkey == c.c_custkey)
        .join(big, o.o_orderkey == F.col("big_orderkey"), "left_semi")
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(_dec(F.col("l_quantity"))).cast("double").alias("sum_qty"))
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@query(
    "q21_waiting_suppliers",
    oracle="""
        WITH lo AS (
            SELECT l.l_orderkey, l.l_suppkey,
                   CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                        THEN 1 ELSE 0 END AS is_late
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            WHERE o.o_orderstatus = 'F'
        ),
        per_order AS (
            SELECT l_orderkey,
                   count(DISTINCT l_suppkey) AS n_supp,
                   count(DISTINCT CASE WHEN is_late = 1 THEN l_suppkey END) AS n_late_supp
            FROM lo
            GROUP BY l_orderkey
        )
        SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM lo
        JOIN per_order po ON po.l_orderkey = lo.l_orderkey
        JOIN supplier s   ON s.s_suppkey = lo.l_suppkey
        WHERE lo.is_late = 1 AND po.n_supp > 1 AND po.n_late_supp = 1
          AND s.s_nationkey < 5
        GROUP BY s.s_name
        ORDER BY numwait DESC, s.s_name ASC
        LIMIT 20
    """,
    doc="TPC-H Q21-shaped waiting-supplier report: late lines (shipped "
    ">60 days after the order date — this schema's commit/receipt "
    "analog) on finished multi-supplier orders where that supplier was "
    "the ONLY late one. The double correlated EXISTS/NOT EXISTS of the "
    "original is re-expressed as one per-order aggregation (n_supp, "
    "n_late_supp) joined back — a single extra shuffle on the order "
    "key instead of two per-row correlated probes; same semantics, "
    "massively better at 100 TB.",
    tags=("tpch", "subquery"),
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 5)
    lo = (
        li.join(o, o.o_orderkey == li.l_orderkey)
        .select(
            "l_orderkey", "l_suppkey",
            F.when(
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"), 1
            ).otherwise(0).alias("is_late"),
        )
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("is_late") == 1, F.col("l_suppkey"))).alias("n_late_supp"),
    ).withColumnRenamed("l_orderkey", "po_orderkey")
    return (
        lo.filter(F.col("is_late") == 1)
        .join(per_order, F.col("po_orderkey") == F.col("l_orderkey"))
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .join(s, s.s_suppkey == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


@query(
    "q22_global_sales_opportunity",
    oracle="""
        WITH avg_bal AS (
            SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS a
            FROM customer WHERE c_acctbal > 0.0
        )
        SELECT c.c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
               CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
        FROM customer c, avg_bal
        WHERE c.c_acctbal > avg_bal.a
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
        GROUP BY c.c_nationkey
        ORDER BY c.c_nationkey
    """,
    doc="TPC-H Q22-shaped sales opportunity: above-average-balance "
    "customers with no urgent order, grouped by nation (phone-prefix "
    "grouping has no analog column; in this dense synthetic data every "
    "customer has SOME order, so the anti-join keys on urgent orders "
    "to stay discriminating). Scalar subquery broadcasts as a 1-row "
    "cross join; NOT EXISTS plans as a LeftAnti join; the global "
    "average is an exact decimal sum / count so the > cut is identical "
    "on both engines.",
    tags=("tpch", "subquery"),
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg((F.sum(_dec(F.col("c_acctbal"))).cast("double") / F.count("*").cast("double")).alias("a"))
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(o, o.o_custkey == c.c_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(_dec(F.col("c_acctbal"))).cast("double").alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )

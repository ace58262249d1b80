"""Analytics breadth beyond the reference surface: multi-aggregate
group-bys, multi-way joins, window functions, semi/anti joins, set ops,
rollup — the operator families SURVEY.md §2 lists as *explicitly
absent* from the reference, added deliberately so a user gets a
complete engine.

Numeric parity: money sums go through DECIMAL(18,2|4) inputs (exact,
order-independent); averages are computed as exact decimal sum ÷ count
cast to double — never F.avg over raw doubles, whose result depends on
partition merge order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import load
from data_pipeline_with_hdfs_sql_integration_spark.functions import numfns as nf
from data_pipeline_with_hdfs_sql_integration_spark.registry import query


def _sum_dec(col: F.Column, scale: int = 2) -> F.Column:
    return F.sum(col.cast(f"decimal(18,{scale})"))


@query(
    "agg_pricing_summary",
    oracle=f"""
        WITH a AS (
            SELECT l_returnflag, l_linestatus,
                   sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
                   sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sp,
                   sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS sd,
                   sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS sc,
                   count(*) AS n
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        )
        SELECT l_returnflag, l_linestatus,
               CAST(sq AS DOUBLE) AS sum_qty,
               CAST(sp AS DOUBLE) AS sum_base_price,
               {nf.sql_scaled_split_cast_double('sd', 4)} AS sum_disc_price,
               {nf.sql_scaled_split_cast_double('sc', 6)} AS sum_charge,
               CAST(CAST(sq AS DOUBLE) / n AS DOUBLE) AS avg_qty,
               CAST(CAST(sp AS DOUBLE) / n AS DOUBLE) AS avg_price,
               CAST(n AS BIGINT) AS count_order
        FROM a
    """,
    doc="TPC-H Q1-shaped pricing summary: scan-heavy 8-aggregate group-by "
    "on a low-cardinality key. Map-side partial aggregation means the "
    "shuffle carries one row per (flag,status) per task regardless of "
    "fact size. Averages = exact fixed-point sum / count "
    "(order-independent). The money sums accumulate as exact long "
    "cent-grid integers (hi/lo split pairs for the wide scale-4/6 "
    "terms — overflow-safe past sf 10^5) instead of DECIMAL: 2.2x "
    "faster at sf1, value-identical on the cent-grid data model (r13). "
    "The scale-4/6 sums convert to double via the split-cast (numfns): "
    "their UNSCALED integers pass 2^53 at sf1 where the engines' "
    "native decimal→double rounding diverges — caught by the round-7 "
    "sf1 sweep; the scale-2 sums stay below 2^53 through sf~100 and "
    "keep the direct cast.",
    tags=("analytics", "agg"),
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LONG-CENTS formulation (r13, guide §2.3 "narrower types" applied
    # to the aggregation buffers): the DECIMAL(18,x) sums cost 2.2x the
    # whole query at sf1 (same-minutes A/B: 3.21-3.88 s decimal vs
    # 1.57 s long — per-row BigDecimal allocation + Decimal128 adds in
    # the hash aggregate vs codegen long adds). Money is on the cent
    # grid by the data-model invariant (TPC-H and the generator emit
    # whole cents / whole-hundredth rates / whole quantities), so every
    # per-row term is an EXACT integer:
    #   qty*100, price_cents                       (scale 2)
    #   price_cents * (100 - disc_cents)           (scale 4, < 2^31/row)
    #   ... * (100 + tax_cents)                    (scale 6, < 2^38/row)
    # The scale-6 term sum could overflow int64 near sf~100, so the two
    # wide sums accumulate as EXACT hi/lo long pairs split at 2^20
    # (each part sums past sf 10^5 without overflow) and recombine into
    # the true unscaled integer in DECIMAL(38,0) on the 6 OUTPUT rows.
    # From that integer the split-cast double is the byte-identical
    # expression the oracle computes, so parity is unchanged — verified
    # value-identical to the decimal formulation field-by-field at sf1
    # and oracle-green at sf0.001/0.01/0.1/1 (OPTIMIZATION_r13.md);
    # tests/test_numeric_parity.py pins long==decimal on the fixture.
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp")
    )
    qc = nf.cent_grid_long(F.col("l_quantity"))
    pc = nf.cent_grid_long(F.col("l_extendedprice"))
    dc = nf.cent_grid_long(F.col("l_discount"))
    tc = nf.cent_grid_long(F.col("l_tax"))
    sd_term = pc * (100 - dc)
    sc_term = sd_term * (100 + tc)
    lo_mask = F.lit((1 << 20) - 1)
    recombine = "cast({h} as decimal(38,0)) * {two20} + cast({l} as decimal(38,0))"
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qc).alias("sq"),
            F.sum(pc).alias("sp"),
            F.sum(F.shiftright(sd_term, 20)).alias("sd_hi"),
            F.sum(sd_term.bitwiseAND(lo_mask)).alias("sd_lo"),
            F.sum(F.shiftright(sc_term, 20)).alias("sc_hi"),
            F.sum(sc_term.bitwiseAND(lo_mask)).alias("sc_lo"),
            F.count("*").alias("count_order"),
        )
        .withColumn("sd_u", F.expr(recombine.format(h="sd_hi", l="sd_lo", two20=1 << 20)))
        .withColumn("sc_u", F.expr(recombine.format(h="sc_hi", l="sc_lo", two20=1 << 20)))
        .select(
            "l_returnflag",
            "l_linestatus",
            # sum_qty/sum_base_price: the cent sums stay under 2^53
            # through sf~100 per group, where long→double is exact and
            # the single /100.0 is the correctly-rounded value — the
            # same double the decimal cast produced (verified repr-
            # identical at sf1; past 2^53 both engines' native
            # decimal→double forms were already unproven — the scale-2
            # direct cast keeps the round-7 posture unchanged).
            (F.col("sq").cast("double") / 100.0).alias("sum_qty"),
            (F.col("sp").cast("double") / 100.0).alias("sum_base_price"),
            # Scaled split-cast on the exact unscaled integers: these
            # sums' unscaled integers cross 2^53 at sf1, where native
            # decimal→double rounds differently across engines (numfns
            # docstring). Identical arithmetic to the oracle's
            # sql_scaled_split_cast_double.
            nf.unscaled_split_cast_double("sd_u", 4).alias("sum_disc_price"),
            nf.unscaled_split_cast_double("sc_u", 6).alias("sum_charge"),
            ((F.col("sq").cast("double") / 100.0) / F.col("count_order"))
            .cast("double")
            .alias("avg_qty"),
            ((F.col("sp").cast("double") / 100.0) / F.col("count_order"))
            .cast("double")
            .alias("avg_price"),
            F.col("count_order"),
        )
    )


@query(
    "join_revenue_topk",
    oracle="""
        SELECT l.l_orderkey,
               CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
               o.o_orderdate, o.o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """,
    doc="TPC-H Q3-shaped: selective dimension filter → 3-way join → "
    "grouped revenue → top-10. Catalyst pushes c_mktsegment into the "
    "customer scan and broadcasts the filtered side; top-k plans as "
    "TakeOrderedAndProject.",
    tags=("analytics", "join"),
)
def join_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem")
    # Long-cents revenue (r13, same rewrite as agg_pricing_summary):
    # price_cents * (100 - disc_cents) is the exact scale-4 unscaled
    # integer per row; a group is one ORDER (<= 7 lineitems), so the
    # plain long sum stays under 2^36 — exact at every scale, where
    # DECIMAL(18,4) itself would overflow first. double(S)/1e4 is the
    # correctly-rounded value (S < 2^53 always), identical to the
    # oracle's decimal→double cast. §2.3 pre-aggregation below the join
    # was considered and DECLINED: the BUILDING-segment join prunes ~4/5
    # of lineitem before the aggregate; aggregating first would do 5x
    # the aggregation work to save nothing (the join output feeds a
    # map-side partial aggregate already).
    revenue = F.sum(
        nf.cent_grid_long(F.col("l_extendedprice"))
        * (100 - nf.cent_grid_long(F.col("l_discount")))
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((revenue.cast("double") / 10000.0).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query(
    "join_region_revenue",
    oracle="""
        SELECT n.n_name AS nation,
               CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM region r
        JOIN nation n ON n.n_regionkey = r.r_regionkey
        JOIN supplier s ON s.s_nationkey = n.n_nationkey
        JOIN lineitem l ON l.l_suppkey = s.s_suppkey
        WHERE r.r_name = 'ASIA'
        GROUP BY n.n_name
    """,
    doc="TPC-H Q5-shaped star join: region→nation→supplier dimension "
    "chain broadcast against the fact; one shuffle for the final "
    "per-nation aggregate.",
    tags=("analytics", "join"),
)
def join_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation")
    s = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem")
    dims = F.broadcast(
        r.join(n, n.n_regionkey == r.r_regionkey).join(s, s.s_nationkey == n.n_nationkey)
    )
    revenue = _sum_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return (
        li.join(dims, li.l_suppkey == dims.s_suppkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(revenue.cast("double").alias("revenue"))
    )


@query(
    "window_topk_per_group",
    oracle="""
        SELECT * FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
            FROM orders
        ) WHERE rn <= 3
    """,
    doc="Top-k per group via ranking window — the canonical 'latest N per "
    "key' pattern. One shuffle on the partition key; with AQE, skewed "
    "customers split automatically.",
    tags=("analytics", "window"),
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        load(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


@query(
    "window_running_sum",
    oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                    OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend
        FROM orders
    """,
    doc="Running total per customer (frame ROWS UNBOUNDED PRECEDING) — "
    "decimal accumulation keeps the prefix sums exact and "
    "order-independent across engines.",
    tags=("analytics", "window"),
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").alias("running_spend"),
    )


@query(
    "join_semi_anti",
    oracle="""
        SELECT 'with_orders' AS side, CAST(count(*) AS BIGINT) AS n FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        UNION ALL
        SELECT 'without_orders' AS side, CAST(count(*) AS BIGINT) AS n FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="Left-semi (EXISTS) and left-anti (NOT EXISTS) joins — the "
    "filter-by-membership operators every retention/compliance pipeline "
    "needs. Semi/anti ship only the join key, never widen rows.",
    tags=("analytics", "join"),
)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").select("o_custkey")
    semi = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .agg(F.count("*").alias("n"))
        .select(F.lit("with_orders").alias("side"), "n")
    )
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(F.count("*").alias("n"))
        .select(F.lit("without_orders").alias("side"), "n")
    )
    return semi.unionAll(anti)


@query(
    "agg_rollup",
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    doc="ROLLUP hierarchy totals (status → status+priority → grand "
    "total) in a single pass — Spark expands grouping sets map-side, so "
    "the fact is still read once.",
    tags=("analytics", "agg"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            _sum_dec(F.col("o_totalprice")).cast("double").alias("total_spend"),
        )
    )


@query(
    "set_ops_customer_nations",
    oracle="""
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT
        SELECT s_nationkey AS nationkey FROM supplier
        UNION
        SELECT n_nationkey AS nationkey FROM nation WHERE n_regionkey = 0
        EXCEPT
        SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal < -750
    """,
    doc="Set operations (INTERSECT/UNION/EXCEPT) — Spark plans them as "
    "aggregates + joins; distinct-based so each is one hash shuffle.",
    tags=("analytics", "setops"),
)
def set_ops_customer_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    # SQL set-op semantics: INTERSECT binds tightest; UNION/EXCEPT are
    # distinct-based → ((c ∩ s) ∪ n0) ∖ neg, all distinct.
    return (
        c.select(F.col("c_nationkey").alias("nationkey"))
        .intersect(s.select(F.col("s_nationkey").alias("nationkey")))
        .union(n.filter(F.col("n_regionkey") == 0).select(F.col("n_nationkey").alias("nationkey")))
        .distinct()
        .subtract(
            c.filter(F.col("c_acctbal") < -750).select(F.col("c_nationkey").alias("nationkey"))
        )
    )

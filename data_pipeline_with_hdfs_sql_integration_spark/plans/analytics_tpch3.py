"""Third TPC-H batch: Q2/Q11/Q16/Q20 shapes over a DERIVED partsupp.

This star schema has no partsupp table, but lineitem carries both
l_partkey and l_suppkey, so the part↔supplier relation the four
queries exercise is derived once per query:

    ps(ps_partkey, ps_suppkey,
       ps_supplycost = min(l_extendedprice)   -- exact decimal min
       ps_availqty   = sum(l_quantity))       -- exact decimal sum

one shuffle on the (partkey, suppkey) pair. The JOIN/SUBQUERY shapes
— correlated min (Q2), scalar-subquery HAVING (Q11), NOT-IN anti join
+ count distinct (Q16), correlated-aggregate semi join (Q20) — are the
TPC-H shapes unchanged.

Parity discipline (matches plans/analytics_tpch.py): every value used
in a cross-row comparison (Q2's min cost, Q11's value-vs-fraction-of-
total, Q20's quantity-share threshold) is an exact DECIMAL so both
engines make identical boundary decisions; fraction thresholds are
expressed as integer cross-multiplications (v*1000 > total, yr*5 >
all-time) — no float division anywhere near a comparison; doubles only
in the output projection; every ORDER BY carries a unique tie-break.

At scale: ps is a partial+final hash aggregate over the fact table
(map-side combine shrinks it to |part×supp touched|); supplier/nation/
region joins broadcast; Q2's per-part min is a second aggregate on the
already-shuffled ps_partkey key, so AQE coalesces the exchanges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import load
from data_pipeline_with_hdfs_sql_integration_spark.registry import query


def _dec(col, scale: int = 4):
    return col.cast(f"decimal(18,{scale})")


# Derived partsupp CTE shared by the four oracles.
_PS_SQL = """
        SELECT l_partkey AS ps_partkey,
               l_suppkey AS ps_suppkey,
               min(CAST(l_extendedprice AS DECIMAL(18,4))) AS ps_supplycost,
               sum(CAST(l_quantity AS DECIMAL(18,4))) AS ps_availqty
        FROM lineitem
        GROUP BY 1, 2
"""


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived partsupp: one hash-aggregate scan of lineitem."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.min(_dec(F.col("l_extendedprice"))).alias("ps_supplycost"),
        F.sum(_dec(F.col("l_quantity"))).alias("ps_availqty"),
    )


@query(
    "q2_min_cost_supplier",
    oracle=f"""
        WITH ps AS ({_PS_SQL}),
        reg_ps AS (
            SELECT ps.ps_partkey, ps.ps_supplycost,
                   s.s_name, s.s_acctbal, n.n_name
            FROM ps
            JOIN supplier s ON s.s_suppkey   = ps.ps_suppkey
            JOIN nation n   ON n.n_nationkey = s.s_nationkey
            JOIN region r   ON r.r_regionkey = n.n_regionkey
            WHERE r.r_name = 'EUROPE'
        )
        SELECT CAST(rp.s_acctbal AS DOUBLE) AS s_acctbal,
               rp.s_name,
               rp.n_name AS nation,
               p.p_partkey,
               p.p_brand,
               CAST(rp.ps_supplycost AS DOUBLE) AS supplycost
        FROM part p
        JOIN reg_ps rp ON rp.ps_partkey = p.p_partkey
        WHERE p.p_size = 15
          AND rp.ps_supplycost = (
              SELECT min(rp2.ps_supplycost) FROM reg_ps rp2
              WHERE rp2.ps_partkey = p.p_partkey)
        ORDER BY s_acctbal DESC, nation ASC, rp.s_name ASC, p.p_partkey ASC
        LIMIT 100
    """,
    doc="TPC-H Q2-shaped minimum-cost supplier (reference has no "
    "partsupp; derived from lineitem — see module docstring). The "
    "correlated min becomes a grouped re-aggregate of the regional "
    "partsupp joined back on ps_partkey: both aggregates share the "
    "ps_partkey shuffle key, supplier/nation/region broadcast, and the "
    "decimal cost equality is exact in both engines. Top-100 plans as "
    "TakeOrderedAndProject.",
    tags=("tpch", "subquery"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _partsupp(spark, sf_dir)
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    reg_ps = (
        ps.join(F.broadcast(s), s.s_suppkey == ps.ps_suppkey)
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .select("ps_partkey", "ps_supplycost", "s_name", "s_acctbal", "n_name")
    )
    mins = reg_ps.groupBy(F.col("ps_partkey").alias("m_partkey")).agg(
        F.min("ps_supplycost").alias("min_cost")
    )
    return (
        reg_ps.join(F.broadcast(p), p.p_partkey == reg_ps.ps_partkey)
        .join(mins, F.col("m_partkey") == reg_ps.ps_partkey)
        .filter(F.col("ps_supplycost") == F.col("min_cost"))
        .select(
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
            "s_name",
            F.col("n_name").alias("nation"),
            "p_partkey",
            "p_brand",
            F.col("ps_supplycost").cast("double").alias("supplycost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(),
            F.col("nation").asc(),
            F.col("s_name").asc(),
            F.col("p_partkey").asc(),
        )
        .limit(100)
    )


@query(
    "q11_important_parts",
    oracle=f"""
        WITH ps AS ({_PS_SQL}),
        nat_ps AS (
            SELECT ps.ps_partkey, ps.ps_supplycost, ps.ps_availqty
            FROM ps
            JOIN supplier s ON s.s_suppkey   = ps.ps_suppkey
            JOIN nation n   ON n.n_nationkey = s.s_nationkey
            WHERE n.n_name = 'NATION_7'
        )
        SELECT ps_partkey,
               CAST(sum(ps_supplycost * ps_availqty) AS DOUBLE) AS part_value
        FROM nat_ps
        GROUP BY ps_partkey
        HAVING sum(ps_supplycost * ps_availqty) * 1000 > (
            SELECT sum(ps_supplycost * ps_availqty) FROM nat_ps)
        ORDER BY part_value DESC, ps_partkey ASC
    """,
    doc="TPC-H Q11-shaped important-parts report: inventory value per "
    "part for one nation's suppliers, kept when above 1/1000 of that "
    "nation's total — the scalar subquery in HAVING. The threshold is "
    "an integer cross-multiplication of exact decimals (v*1000 > "
    "total), so the cut is bit-identical across engines; the scalar "
    "total broadcasts (one row) rather than re-shuffling.",
    tags=("tpch", "subquery"),
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _partsupp(spark, sf_dir)
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    nat_ps = (
        ps.join(F.broadcast(s), s.s_suppkey == ps.ps_suppkey)
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .select("ps_partkey", (F.col("ps_supplycost") * F.col("ps_availqty")).alias("v"))
    )
    vals = nat_ps.groupBy("ps_partkey").agg(F.sum("v").alias("part_value_dec"))
    total = nat_ps.agg(F.sum("v").alias("total"))
    return (
        vals.crossJoin(F.broadcast(total))
        .filter(F.col("part_value_dec") * 1000 > F.col("total"))
        .select("ps_partkey", F.col("part_value_dec").cast("double").alias("part_value"))
        .orderBy(F.col("part_value").desc(), F.col("ps_partkey").asc())
    )


@query(
    "q16_supplier_part_counts",
    oracle="""
        WITH ps AS (
            SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
            FROM lineitem
        )
        SELECT p.p_brand, p.p_type, p.p_size,
               count(DISTINCT ps.ps_suppkey) AS supplier_cnt
        FROM ps
        JOIN part p ON p.p_partkey = ps.ps_partkey
        WHERE p.p_brand <> 'Brand#13'
          AND p.p_type <> 'MEDIUM'
          AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
          AND ps.ps_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p.p_brand, p.p_type, p.p_size
        ORDER BY supplier_cnt DESC, p.p_brand ASC, p.p_type ASC, p.p_size ASC
    """,
    doc="TPC-H Q16-shaped supplier counts per (brand, type, size), "
    "excluding suppliers in deficit (the NOT IN — s_suppkey is "
    "non-null, so a plain left-anti join is exactly NOT IN here; the "
    "null-aware variant lives in subq_not_in_null_aware). The distinct "
    "pair projection makes the lineitem aggregate purely key-only "
    "(map-side combine, no value columns); part filters broadcast.",
    tags=("tpch", "join"),
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    ps = li.select(
        F.col("l_partkey").alias("ps_partkey"), F.col("l_suppkey").alias("ps_suppkey")
    ).distinct()
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    bad = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        ps.join(F.broadcast(bad), ps.ps_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), p.p_partkey == F.col("ps_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
            F.col("p_size").asc(),
        )
    )


@query(
    "q20_surging_suppliers",
    oracle=f"""
        WITH ps AS ({_PS_SQL}),
        yr AS (
            SELECT l_partkey, l_suppkey,
                   sum(CAST(l_quantity AS DECIMAL(18,4))) AS yr_qty
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY 1, 2
        )
        SELECT s.s_name, CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
        FROM supplier s
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name = 'NATION_3'
          AND s.s_suppkey IN (
              SELECT ps.ps_suppkey
              FROM ps
              JOIN yr ON yr.l_partkey = ps.ps_partkey
                     AND yr.l_suppkey = ps.ps_suppkey
              JOIN part p ON p.p_partkey = ps.ps_partkey
              WHERE p.p_name LIKE 'red%'
                AND yr.yr_qty * 5 > ps.ps_availqty)
        ORDER BY s.s_name ASC
    """,
    doc="TPC-H Q20-shaped correlated-aggregate semi join: suppliers of "
    "one nation who shipped more than 20% of their all-time volume of "
    "red parts during 1997 (the reference's availqty-vs-half-year "
    "comparison, re-aimed so the predicate discriminates on this "
    "schema — all-time sum >= one-year sum makes the original "
    "direction vacuous). Both aggregates share the (partkey, suppkey) "
    "shuffle key; the threshold is an integer cross-multiplication of "
    "exact decimal sums (yr*5 > all_time); the IN becomes a left-semi "
    "join on the deduped candidate suppliers.",
    tags=("tpch", "subquery"),
)
def q20_surging_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    ps = _partsupp(spark, sf_dir)
    yr = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_dec(F.col("l_quantity"))).alias("yr_qty"))
    )
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    cand = (
        ps.join(yr, (yr.l_partkey == ps.ps_partkey) & (yr.l_suppkey == ps.ps_suppkey))
        .join(F.broadcast(p), p.p_partkey == ps.ps_partkey)
        .filter(F.col("yr_qty") * 5 > F.col("ps_availqty"))
        .select("ps_suppkey")
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        s.join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(cand, cand.ps_suppkey == s.s_suppkey, "left_semi")
        .select("s_name", F.col("s_acctbal").cast("double").alias("s_acctbal"))
        .orderBy(F.col("s_name").asc())
    )

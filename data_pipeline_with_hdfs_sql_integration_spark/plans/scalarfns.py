"""Scalar-function breadth: date/time and string expression queries.

The reference's only scalar computation is comparison + mean
(SURVEY.md §2 'explicitly absent' lists string/date/math functions);
these exercise the built-in JVM expression library — every function
here runs inside whole-stage codegen, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import load, run_sql
from data_pipeline_with_hdfs_sql_integration_spark.registry import query


@query(
    "fn_datetime_rollup",
    oracle="""
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
               CAST(EXTRACT(quarter FROM o_orderdate) AS INTEGER) AS qtr,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
               CAST(CAST(sum(CAST(datediff('day', o_orderdate,
                                           TIMESTAMP '1999-01-01 00:00:00') AS BIGINT))
                         AS DOUBLE) / count(*) AS DOUBLE) AS avg_days_to_cutoff,
               CAST(count(DISTINCT date_trunc('month', o_orderdate)) AS BIGINT) AS n_active_months
        FROM orders
        GROUP BY 1, 2
    """,
    doc="Date-function rollup over orders: EXTRACT(year/quarter), "
    "datediff to a fixed cutoff (exact integer days, so the average is "
    "an exact-int sum / count — order-independent), and distinct "
    "date_trunc months. All JVM expressions; the group key is derived "
    "but low-cardinality, so map-side partial aggregation collapses "
    "each task to ~|year×quarter| rows before the shuffle.",
    tags=("functions", "datetime"),
)
def fn_datetime_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    cutoff = F.lit("1999-01-01 00:00:00").cast("timestamp")
    days = F.datediff(cutoff, F.col("o_orderdate")).cast("long")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
            (F.sum(days).cast("double") / F.count("*")).alias("avg_days_to_cutoff"),
            F.countDistinct(F.date_trunc("month", "o_orderdate")).alias("n_active_months"),
        )
    )


@query(
    "fn_string_report",
    oracle="""
        SELECT regexp_extract(p_type, '^(\\w+)', 1) AS type_head,
               upper(p_brand) AS brand_uc,
               CAST(count(*) AS BIGINT) AS n_parts,
               CAST(max(length(p_name)) AS INTEGER) AS max_name_len,
               CAST(sum(CASE WHEN contains(p_name, 'red') THEN 1 ELSE 0 END) AS BIGINT) AS n_red,
               min(concat(p_brand, ':', CAST(p_size AS VARCHAR))) AS min_brand_size
        FROM part
        GROUP BY 1, 2
    """,
    doc="String-function report over part: regexp_extract of the type's "
    "head word, upper, length, contains, concat — grouped per "
    "(type-head, brand). Every function is a codegen'd JVM expression; "
    "regexp patterns compile once per task, not per row.",
    tags=("functions", "string"),
)
def fn_string_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    return (
        p.groupBy(
            F.regexp_extract("p_type", r"^(\w+)", 1).alias("type_head"),
            F.upper("p_brand").alias("brand_uc"),
        )
        .agg(
            F.count("*").alias("n_parts"),
            F.max(F.length("p_name")).cast("int").alias("max_name_len"),
            F.sum(F.when(F.col("p_name").contains("red"), 1).otherwise(0)).alias("n_red"),
            F.min(F.concat_ws(":", "p_brand", F.col("p_size").cast("string"))).alias(
                "min_brand_size"
            ),
        )
    )


@query(
    "fn_collation_ci",
    oracle="""
        WITH m AS (
            SELECT p_partkey,
                   CASE WHEN p_partkey % 3 = 0 THEN upper(p_brand)
                        WHEN p_partkey % 3 = 1 THEN lower(p_brand)
                        ELSE p_brand END AS mixed
            FROM part
        )
        SELECT lower(mixed) AS canon,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT mixed) AS BIGINT) AS n_case_variants
        FROM m
        GROUP BY lower(mixed)
    """,
    doc="Case-insensitive COLLATION (new Spark 4 collation engine): "
    "manufacturer names are deliberately case-mangled, then grouped "
    "under COLLATE UTF8_LCASE — the engine's collation-aware "
    "grouping/equality, not an explicit lower() in the business "
    "logic (though the grouped key is surfaced lowercased so the "
    "result is engine-portable; DuckDB reproduces the semantics with "
    "lower()). n_case_variants counts the distinct raw spellings "
    "each group absorbed — >1 proves the collation actually merged "
    "case variants. At scale collation-aware comparisons stay "
    "codegen'd JVM string ops: no UDF, no normalization pass.",
    tags=("functions", "string", "sql"),
)
def fn_collation_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_sql(
        spark,
        sf_dir,
        """
        WITH m AS (
            SELECT p_partkey,
                   CASE WHEN p_partkey % 3 = 0 THEN upper(p_brand)
                        WHEN p_partkey % 3 = 1 THEN lower(p_brand)
                        ELSE p_brand END AS mixed
            FROM {part}
        ),
        c AS (SELECT mixed, mixed COLLATE UTF8_LCASE AS ci FROM m)
        SELECT lower(ci) AS canon,
               count(*) AS n,
               count(DISTINCT mixed) AS n_case_variants
        FROM c
        GROUP BY ci
        """,
    )


@query(
    "fn_try_semantics",
    oracle="""
        WITH r AS (
            SELECT o_orderkey AS k,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   o_orderkey % 7 AS d
            FROM orders
        )
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) FILTER (d = 0) AS BIGINT) AS n_div_null,
               CAST(sum(CASE WHEN d <> 0 THEN cents // d END) AS BIGINT)
                   AS sum_safe_div,
               CAST(count(*) FILTER (
                   TRY_CAST('v' || CAST(k AS VARCHAR) AS BIGINT) IS NULL
               ) AS BIGINT) AS n_cast_null
        FROM r
    """,
    doc="Error-safe expression family (try_divide / try_cast): "
    "division by a data-derived zero yields NULL instead of an ANSI "
    "error (counted per row), and casting a malformed string yields "
    "NULL instead of failing the job — the semantics that keep a "
    "100 TB pipeline alive when one row in a billion is garbage, "
    "with the damage COUNTED rather than silently absorbed (pair "
    "with format_csv_corrupt_records for the file-level analog). "
    "DuckDB mirrors with TRY_CAST and a guarded CASE; the safe-"
    "division sum is exact integer div on both engines.",
    tags=("functions", "scalar", "cleaning"),
)
def fn_try_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    d = F.col("o_orderkey") % 7
    safe_div = F.expr(
        "try_divide(CAST(round(o_totalprice * 100) AS BIGINT), o_orderkey % 7)"
    )
    bad_cast = F.expr("try_cast(concat('v', CAST(o_orderkey AS STRING)) AS BIGINT)")
    return orders.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(d == 0, 1).otherwise(0)).alias("n_div_null"),
        F.sum(F.floor(safe_div)).cast("long").alias("sum_safe_div"),
        F.sum(F.when(bad_cast.isNull(), 1).otherwise(0)).alias("n_cast_null"),
    )

"""MERGE / upsert semantics on plain parquet tables.

Spark has no MERGE INTO without a transactional table format, but the
semantics — update matched rows, insert unmatched ones, tag the action
— compose from a FULL OUTER join + COALESCE. That is exactly what the
table formats execute underneath; expressing it as a plan keeps it
format-agnostic (write the result back out as the new snapshot, or
feed it to foreachBatch for incremental apply — streaming/sinks.py).

The change set here is derived deterministically from the base table
so the oracle can rebuild it: every customer with c_custkey % 97 == 0
gets +100.00 acctbal (updates), and five synthetic customers with keys
1_000_000+i arrive as inserts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import load
from data_pipeline_with_hdfs_sql_integration_spark.registry import query

UPDATE_MOD = 97
N_INSERTS = 5
INSERT_BASE_KEY = 1_000_000

_SQL_CHANGES = f"""
        changes AS (
            SELECT c_custkey,
                   c_name,
                   CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 100.00 AS DECIMAL(18,2)) AS new_acctbal
            FROM customer WHERE c_custkey % {UPDATE_MOD} = 0
            UNION ALL
            SELECT {INSERT_BASE_KEY} + i,
                   'Customer#new' || CAST(i AS VARCHAR),
                   CAST(500.00 + i AS DECIMAL(18,2))
            FROM generate_series(0, {N_INSERTS - 1}) t(i)
        )
"""


def merge_upsert(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    set_map: dict[str, tuple[str, str]],
) -> DataFrame:
    """FULL OUTER merge: matched → update, change-only → insert,
    base-only → keep; `op` tags each row.

    `set_map` maps each output column to its (changes_col, base_col)
    pair — real MERGE's UPDATE SET / INSERT VALUES lists — so the
    operator works for any table pair, not one hardcoded schema.
    """
    b = base.alias("b")
    c = changes.alias("c")
    joined = b.join(c, F.col(f"b.{key}") == F.col(f"c.{key}"), "full_outer")
    cols = [F.coalesce(F.col(f"b.{key}"), F.col(f"c.{key}")).alias(key)]
    for out, (change_col, base_col) in set_map.items():
        cols.append(
            F.coalesce(F.col(f"c.{change_col}"), F.col(f"b.{base_col}")).alias(out)
        )
    cols.append(
        F.when(F.col(f"b.{key}").isNull(), "insert")
        .when(F.col(f"c.{key}").isNull(), "keep")
        .otherwise("update")
        .alias("op")
    )
    return joined.select(*cols)


@query(
    "merge_upsert_customers",
    oracle=f"""
        WITH {_SQL_CHANGES}
        SELECT COALESCE(b.c_custkey, c.c_custkey) AS c_custkey,
               COALESCE(c.c_name, b.c_name) AS c_name,
               CAST(COALESCE(c.new_acctbal, CAST(b.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal,
               CASE WHEN b.c_custkey IS NULL THEN 'insert'
                    WHEN c.c_custkey IS NULL THEN 'keep'
                    ELSE 'update' END AS op
        FROM customer b FULL OUTER JOIN changes c ON b.c_custkey = c.c_custkey
    """,
    doc="MERGE-semantics upsert without a table format: deterministic "
    "change set (keys %97 updated +100, five synthetic inserts) applied "
    "to customer via FULL OUTER join + COALESCE, each row tagged "
    "update/insert/keep. One shuffle on the merge key; with the change "
    "side small it degrades gracefully to a broadcast-able outer join.",
    tags=("merge", "upsert"),
)
def merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load(spark, sf_dir, "customer")
    updates = base.filter(F.col("c_custkey") % UPDATE_MOD == 0).select(
        "c_custkey",
        "c_name",
        (F.col("c_acctbal").cast("decimal(18,2)") + F.lit(100.00).cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("new_acctbal"),
    )
    inserts = spark.range(N_INSERTS).select(
        (F.lit(INSERT_BASE_KEY) + F.col("id")).alias("c_custkey"),
        F.concat(F.lit("Customer#new"), F.col("id").cast("string")).alias("c_name"),
        (F.lit(500.00) + F.col("id")).cast("decimal(18,2)").alias("new_acctbal"),
    )
    base = base.withColumn("base_bal", F.col("c_acctbal").cast("decimal(18,2)"))
    merged = merge_upsert(
        base,
        updates.unionByName(inserts),
        "c_custkey",
        {"c_name": ("c_name", "c_name"), "acctbal_dec": ("new_acctbal", "base_bal")},
    )
    return merged.select(
        "c_custkey",
        "c_name",
        F.col("acctbal_dec").cast("double").alias("acctbal"),
        "op",
    )


@query(
    "diff_snapshots",
    oracle="""
        WITH v1 AS (
            SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS val
            FROM orders
        ),
        v2 AS (
            SELECT o_orderkey AS k,
                   CAST(o_totalprice + CASE WHEN o_orderkey % 97 = 0
                                            THEN 1000.0 ELSE 0.0 END
                        AS DECIMAL(18,2)) AS val
            FROM orders WHERE o_orderkey % 101 <> 0
            UNION ALL
            SELECT o_orderkey + 1000000000 AS k,
                   CAST(o_totalprice AS DECIMAL(18,2)) AS val
            FROM orders WHERE o_orderkey % 103 = 0
        )
        SELECT CASE WHEN v1.k IS NULL THEN 'added'
                    WHEN v2.k IS NULL THEN 'removed'
                    ELSE 'changed' END AS op,
               COALESCE(v1.k, v2.k) AS k,
               CAST(v1.val AS DOUBLE) AS old_val,
               CAST(v2.val AS DOUBLE) AS new_val
        FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
        WHERE v1.k IS NULL OR v2.k IS NULL OR v1.val <> v2.val
    """,
    doc="Snapshot diff (change-data-capture without a table format): "
    "two versions of a keyed table are FULL-OUTER joined on the key "
    "and every row classified added / removed / changed (value "
    "comparison in exact DECIMAL, so no float-noise phantom diffs); "
    "unchanged rows never leave the join. This is the lakehouse "
    "diff/CDF primitive for plain parquet: one co-partitioned shuffle "
    "join keyed on the primary key — at 100 TB both snapshots bucket "
    "by key (operators/bucketing.py) and the diff becomes "
    "zero-exchange. v2 here is a DETERMINISTIC mutation of v1 "
    "(price bump on key%97, deletes on key%101, re-keyed inserts on "
    "key%103) so both engines derive the identical diff from the "
    "same base table.",
    tags=("merge", "cdc", "diff"),
)
def diff_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    v1 = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("val"),
    )
    v2 = (
        o.filter(F.col("o_orderkey") % 101 != 0)
        .select(
            F.col("o_orderkey").alias("k"),
            (
                F.col("o_totalprice")
                + F.when(F.col("o_orderkey") % 97 == 0, F.lit(1000.0)).otherwise(0.0)
            )
            .cast("decimal(18,2)")
            .alias("val"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 103 == 0).select(
                (F.col("o_orderkey") + F.lit(1_000_000_000)).alias("k"),
                F.col("o_totalprice").cast("decimal(18,2)").alias("val"),
            )
        )
    )
    j = v1.withColumnRenamed("val", "old_val").join(
        v2.withColumnRenamed("val", "new_val"),
        on=(v1.k == v2.k),
        how="full_outer",
    )
    k1, k2 = v1.k, v2.k
    op = (
        F.when(k1.isNull(), F.lit("added"))
        .when(k2.isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
    )
    return (
        j.filter(k1.isNull() | k2.isNull() | (F.col("old_val") != F.col("new_val")))
        .select(
            op.alias("op"),
            F.coalesce(k1, k2).alias("k"),
            F.col("old_val").cast("double").alias("old_val"),
            F.col("new_val").cast("double").alias("new_val"),
        )
    )

"""O10/O11 partition-cache queries (reference CalcAvgLoan protocol).

The create/reuse/recreate ``source`` indicator is observable state, not
SQL — so the full state-machine query is a rows-only check, while the
*values* it must produce (per-key truncated averages) are oracle-checked
by ``o10_partition_cache_values``.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import (
    deterministic_tmp_dir,
    load,
    publish_store,
    table_path,
)
from data_pipeline_with_hdfs_sql_integration_spark.operators.partition_cache import PartitionCache
from data_pipeline_with_hdfs_sql_integration_spark.registry import query

# The 5-county benchmark analog (reference performance_analyzer.py:7).
CACHE_KEYS = [0, 5, 10, 15, 24]
KEY_COL = "c_nationkey"
VALUE_COL = "o_totalprice"


def build_cache(spark: SparkSession, sf_dir: str, cache_root: str | None = None) -> PartitionCache:
    """Main dataset = orders ⨝ customer keyed by nation (county analog).

    The main dataset is MATERIALIZED to parquet once and the cache
    reads that scan — exactly the reference protocol, where DbToHdfs
    writes /hdma-wi-2021.parquet (server.py:44-54) and every CalcAvgLoan
    create-path reads the stored file (server.py:125-127), never the
    source SQL join. Re-deriving the join per cache miss would re-pay
    the whole ETL on every create — at 100 TB the difference between a
    pruned scan and a full join per key. The materialization is keyed
    to the source fixture's identity+version, so regenerated testdata
    can never serve a stale main.
    """
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    # 'cachemainp': Hive-partitioned layout, v2 of the flat 'cachemain'
    # store (new kind => new digest dir, so a stale flat store never
    # serves this layout). Partitioned by key, every create-path scan
    # prunes to its key's directory.
    main_path = deterministic_tmp_dir("cachemainp", table_path(sf_dir, "orders"))
    publish_store(
        main_path,
        lambda staging: orders.join(
            F.broadcast(cust), orders.o_custkey == cust.c_custkey, "inner"
        )
        .write.mode("overwrite")
        .partitionBy(KEY_COL)
        .parquet(staging),
    )
    root = cache_root or tempfile.mkdtemp(prefix="dps_cache_")
    return PartitionCache(spark, main_path, KEY_COL, VALUE_COL, root)


@query(
    "o10_partition_cache_values",
    oracle=f"""
        SELECT c.c_nationkey AS group_key,
               CAST(TRUNC(AVG(o.o_totalprice)) AS INTEGER) AS avg_amount
        FROM orders o INNER JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_nationkey IN ({", ".join(map(str, CACHE_KEYS))})
        GROUP BY c.c_nationkey
    """,
    doc="O10 per-key materialization, value parity: the cache engine's "
    "truncated per-key averages must equal a direct grouped aggregate "
    "(reference server.py:128 vs 109 — same mean either path).",
    tags=("cache", "agg"),
)
def o10_partition_cache_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    cache = build_cache(spark, sf_dir)
    rows = [(r.key, r.avg) for k in CACHE_KEYS for r in [cache.calc_avg(k)] if not r.error]
    return spark.createDataFrame(rows, "group_key int, avg_amount int")


@query(
    "o11_cache_state_machine",
    oracle=None,  # source indicator is engine state, not SQL-expressible
    doc="O11 create/reuse/recreate protocol (reference server.py:103-143): "
    "first call per key → 'create', second → 'reuse'; averages identical "
    "on both paths. Returns (group_key, avg_amount, first_source, "
    "second_source) per benchmark key.",
    tags=("cache",),
)
def o11_cache_state_machine(spark: SparkSession, sf_dir: str) -> DataFrame:
    cache = build_cache(spark, sf_dir)
    rows = []
    for k in CACHE_KEYS:
        first = cache.calc_avg(k)
        second = cache.calc_avg(k)
        rows.append((k, second.avg, first.source, second.source))
    return spark.createDataFrame(
        rows, "group_key int, avg_amount int, first_source string, second_source string"
    )

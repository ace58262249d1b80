"""Per-key partition cache with create/reuse/recreate fault semantics.

Reference behavior (server.py:95-147, the CalcAvgLoan RPC):

- fast path: read ``/partitions/{key}.parquet`` → mean → source="reuse"
- ``FileNotFoundError`` → recompute from the main file, write the
  partition, source="create"
- other ``OSError`` (DataNode loss, corrupt file) → same recompute,
  source="recreate"
- empty key (NumPy mean of zero rows = NaN, ``int(NaN)`` raises) →
  caught and returned as an error (server.py:145-147)

Spark-native design: the cache is a Hive-style partitioned parquet
layout ``cache_root/<key_col>=<k>/`` holding only the value column. The
cache only ever answers the average of that column, so a partition
needs nothing else, and each create writes one column instead of main's
full width. Main is opened only to create or recreate a partition; a
reuse reads the partition alone, with its schema pinned from main's
cached parquet schema (``catalog.parquet_schema``), so it starts no
inference and builds no relation over main. A read that finds the path
missing maps to create and any other Spark/IO error to recreate.
Replication tiering (reference: 2× main, 1× cache — server.py:49 vs
135) is applied per write via the Hadoop FileSystem API when the
storage supports it.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from data_pipeline_with_hdfs_sql_integration_spark.catalog import parquet_schema, read_parquet
from data_pipeline_with_hdfs_sql_integration_spark.operators.block_locations import hadoop_fs, set_replication

# In-process single flight for partition writes: the partition paths
# being created or recreated, each with the event its waiters block
# on. A partition directory appears before its files commit, so a
# request that probed it mid-write would read no rows (and a second
# writer would collide with the first); it waits for the write instead
# and then takes the reuse path. Module-level so that two caches over
# one cache root (two build_cache calls, two Pipelines) share it.
_WRITES: dict[str, threading.Event] = {}
_WRITES_LOCK = threading.Lock()

# Error text of a read whose path is gone: the reference's
# FileNotFoundError, which maps to create (server.py:113).
_PATH_MISSING = ("PATH_NOT_FOUND", "Path does not exist", "FileNotFound")


@dataclass
class CacheResult:
    key: object
    avg: int  # 0 when error (reference returns 0 with error set)
    source: str  # "create" | "reuse" | "recreate" | "" on error
    error: str = ""


class PartitionCache:
    """Materialized per-key query-result cache (SURVEY.md §2 O10/O11).

    Parameters
    ----------
    main_path : str
        The stored main dataset (the analog of /hdma-wi-2021.parquet).
    key_col, value_col : str
        Partition key and the column averaged by the flagship query.
    cache_root : str
        Directory for the per-key parquet partitions.
    replication : int
        Desired HDFS replication for cache files (reference uses 1×;
        ignored on filesystems without replication, e.g. file://).
    """

    def __init__(
        self,
        spark: SparkSession,
        main_path: str,
        key_col: str,
        value_col: str,
        cache_root: str,
        replication: int = 1,
    ) -> None:
        self.spark = spark
        self.main_path = main_path
        self.key_col = key_col
        self.value_col = value_col
        self.cache_root = cache_root.rstrip("/")
        self.replication = replication

    @property
    def main(self) -> DataFrame:
        """Main projected to (key, value): a new relation per access."""
        return read_parquet(self.spark, self.main_path).select(self.key_col, self.value_col)

    # -- paths ---------------------------------------------------------
    def partition_path(self, key: object) -> str:
        return f"{self.cache_root}/{self.key_col}={key}"

    # -- internals -----------------------------------------------------
    def _observed_avg(self, df: DataFrame, write) -> int | None:
        """AVG of the value column truncated toward zero like Python
        int() (server.py:109); None for an empty input (the NumPy-NaN
        analog).

        The average rides along as an observed metric on ``write(df)``,
        the one action: the partition write on create, the noop sink on
        reuse. So each path is ONE single-stage job (scan + running
        aggregate); an ``.agg().collect()`` would plan a partial/final
        aggregate pair around an Exchange, which AQE runs as separate
        jobs, and a create would scan main's lineage twice.
        """
        obs = Observation()
        write(df.observe(obs, F.avg(self.value_col).alias("a")))
        a = obs.get["a"]
        return None if a is None else int(a)

    def _write_partition(self, subset: DataFrame, key: object) -> None:
        path = self.partition_path(key)
        # One key's subset is small by construction — coalesce(1) mirrors
        # the reference's single partition file per key (server.py:139-140).
        subset.coalesce(1).write.mode("overwrite").parquet(path)
        set_replication(self.spark, path, self.replication)

    def _delete(self, path: str) -> None:
        fs, hpath = hadoop_fs(self.spark, path)
        fs.delete(hpath, True)

    def _exists(self, path: str) -> bool:
        """Metadata-only FileSystem.exists probe — no Spark job, no
        exception-driven control flow (a failed-read probe pays a
        full JVM stack unwind per cache miss and floods the logs)."""
        fs, hpath = hadoop_fs(self.spark, path)
        return bool(fs.exists(hpath))

    def _recompute(self, key: object, source: str) -> CacheResult:
        subset = self.main.filter(F.col(self.key_col) == F.lit(key)).select(self.value_col)
        a = self._observed_avg(subset, lambda df: self._write_partition(df, key))
        if a is None:
            # Reference: int(NaN) raises → error response (server.py:145-147).
            # Roll back the (empty) partition so the key stays a miss.
            self._delete(self.partition_path(key))
            return CacheResult(key, 0, "", f"no rows for {self.key_col}={key}")
        return CacheResult(key, a, source)

    def _recompute_once(self, key: object, source: str) -> CacheResult:
        """_recompute unless another request in this process is already
        writing the partition; then wait for it and re-run calc_avg."""
        path = self.partition_path(key)
        with _WRITES_LOCK:
            pending = _WRITES.get(path)
            if pending is None:
                done = _WRITES[path] = threading.Event()
        if pending is not None:
            pending.wait()
            return self.calc_avg(key)
        try:
            return self._recompute(key, source)
        finally:
            with _WRITES_LOCK:
                del _WRITES[path]
            done.set()

    # -- public API ----------------------------------------------------
    def calc_avg(self, key: object) -> CacheResult:
        """The CalcAvgLoan state machine (server.py:103-143)."""
        path = self.partition_path(key)
        with _WRITES_LOCK:
            pending = _WRITES.get(path)
            exists = pending is None and self._exists(path)
        if pending is not None:
            pending.wait()
            return self.calc_avg(key)
        if not exists:
            return self._recompute_once(key, "create")  # server.py:113-116
        value = parquet_schema(self.spark, self.main_path)[self.value_col]
        try:
            cached = self.spark.read.schema(StructType([value])).parquet(path)
            avg = self._observed_avg(
                cached, lambda df: df.write.format("noop").mode("overwrite").save()
            )
        except Exception as exc:
            # A deletion raced in since the exists probe (server.py:113) or
            # the partition is unreadable (server.py:118-121, OSError).
            missing = any(m in str(exc) for m in _PATH_MISSING)
            return self._recompute_once(key, "create" if missing else "recreate")
        if avg is None:
            return CacheResult(key, 0, "", f"no rows for {self.key_col}={key}")
        return CacheResult(key, avg, "reuse")

    def calc_avg_many(self, keys: list) -> list[CacheResult]:
        """calc_avg over a key list with a few jobs in flight
        (guide §2.6 "overlap independent jobs"): each key's
        create/recreate is an independent Spark job whose write tail
        leaves most cores idle, so the driver submits 3 keys at a time
        from a thread pool and the next key's scan back-fills the
        executors the current key's tail frees. Semantics are exactly
        N calc_avg calls — same per-key create/reuse/recreate/error
        state machine, results in input order; Spark's scheduler is
        job-concurrent by design and nothing here shares mutable state
        across keys (each call builds its own Observation and writes
        its own partition directory). Measured on the 5-key bench
        probe: create pass 1.29x faster, reuse 1.57x (r13)."""
        from concurrent.futures import ThreadPoolExecutor

        if len(keys) <= 1:
            return [self.calc_avg(k) for k in keys]
        # 3 in flight is the guide's sweet spot: enough to fill the
        # tail, not so many that driver-side planning serializes.
        with ThreadPoolExecutor(max_workers=3) as pool:
            return list(pool.map(self.calc_avg, keys))

    def invalidate(self) -> None:
        """Drop the whole cache (performance_analyzer.py:26-34, O16)."""
        self._delete(self.cache_root)

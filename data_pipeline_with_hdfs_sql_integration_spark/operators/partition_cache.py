"""Per-key partition cache with create/reuse/recreate fault semantics.

Reference behavior (server.py:95-147, the CalcAvgLoan RPC):

- fast path: read ``/partitions/{key}.parquet`` → mean → source="reuse"
- ``FileNotFoundError`` → recompute from the main file, write the
  partition, source="create"
- other ``OSError`` (DataNode loss, corrupt file) → same recompute,
  source="recreate"
- empty key (NumPy mean of zero rows = NaN, ``int(NaN)`` raises) →
  caught and returned as an error (server.py:145-147)

Layout: a Hive-style partitioned parquet layout ``cache_root/<key_col>=<k>/``
holding only the value column. The cache only ever answers the average
of that column, so a partition needs nothing else, and main is opened
only to create or recreate a partition.

Which engine answers is chosen from the paths' scheme alone:

- Local main and cache root (no scheme, or ``file://``): Arrow on the
  driver, like the reference, and no Spark job. A reuse lists the
  partition and reads the value column of each data file with
  ``pq.ParquetFile(f).read(use_threads=False)``, plus a mean: on a
  partition of a few thousand rows, ``pq.read_table(partition)``'s
  dataset discovery and threaded scanner cost about three times the
  read. A create scans main with ``pyarrow.dataset`` (Hive
  partitioning, so a key-partitioned main prunes to its key's files),
  filters on the key and publishes the partition through
  ``catalog.publish_store``, so a reader sees either no partition or a
  complete one. On a local path Spark's ``local[N]`` executors and
  Arrow's threaded scanner use the same cores, and a Spark job adds
  tens to hundreds of milliseconds of scheduling to a request that
  reads a few megabytes.
- Anything else (hdfs://, s3a://): one Spark job per request. A reuse
  reads the partition alone; a create filters main and writes the
  partition in place with ``mode("overwrite")``.

Reuse memo (Arrow engine only): a published partition never changes
while its files are unchanged, so a reuse takes the partition's
``catalog._listing`` (name, size, ``st_mtime_ns`` and ``st_ino`` of
every data file) before any read and answers the average it stored
under that listing (``catalog.while_listed``); it opens no file and
sends no py4j command. A listing it has not stored takes the read path
above and stores the result. Create and recreate store nothing, and
``invalidate()`` clears the memo. The fault semantics stay the
reference's: a deleted partition lists as None and creates; a file
overwritten with garbage changes size or mtime, so it is read and
recreates; a partition with no data file recreates. The one change the
memo cannot see is bytes rewritten with the same size, mtime and
inode; an Arrow read has no checksum to catch that either. The Spark
engine reads on every request. ``catalog.CACHE_COUNTS`` counts the
outcomes: memo hits, reads, creates, recreates and errors.

Both engines answer Spark's ``avg`` truncated like ``int()``
(server.py:109); ``_arrow_avg`` keeps Spark's decimal rounding. A
partition that is missing maps to create and any other read error to
recreate; a key with no rows is an in-band error and publishes nothing.
Replication tiering (reference: 2× main, 1× cache — server.py:49 vs
135) is applied per write via the Hadoop FileSystem API when the
storage supports it.
"""

from __future__ import annotations

import decimal
import os
import threading
from dataclasses import dataclass
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import (
    CACHE_COUNTS,
    is_complete,
    publish_store,
    read_parquet,
    while_listed,
)
from data_pipeline_with_hdfs_sql_integration_spark.operators.block_locations import hadoop_fs, set_replication

# In-process single flight for partition writes: the partition paths
# being created or recreated, each with the event its waiters block
# on. A Spark-written partition directory appears before its files
# commit, so a request that probed it mid-write would read no rows; it
# waits for the write instead and then takes the reuse path. On either
# engine it keeps concurrent misses of one key to one create.
# Module-level so that two caches over one cache root (two build_cache
# calls, two Pipelines) share it.
_WRITES: dict[str, threading.Event] = {}
_WRITES_LOCK = threading.Lock()

# Error text of a Spark read whose path is gone: the reference's
# FileNotFoundError, which maps to create (server.py:113).
_PATH_MISSING = ("PATH_NOT_FOUND", "Path does not exist", "FileNotFound")


def _local_path(path: str) -> str | None:
    """The filesystem path of a local ``path`` (no scheme, or
    ``file://``); None for any other scheme."""
    url = urlparse(path)
    if url.scheme == "":
        return path
    return url.path if url.scheme == "file" else None


def _arrow_avg(values: pa.ChunkedArray) -> int | None:
    """Spark's ``avg`` of ``values`` truncated like ``int()``; None when
    no value is non-null (the NumPy-NaN analog).

    Spark divides a decimal(p, s) sum exactly and rounds half up to
    scale s + 4: 14.99, 15.00, 15.00 average to 14.996667, so 14.
    Arrow's ``pc.mean`` rounds to scale s (15.00, so 15), so the sum is
    taken exactly and divided in Python's ``decimal``."""
    n = len(values) - values.null_count
    if n == 0:
        return None
    t = values.type
    if not pa.types.is_decimal(t):
        return int(pc.sum(values).as_py() / n)
    total = pc.sum(values.cast(pa.decimal128(38, t.scale))).as_py()
    with decimal.localcontext() as ctx:
        ctx.prec = 80
        mean = (total / n).quantize(decimal.Decimal(1).scaleb(-(t.scale + 4)), decimal.ROUND_HALF_UP)
    return int(mean)


@dataclass
class CacheResult:
    key: object
    avg: int  # 0 when error (reference returns 0 with error set)
    source: str  # "create" | "reuse" | "recreate" | "" on error
    error: str = ""


def _counted(result: CacheResult, outcome: str) -> CacheResult:
    """``result``, with ``outcome`` counted in ``CACHE_COUNTS``."""
    with _WRITES_LOCK:
        CACHE_COUNTS[outcome] += 1
    return result


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
        #: Arrow on the driver answers when main and the cache are local.
        self._local = _local_path(main_path) is not None and _local_path(self.cache_root) is not None
        #: Reuse memo of the Arrow engine: local partition path ->
        #: (listing, average); see the module docstring.
        self._memo: dict[str, tuple] = {}

    @property
    def main(self) -> DataFrame:
        """Main projected to (key, value): a new relation per access."""
        return read_parquet(self.spark, self.main_path).select(self.key_col, self.value_col)

    # -- paths ---------------------------------------------------------
    def partition_path(self, key: object) -> str:
        return f"{self.cache_root}/{self.key_col}={key}"

    # -- internals -----------------------------------------------------
    def _observed_avg(self, df: DataFrame, write) -> int | None:
        """Spark's AVG of the value column truncated toward zero like
        Python int() (server.py:109); None for an empty input (the
        NumPy-NaN analog).

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

    def _read_avg(self, path: str) -> int | None:
        """Average of a stored partition; raises when it is missing
        (FileNotFoundError or Spark's path-not-found) or unreadable."""
        if self._local:
            # Names starting "_" or "." (the completion marker, checksum
            # files) are not data, as for Spark; with no data file,
            # concat_tables raises, so the partition is recreated.
            local = _local_path(path)
            files = sorted(f for f in os.listdir(local) if not f.startswith(("_", ".")))
            table = pa.concat_tables([
                pq.ParquetFile(os.path.join(local, f)).read(columns=[self.value_col], use_threads=False)
                for f in files
            ])
            return _arrow_avg(table[self.value_col])
        cached = self.spark.read.parquet(path).select(self.value_col)
        return self._observed_avg(cached, lambda df: df.write.format("noop").mode("overwrite").save())

    def _delete(self, path: str) -> None:
        fs, hpath = hadoop_fs(self.spark, path)
        fs.delete(hpath, True)

    def _exists(self, path: str) -> bool:
        """Metadata-only probe, no Spark job: a local partition counts
        once ``publish_store`` has marked it complete; any other path
        once ``FileSystem.exists`` sees it."""
        if self._local:
            return is_complete(_local_path(path))
        fs, hpath = hadoop_fs(self.spark, path)
        return bool(fs.exists(hpath))

    def _recompute(self, key: object, source: str) -> CacheResult:
        path = self.partition_path(key)
        if self._local:
            main = ds.dataset(_local_path(self.main_path), format="parquet", partitioning="hive")
            subset = main.to_table(columns=[self.value_col], filter=ds.field(self.key_col) == key)
            avg = _arrow_avg(subset[self.value_col])
            if avg is not None:

                def build(staged: str) -> None:
                    os.makedirs(staged)
                    pq.write_table(subset, os.path.join(staged, "part-00000.parquet"))

                # A recreate replaces a partition that is complete but
                # unreadable, which publish_store would otherwise keep.
                complete = is_complete if source == "create" else (lambda _path: False)
                publish_store(_local_path(path), build, complete=complete)
        else:
            subset = self.main.filter(F.col(self.key_col) == F.lit(key)).select(self.value_col)
            # One key's subset is small by construction — coalesce(1) mirrors
            # the reference's single partition file per key (server.py:139-140).
            avg = self._observed_avg(
                subset, lambda df: df.coalesce(1).write.mode("overwrite").parquet(path)
            )
        if avg is None:
            # Reference: int(NaN) raises → error response (server.py:145-147).
            # Nothing of the key stays behind, so it stays a miss.
            self._delete(path)
            return _counted(CacheResult(key, 0, "", f"no rows for {self.key_col}={key}"), "error")
        set_replication(self.spark, path, self.replication)
        return _counted(CacheResult(key, avg, source), source)

    def _recompute_once(self, key: object, source: str) -> CacheResult:
        """_recompute unless another request in this process is already
        writing the partition; then wait for it and re-run calc_avg. A
        local create first re-probes the partition, so a request whose
        probe or read missed just before another request published it
        answers reuse."""
        path = self.partition_path(key)
        with _WRITES_LOCK:
            pending = _WRITES.get(path)
            published = (
                pending is None and source == "create" and self._local
                and is_complete(_local_path(path))
            )
            if pending is None and not published:
                done = _WRITES[path] = threading.Event()
        if pending is not None:
            pending.wait()
        if pending is not None or published:
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
        outcome = "hit"

        def read() -> int | None:
            nonlocal outcome
            outcome = "read"
            return self._read_avg(path)

        try:
            avg = while_listed(self._memo, _local_path(path), read) if self._local else read()
        except Exception as exc:
            # A deletion raced in since the exists probe (server.py:113) or
            # the partition is unreadable (server.py:118-121, OSError).
            missing = isinstance(exc, FileNotFoundError) or any(m in str(exc) for m in _PATH_MISSING)
            return self._recompute_once(key, "create" if missing else "recreate")
        if avg is None:
            return _counted(CacheResult(key, 0, "", f"no rows for {self.key_col}={key}"), "error")
        return _counted(CacheResult(key, avg, "reuse"), outcome)

    def calc_avg_many(self, keys: list) -> list[CacheResult]:
        """calc_avg over a key list, 3 keys in flight from a thread
        pool. Semantics are exactly N calc_avg calls — same per-key
        create/reuse/recreate/error state machine, results in input
        order; nothing here shares mutable state across keys.

        On the Spark engine (non-local paths) each key's create or
        recreate is an independent Spark job whose write tail leaves
        most cores idle, so the next key's scan back-fills the executors
        the current key's tail frees (guide §2.6 "overlap independent
        jobs"; r13's 5-key bench probe: create pass 1.29x faster, reuse
        1.57x). On the Arrow engine the overlap is only the parquet IO
        and decode, which run outside the GIL."""
        from concurrent.futures import ThreadPoolExecutor

        if len(keys) <= 1:
            return [self.calc_avg(k) for k in keys]
        # 3 in flight is the guide's sweet spot: enough to fill the
        # tail, not so many that driver-side planning serializes.
        with ThreadPoolExecutor(max_workers=3) as pool:
            return list(pool.map(self.calc_avg, keys))

    def invalidate(self) -> None:
        """Drop the whole cache (performance_analyzer.py:26-34, O16)
        and the reuse memo."""
        self._memo.clear()
        self._delete(self.cache_root)

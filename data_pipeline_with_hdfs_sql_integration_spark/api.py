"""Public facade mirroring the reference's three verbs (SURVEY.md §2
API surface: DbToHdfs, BlockLocations, CalcAvgLoan — lender.proto:28-37)
without the gRPC deployment skin.

- ``db_to_store``  ≙ DbToHdfs  (extract → filter/join → parquet sink)
- ``block_report`` ≙ BlockLocations (host → block-count map)
- ``calc_avg``     ≙ CalcAvgLoan (partition-cache-accelerated average)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import row_count
from data_pipeline_with_hdfs_sql_integration_spark.operators.block_locations import (
    block_histogram_dict,
    set_replication,
)
from data_pipeline_with_hdfs_sql_integration_spark.operators.partition_cache import CacheResult, PartitionCache
from data_pipeline_with_hdfs_sql_integration_spark.operators.retry import with_retry


@dataclass
class Pipeline:
    """One engine instance bound to a main dataset + cache location."""

    spark: SparkSession
    main_path: str
    cache_root: str
    key_col: str
    value_col: str
    main_replication: int = 2
    cache_replication: int = 1
    #: When set (e.g. ``http://namenode:9870``), ``block_report`` uses
    #: the WebHDFS REST protocol — the reference's actual wire path
    #: (server.py:72) — instead of the Hadoop FileSystem JVM API.
    webhdfs_url: str | None = None
    #: The partition cache over ``main_path``, held for the engine's
    #: life; it opens main only to create a partition.
    cache: PartitionCache = field(init=False, repr=False)

    def __post_init__(self) -> None:
        self.cache = PartitionCache(
            self.spark,
            self.main_path,
            self.key_col,
            self.value_col,
            self.cache_root,
            replication=self.cache_replication,
        )

    def db_to_store(
        self,
        source: DataFrame,
        band_col: str | None = None,
        band: tuple[float, float] | None = None,
        dim: DataFrame | None = None,
        join_on=None,
        attempts: int = 5,
        sleep_s: float = 10.0,
    ) -> str:
        """Extract → optional broadcast join → band filter → parquet sink.

        Returns the row-count status string like reference server.py:57-58.
        Retries the whole job like server.py:25-27/61-68 (O14). Main is
        stored at ``main_replication`` (reference: 2x, server.py:49).
        """

        def run() -> str:
            df = source
            if dim is not None:
                df = df.join(F.broadcast(dim), join_on, "inner")
            if band_col is not None and band is not None:
                lo, hi = band
                df = df.filter((F.col(band_col) > lo) & (F.col(band_col) < hi))
            df.write.mode("overwrite").parquet(self.main_path)
            set_replication(self.spark, self.main_path, self.main_replication)
            n = row_count(self.spark, self.main_path)
            return f"Imported {n} rows to {self.main_path}"

        return with_retry(run, attempts=attempts, sleep_s=sleep_s)

    def block_report(self, path: str | None = None) -> dict[str, int]:
        """Host → block-count map (BlockLocations, lender.proto:32-33).

        Two interchangeable backends with identical flattening
        semantics (one count per replica host per block): the WebHDFS
        REST client when ``webhdfs_url`` is configured (wire parity
        with reference server.py:70-87), else the Hadoop FileSystem
        JVM API (works for file:// / s3a:// where no NameNode REST
        endpoint exists)."""
        if self.webhdfs_url:
            from data_pipeline_with_hdfs_sql_integration_spark.sources.webhdfs import block_histogram

            return block_histogram(self.webhdfs_url, path or self.main_path)
        return block_histogram_dict(self.spark, path or self.main_path)

    def calc_avg(self, key: object) -> CacheResult:
        return self.cache.calc_avg(key)

    def invalidate_cache(self) -> None:
        """Drop the whole partition cache; main is not read."""
        self.cache.invalidate()

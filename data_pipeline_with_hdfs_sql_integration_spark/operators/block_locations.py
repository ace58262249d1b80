"""Storage introspection: block/file → host histogram.

Reference behavior (server.py:70-93): WebHDFS GETFILEBLOCKLOCATIONS,
flatten each block's host list, count blocks per DataNode host.

Spark-native version: Hadoop ``FileSystem.getFileBlockLocations`` via
the JVM gateway — works uniformly for file://, hdfs://, s3a://. The
listing is already on the driver, so the count is a plain Python loop
like the reference's; no Spark job runs.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession


def hadoop_fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path`` under the session's
    Hadoop configuration."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def block_locations(spark: SparkSession, path: str) -> list[dict]:
    """Per-block host lists for every file under ``path``.

    Returns [{"file": str, "offset": int, "length": int, "hosts": [str]}].
    """
    fs, hpath = hadoop_fs(spark, path)
    out: list[dict] = []
    stack = [hpath]
    while stack:
        p = stack.pop()
        st = fs.getFileStatus(p)
        if st.isDirectory():
            for child in fs.listStatus(p):
                stack.append(child.getPath())
            continue
        for blk in fs.getFileBlockLocations(st, 0, st.getLen()):
            out.append(
                {
                    "file": st.getPath().toString(),
                    "offset": blk.getOffset(),
                    "length": blk.getLength(),
                    "hosts": list(blk.getHosts()),
                }
            )
    return out


def host_counts(blocks: Iterable[dict]) -> dict[str, int]:
    """Host → block count, one count per replica host per block
    (reference server.py:80-87)."""
    return dict(Counter(host for b in blocks for host in b["hosts"]))


def block_histogram_dict(spark: SparkSession, path: str) -> dict[str, int]:
    """The reference's map<string,int32> response shape (lender.proto:10)."""
    return host_counts(block_locations(spark, path))


def block_location_histogram(spark: SparkSession, path: str) -> DataFrame:
    """Host → block-count map (reference server.py:80-89) as a DataFrame."""
    return spark.createDataFrame(
        list(block_histogram_dict(spark, path).items()), "host string, n_blocks bigint"
    )

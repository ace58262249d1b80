"""SparkSession factory tuned for the engine.

Local testing runs on local[N]; the same configs are the ones that
matter on a multi-executor cluster (AQE, skew-join handling,
partition sizing, Arrow for the Pandas-UDF slow path).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime (session-mutable) confs every query assumes. Applied at build
#: time and by the registry before every query call (registry.query),
#: because a caller may hand us a session we didn't build. Query bodies
#: never set a conf on the session they are given: concurrent queries
#: share it. A body that needs tuned confs builds on `child_session`.
RUNTIME_CONFS = {
    # Deterministic timestamp semantics vs the DuckDB oracle (UTC-naive).
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime coalescing, skew-join splitting, plan re-opt. Critical
    # at 100 TB where static shuffle-partition counts are always wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for the few Pandas-UDF code paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet scan pushdown (defaults, pinned explicitly).
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Runtime row-level filtering: build a bloom filter from the small
    # side of a selective join and push it into the big side's scan —
    # at 100 TB this skips row groups a static plan can't.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Dynamic partition pruning (default on; pinned — it is the whole
    # point of the partitioned layouts in plans/analytics_extra.py).
    "spark.sql.optimizer.dynamicPartitionPruning.enabled": "true",
    # A legacy TIMESTAMP(NANOS) column reads as long instead of erroring
    # (catalog.normalize_events_ts converts it).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Spark's default INT96 timestamps carry no parquet footer stats;
    # MICROS (what Delta writes) do, so txlog tables can data-skip on
    # timestamp columns. Spark has no per-write option for it.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


#: Parent dir of the vendored `google.protobuf` alias shim
#: (_vendor/google/__init__.py) that satisfies the
#: transformWithStateInPandas worker's protobuf import from the host's
#: google-cloud-sdk copy. See the shim's docstring for the mechanism.
TWS_VENDOR_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_vendor")


def tws_ready(spark: SparkSession) -> bool:
    """True when transformWithStateInPandas can run in this
    environment; as a side effect, wires the vendored protobuf shim
    into the streaming Python worker's path.

    The worker is a fresh Python process needing `google.protobuf`
    (absent as a wheel here — no network; probed rounds 2/5/6). Round
    7 found a complete pure-Python protobuf runtime vendored inside
    the host google-cloud-sdk and aliased it via _vendor/google.
    Worker visibility: entries in `sc.environment` are forwarded into
    the spawned worker's env (verified empirically — setting it AFTER
    session build still reaches the worker), so no driver-env control
    is required. Returns False (callers keep their gate) when the
    cloud-sdk runtime is missing."""
    try:
        import sys

        if TWS_VENDOR_DIR not in sys.path:
            sys.path.insert(0, TWS_VENDOR_DIR)
        import google.protobuf  # noqa: F401  (the alias shim)
        from google.protobuf import descriptor  # noqa: F401
    except Exception:
        return False
    current = os.environ.get("PYTHONPATH", "")
    if TWS_VENDOR_DIR not in current.split(os.pathsep):
        current = os.pathsep.join(p for p in (TWS_VENDOR_DIR, current) if p)
        os.environ["PYTHONPATH"] = current
    spark.sparkContext.environment["PYTHONPATH"] = current
    return True


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Set session-mutable confs on an externally-built session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — builder already set it
    return spark


def child_session(spark: SparkSession, tuned: dict[str, str]) -> SparkSession:
    """A new session on `spark`'s SparkContext with `spark`'s modifiable
    confs plus `tuned`. It has its own confs and temp views, so a query
    that needs tuned confs runs on it and the shared session never sees
    them. The copy is needed: a child starts from the builder confs only."""
    child = spark.newSession()
    confs = {k: v for k, v in spark.conf.getAll.items() if spark.conf.isModifiable(k)}
    for k, v in {**confs, **tuned}.items():
        child.conf.set(k, v)
    return child


def get_spark(app_name: str = "data_pipeline_with_hdfs_sql_integration_spark", shuffle_partitions: int | None = None) -> SparkSession:
    n = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # 128 MB input splits: the right default for large parquet scans.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Whole-stage-codegen source cache (static conf, default 100
        # entries): a session running this engine's full query surface
        # compiles hundreds of distinct codegen stages, and at 100
        # entries every re-run recompiles (janino, ~100-500 ms/stage)
        # instead of hitting the cache — measured as a session-wide
        # slowdown once the registry outgrew the default.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    )
    # Comma-separated JDBC driver jars for sources/jdbc.py: a
    # deployment setting (e.g. the MySQL connector's path).
    jars = os.environ.get("SPARK_GRAFT_JDBC_JARS")
    if jars:
        builder = builder.config("spark.jars", jars)
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)

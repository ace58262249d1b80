"""SparkSession factory tuned for the engine.

Local testing runs on local[N]; the same configs are the ones that
matter on a multi-executor cluster (AQE, skew-join handling,
partition sizing, Arrow for the Pandas-UDF slow path).

`get_spark` starts the driver JVM from a class-data-sharing archive
of the classes an earlier session loaded, recorded and built by the
first session for this JDK and Spark classpath (`_archive_plan`).
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import shutil
import subprocess
import weakref

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
    # String case mapping (lower, upper) is the JVM's, as in Spark 3.5,
    # not ICU's: the first ICU call in a JVM builds a title-case table
    # over every code point (~1.5 s of the tokenizer's first pass over
    # sf0.01 documents). ASCII maps the same either way.
    "spark.sql.icu.caseMappings.enabled": "false",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


#: Parent dir of the vendored `google.protobuf` alias shim
#: (_vendor/google/__init__.py) that satisfies the
#: transformWithStateInPandas worker's protobuf import from the host's
#: google-cloud-sdk copy. See the shim's docstring for the mechanism.
TWS_VENDOR_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_vendor")


#: Dir of the Python worker daemon module `spark_graft_daemon`, which
#: imports pyspark from site-packages rather than Spark's pyspark.zip
#: (see its docstring). A dir of its own, not a package: `python -m`
#: must not run this package's __init__.
WORKER_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_worker")


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
    # Merge: the worker env may already name WORKER_DIR (get_spark).
    env = spark.sparkContext.environment
    entries = [*current.split(os.pathsep), *env.get("PYTHONPATH", "").split(os.pathsep)]
    env["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(p for p in entries if p))
    return True


# The conf string (``conf_fingerprint``) each session had after its
# last ``apply_runtime_confs``.
_APPLIED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def conf_fingerprint(spark: SparkSession) -> str:
    """Every conf of `spark` as one string, read in one JVM call
    (``spark.conf.getAll`` converts the map key by key: ~130 ms)."""
    return spark._jsparkSession.conf().getAll().toString()


def apply_runtime_confs(spark: SparkSession) -> str:
    """Set RUNTIME_CONFS on a session we may not have built and return
    its ``conf_fingerprint``. The keys are set again only when the
    confs differ from the ones this session had after its last apply,
    so a conf changed in between is reset."""
    confs = conf_fingerprint(spark)
    if _APPLIED.get(spark) == confs:
        return confs
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — builder already set it
    confs = conf_fingerprint(spark)
    _APPLIED[spark] = confs
    return confs


def child_session(spark: SparkSession, tuned: dict[str, str]) -> SparkSession:
    """A clone of `spark` (its confs, on its SparkContext) with `tuned`
    set. It has its own confs and temp views, so a query that needs
    tuned confs runs on it and the shared session never sees them."""
    child = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    for k, v in tuned.items():
        child.conf.set(k, v)
    return child


def _archive_key(java: str, spark_home: str) -> str:
    """Names the archive after what it is valid for: the JDK (its
    launcher path and module image) and the Spark classpath the
    launcher builds (every jar's name, size and mtime, plus the
    environment entries the launcher appends)."""
    jdk = os.path.dirname(os.path.dirname(java))
    parts = [java]
    for p in [os.path.join(jdk, "lib", "modules"), *sorted(glob.glob(os.path.join(spark_home, "jars", "*")))]:
        st = os.stat(p)
        parts.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
    parts += [os.environ.get(v, "") for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")]
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]


def _archive_plan():
    """The class-data-sharing plan for the driver JVM about to start:
    `(java options, empty conf dir, recorder)`, or None to launch it
    as is. With an archive for this JDK and classpath, the JVM maps
    its pre-parsed classes; without one, the first session to claim
    the class list (O_EXCL) records the classes it loads, and
    `recorder` is `(java, class list, archive)` for `_build_archive`.

    JDK 17 neither dumps nor shares an archive whose classpath holds a
    non-empty directory, and the launcher puts the conf dir on it: so
    the JVM gets an empty conf dir, and a conf dir holding anything but
    `*.template` files means no archive."""
    from pyspark.find_spark_home import _find_spark_home

    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not java or not os.path.isfile(java):
        return None
    java = os.path.realpath(java)
    spark_home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf) and not all(n.endswith(".template") for n in os.listdir(conf)):
        return None
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    root = os.path.join(cache, "spark-graft")
    try:
        empty_conf = os.path.join(root, "conf")
        os.makedirs(empty_conf, exist_ok=True)
        key = os.path.join(root, _archive_key(java, spark_home))
        if os.path.isfile(f"{key}.jsa"):
            return f"-XX:SharedArchiveFile={key}.jsa -Xlog:cds=off", empty_conf, None
        os.close(os.open(f"{key}.classlist", os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644))
    except OSError:
        return None  # no cache dir, or another session records
    return (f"-XX:DumpLoadedClassList={key}.classlist -Xlog:cds=off", empty_conf,
            (java, f"{key}.classlist", f"{key}.jsa"))


@contextlib.contextmanager
def _driver_jvm_env():
    """Sets the driver JVM's launch environment for `_archive_plan` while
    a new gateway starts, restores it afterwards and yields the plan's
    recorder (None when there is nothing to record)."""
    from pyspark import SparkContext

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        yield None  # the JVM is already running
        return
    plan = _archive_plan()
    if plan is None:
        yield None
        return
    opts, conf_dir, recorder = plan
    saved = {k: os.environ.get(k) for k in ("SPARK_SUBMIT_OPTS", "SPARK_CONF_DIR")}
    # SPARK_SUBMIT_OPTS reaches the driver JVM (beside any
    # --driver-java-options in PYSPARK_SUBMIT_ARGS), not the launcher's.
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(filter(None, (saved["SPARK_SUBMIT_OPTS"], opts)))
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        yield recorder
    except BaseException:
        if recorder is not None:
            with contextlib.suppress(OSError):
                os.remove(recorder[1])  # let a later session record
        raise
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def _build_archive(proc, java: str, classpath: str, classlist: str, archive: str) -> None:
    """At exit: end the recording JVM (stop the context so Python's
    accumulator server goes first; closing its stdin makes the gateway
    exit), then dump its class list into a private
    `<archive>.build-<pid>` and rename it into place only when the dump
    succeeded. The JVM maps nothing else, because a truncated archive
    crashes it."""
    if proc.poll() is None:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            with contextlib.suppress(Exception):
                SparkContext._active_spark_context.stop()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            return
    staged = f"{archive}.build-{os.getpid()}"
    try:
        done = subprocess.run(
            [java, "-Xshare:dump", f"-XX:SharedClassListFile={classlist}",
             f"-XX:SharedArchiveFile={staged}", "-cp", classpath],
            stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            timeout=600,
        )
        if done.returncode == 0:
            os.rename(staged, archive)
    except (OSError, subprocess.TimeoutExpired):
        pass
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.remove(staged)


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
        # PySpark's per-call origin capture: every Column and functions
        # call otherwise adds ~8 py4j round trips and a Python stack walk
        # (a warm agg_pricing_summary build sends 877 commands with it,
        # 247 without). PySpark reads this once per process, so it takes
        # effect only at session build. Analysis errors then carry no
        # Python call site.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Python workers import pyspark compiled, not from pyspark.zip:
        # a fresh session's first mapInPandas took 2.0-2.2 s instead of
        # 3.1-3.3 s on a 4-core host.
        .config("spark.python.daemon.module", "spark_graft_daemon")
        .config("spark.executorEnv.PYTHONPATH", WORKER_DIR)
    )
    # Comma-separated JDBC driver jars for sources/jdbc.py: a
    # deployment setting (e.g. the MySQL connector's path).
    jars = os.environ.get("SPARK_GRAFT_JDBC_JARS")
    if jars:
        builder = builder.config("spark.jars", jars)
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    with _driver_jvm_env() as recorder:
        spark = builder.getOrCreate()
    if recorder is not None:
        java, classlist, archive = recorder
        classpath = spark._jvm.System.getProperty("java.class.path")
        atexit.register(_build_archive, spark.sparkContext._gateway.proc, java, classpath, classlist, archive)
    spark.sparkContext.setLogLevel("WARN")
    apply_runtime_confs(spark)
    return spark

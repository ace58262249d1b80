"""Table catalog over the driver's parquet star schema.

The reference infers schemas end-to-end (SURVEY.md §1.3); we do the
same — parquet is self-describing — but pin the table *names* so every
query addresses tables identically to the DuckDB oracle views.

Every parquet read of a table, a derived store or the serve path's
main goes through ``read_parquet``, which takes its schema from
``parquet_schema``. That infers each path's schema once per session,
since plans load the same tables many times per build. A local path's
schema comes from one parquet footer read on the driver
(``_footer_schema``, 1-3 ms); a path it cannot type exactly
(Hive-partitioned directories, nested or unusual column types) is
inferred by Spark, which costs a Spark job and 100+ ms.

- Key: (applicationId, absolute path), holding the listing
  fingerprint the schema was inferred under — the relative path,
  ``st_mtime_ns`` and size of every data file (``_listing``) — plus the
  parquet confs that change inference. A read whose fingerprint or
  confs differ (the path was rewritten) re-infers and replaces it.
- Value: the schema, never a DataFrame. Every read is
  ``spark.read.schema(s).parquet(path)`` — a fresh relation with fresh
  expression IDs, so two loads of one table still self-join.
- Entries of other applicationIds (a restarted session) are evicted
  on access, as in ``memo_persist``; a lock guards the dict.
- Non-local paths (hdfs://, s3a://...) have no driver-side listing and
  infer on every call.

Every derived directory a plan builds (index stores, layout copies,
transaction-log tables, the serve path's main) is published by
``publish_store``: the build writes a private directory, and
``publish_store`` alone writes the ``_SUCCESS`` marker and renames it
into place. Plan code never names the marker; it reads the published
store back through ``read_parquet``.
"""

from __future__ import annotations

import json
import os
import string
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _listing(path: str) -> list[tuple[str, int, int]] | None:
    """(relative path, size, st_mtime_ns) of every data file under a
    local parquet path, from the driver's file listing — no Spark job.
    Names starting with ``_`` or ``.`` (_SUCCESS, .crc) are skipped.
    None for non-local paths (hdfs://, s3a://...)."""
    if os.path.isdir(path):
        out = []
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                full = os.path.join(root, f)
                try:
                    st = os.stat(full)
                except FileNotFoundError:  # removed mid-walk by a writer
                    continue
                out.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
        return sorted(out)
    try:
        st = os.stat(path)
    except OSError:
        return None
    return [("", st.st_size, st.st_mtime_ns)]


# Confs that change what parquet schema inference returns, with Spark's
# defaults; a change re-infers like a rewrite does.
_INFERENCE_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "false",
    "spark.sql.parquet.binaryAsString": "false",
    "spark.sql.parquet.int96AsTimestamp": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    "spark.sql.parquet.mergeSchema": "false",
}
_SCHEMAS: dict[tuple, tuple] = {}
_SCHEMAS_LOCK = threading.Lock()

# The Spark schema a Spark writer stores in the footer's key-value metadata.
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def inference_confs(spark: SparkSession) -> dict[str, str]:
    """`spark`'s value of each of ``_INFERENCE_CONFS``, lowercased."""
    return {c: str(spark.conf.get(c, d)).lower() for c, d in _INFERENCE_CONFS.items()}


def _max_decimal_digits(physical: str, length: int) -> int:
    """Spark's precision limit for a parquet DECIMAL stored as `physical`
    (0: Spark does not read it as a decimal)."""
    if physical == "FIXED_LEN_BYTE_ARRAY":
        return min(38, len(str(2 ** (8 * length - 1) - 1)) - 1)
    return {"INT32": 9, "INT64": 18, "BYTE_ARRAY": 38}.get(physical, 0)


def _column_type(column, confs: dict[str, str]):
    """The Spark type Spark's parquet schema converter gives a flat
    column, or None when the type is outside the types mapped here
    (INT96, nanosecond or time-of-day values, unsigned ints, UUID,
    JSON, ...)."""
    from pyspark.sql import types as T

    physical = column.physical_type
    logical = json.loads(column.logical_type.to_json())
    kind = logical["Type"]
    if kind == "Decimal":
        precision, scale = logical["precision"], logical["scale"]
        if 1 <= precision <= _max_decimal_digits(physical, column.length):
            return T.DecimalType(precision, scale)
        return None
    if kind == "None":
        plain = {"BOOLEAN": T.BooleanType(), "INT32": T.IntegerType(), "INT64": T.LongType(),
                 "FLOAT": T.FloatType(), "DOUBLE": T.DoubleType()}
        if physical == "BYTE_ARRAY":
            as_string = confs["spark.sql.parquet.binaryAsString"] == "true"
            return T.StringType() if as_string else T.BinaryType()
        return plain.get(physical)
    if kind == "String" and physical == "BYTE_ARRAY":
        return T.StringType()
    if kind == "Date" and physical == "INT32":
        return T.DateType()
    if kind == "Int" and logical["isSigned"]:
        ints = {("INT32", 8): T.ByteType(), ("INT32", 16): T.ShortType(),
                ("INT32", 32): T.IntegerType(), ("INT64", 64): T.LongType()}
        return ints.get((physical, logical["bitWidth"]))
    if kind == "Timestamp" and physical == "INT64" and logical["timeUnit"] in ("milliseconds", "microseconds"):
        ntz = confs["spark.sql.parquet.inferTimestampNTZ.enabled"] == "true"
        return T.TimestampNTZType() if ntz and not logical["isAdjustedToUTC"] else T.TimestampType()
    return None


def _footer_schema(path: str, listing, confs: dict[str, str]) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` infers, built on the
    driver from one footer: the first data file in path order, the one
    Spark reads when schemas are not merged. None when only Spark can
    answer: merged schemas, summary files, subdirectories (Hive
    partitions), an unreadable footer, a nested column, a type
    ``_column_type`` does not map, or a Spark schema in the footer
    that differs from the mapped one (field metadata, char/varchar).
    Every field is nullable, as Spark makes a file source's schema."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructField

    if confs["spark.sql.parquet.mergeSchema"] == "true" or not listing:
        return None
    names = [f for f, _size, _m in listing]
    if any(os.sep in f for f in names):
        return None
    if any(os.path.exists(os.path.join(path, n)) for n in ("_metadata", "_common_metadata")):
        return None
    try:
        md = pq.read_metadata(os.path.join(path, names[0]) if names[0] else path)
    except (OSError, ValueError):  # Spark reports what is wrong with the file
        return None
    fields = []
    for i in range(md.num_columns):
        column = md.schema.column(i)
        # A nested column's path also names its parents; a repeated
        # top-level column reads as an array.
        flat = column.path == column.name and column.max_repetition_level == 0
        spark_type = _column_type(column, confs) if flat else None
        if spark_type is None:
            return None
        fields.append(StructField(column.name, spark_type, True))
    schema = StructType(fields)
    stored = (md.metadata or {}).get(_SPARK_ROW_METADATA)
    if stored is not None:
        try:
            written = StructType.fromJson(json.loads(stored)).fields
        except (ValueError, KeyError, TypeError):  # a schema pyspark cannot parse
            return None
        if [StructField(f.name, f.dataType, True, f.metadata) for f in written] != schema.fields:
            return None
    return schema


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """A parquet path's schema, inferred once per session and listing
    fingerprint (see the module docstring): from the footer when
    ``_footer_schema`` can, else by Spark. Inference runs outside the
    lock: concurrent cold calls for one path each infer, and the last
    insert wins."""
    listing = _listing(path)
    if listing is None:
        return spark.read.parquet(path).schema
    key = (spark.sparkContext.applicationId, os.path.abspath(path))
    confs = inference_confs(spark)
    version = (tuple(listing), tuple(confs.values()))
    with _SCHEMAS_LOCK:
        for k in [k for k in _SCHEMAS if k[0] != key[0]]:
            del _SCHEMAS[k]
        seen_version, schema = _SCHEMAS.get(key, (None, None))
    if seen_version == version:
        return schema
    schema = _footer_schema(path, listing, confs) or spark.read.parquet(path).schema
    with _SCHEMAS_LOCK:
        _SCHEMAS[key] = (version, schema)
    return schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema from
    ``parquet_schema``: a fresh relation that infers nothing."""
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        return load_events(spark, sf_dir)
    return read_parquet(spark, table_path(sf_dir, name))


def _conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    """A byte-size conf ('134217728', '134217728b', '128MB', ...) as int."""
    import re

    try:
        raw = spark.conf.get(key)
    except Exception:
        return default
    m = re.fullmatch(r"\s*(\d+)\s*([kmgtp]?b?)\s*", str(raw), re.IGNORECASE)
    if not m:
        return default
    mult = {"": 1, "b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}
    return int(m.group(1)) * mult[m.group(2).lower().rstrip("b")]


def _estimated_scan_splits(spark: SparkSession, path: str) -> int:
    """Driver-side estimate of the scan's partition count from the file
    listing alone — no plan-to-RDD conversion, no job. Mirrors Spark's
    FilePartition bin-packing: files are chunked at maxPartitionBytes
    and packed with an openCostInBytes surcharge per chunk, and a
    partition never holds less than one chunk."""
    listing = _listing(path)
    if listing is None:  # non-local path (hdfs://, s3://...) — let Spark answer
        return -1
    max_bytes = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
    open_cost = _conf_bytes(spark, "spark.sql.files.openCostInBytes", 4 << 20)
    total = sum(size for _f, size, _m in listing)
    chunks = sum(max(1, -(-size // max_bytes)) for _f, size, _m in listing)
    return max(1, min(chunks, -(-(total + chunks * open_cost) // max_bytes)))


def table_on_disk_bytes(sf_dir: str, name: str) -> int:
    """On-disk parquet size of a table from the driver's file listing —
    no Spark job. Returns -1 for non-local paths (hdfs://, s3://...),
    where the caller must NOT assume 'small'."""
    listing = _listing(table_path(sf_dir, name))
    if listing is None:
        return -1
    return sum(size for _f, size, _m in listing)


def row_count(spark: SparkSession, path: str) -> int:
    """Rows of a parquet path. A local path sums its parquet footers on
    the driver (no Spark job); any other path counts with Spark."""
    import pyarrow.parquet as pq

    listing = _listing(path)
    if listing is None:
        return read_parquet(spark, path).count()
    return sum(
        pq.read_metadata(os.path.join(path, f) if f else path).num_rows
        for f, _size, _m in listing
    )


def broadcast_gate(sf_dir: str, name: str, limit_bytes: int = 64 << 20):
    """Identity-or-`F.broadcast` wrapper for frames DERIVED from table
    `name` (signatures, probe assignments, candidate sets — all a
    constant factor of the source row count).

    At test SFs the derived sides are kilobytes and every broadcast
    collapses a shuffle exchange into a map-side join — in local mode
    that's the difference between a 10-stage and a 3-stage plan. At
    100 TB the gate reads the source size from the driver listing
    (free) and returns identity, so the plan degrades to the
    shuffle-on-key equi-join it was designed as. Unknown (non-local)
    sizes count as LARGE — never assume broadcastable."""
    from pyspark.sql import functions as F

    size = table_on_disk_bytes(sf_dir, name)
    if 0 <= size <= limit_bytes:
        return F.broadcast
    return lambda df: df


def load_parallel(spark: SparkSession, sf_dir: str, name: str, key: str | None = None) -> DataFrame:
    """Scan with enough splits to keep every core busy.

    Per-row CPU-bound work (token/shingle hashing, vector math) on a
    small input (fewer splits than cores) leaves most of the cluster
    idle — repartition up to cluster parallelism, but ONLY then:
    `repartition` always materializes a full exchange, and at 100 TB
    the scan already yields thousands of splits, so an unconditional
    repartition would shuffle the whole input for nothing. The split
    count comes from the driver-side file listing (no job, no
    plan-to-RDD hop); only non-local paths fall back to asking Spark.

    ``key``: hash-partition the spread by this high-cardinality column
    instead of round-robin (guide §2.4 — two operations keyed the same
    way share one exchange): a caller whose downstream groupings are
    all keyed by ``key`` (or supersets of it) rides this single
    exchange end-to-end. Same small-input-only guard; at scale the
    scan-native layout is kept either way and downstream operators
    plan their own exchanges exactly as before.
    """
    df = load(spark, sf_dir, name)
    parallelism = spark.sparkContext.defaultParallelism
    splits = _estimated_scan_splits(spark, table_path(sf_dir, name))
    if splits < 0:
        splits = df.rdd.getNumPartitions()
    if splits < parallelism:
        df = df.repartition(parallelism, key) if key else df.repartition(parallelism)
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Make `ts` a timestamp regardless of the fixture's physical layout.

    The schema is inferred, never declared (mirroring server.py:39,107),
    so the loader must adapt to whatever the generator wrote:
    - TIMESTAMP(NANOS) read as long (legacy.parquet.nanosAsLong):
      convert with exact integer division — double division would lose
      precision past 2^53 ns.
    - TIMESTAMP_NTZ (plain timestamp[us/ms] parquet): cast to the
      session-timezone TIMESTAMP. The session TZ is pinned to UTC
      (session.py), so the cast is value-preserving, and downstream
      event-time code (unix_micros, watermarks) expects TIMESTAMP.
    - TIMESTAMP: pass through.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if isinstance(ts_type, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events with `ts` normalized to a timestamp (see
    normalize_events_ts). A legacy TIMESTAMP(NANOS) fixture reads as
    long under session.RUNTIME_CONFS' nanosAsLong."""
    df = read_parquet(spark, table_path(sf_dir, "events"))
    return normalize_events_ts(df)


def run_sql(spark: SparkSession, sf_dir: str, text: str, args: dict | None = None) -> DataFrame:
    """Run SQL `text` whose `{table}` placeholders name tables under
    `sf_dir`; `args` binds its parameter markers. pyspark's formatter
    binds each loaded table to a fresh `_pyspark_<uuid>` view and drops
    it after parsing, so concurrent queries never share a view name.
    Only the tables the text names are loaded."""
    names = {field for _, field, _, _ in string.Formatter().parse(text) if field}
    return spark.sql(text, args, **{n: load(spark, sf_dir, n) for n in names})


# One persisted copy per (application, key) for derived frames that
# MANY queries re-derive identically (the hashed-token/shingle base,
# parsed vector tables). Without the memo, every query call stacks a
# fresh persist of the same data in the CacheManager — never
# unpersisted, so a 79-query bench session accumulates dozens of
# identical cached copies, and the eviction/GC churn shows up as a
# session-wide slowdown (round 5: +31% on the common bench subset with
# zero plan changes). The accessor re-persists after an external
# clearCache, so callers may clear the session cache freely between
# queries to bound memory at one query's working set.
_MEMO_PERSIST: dict[tuple, DataFrame] = {}
_MEMO_LOCK = threading.Lock()


def memo_persist(spark: SparkSession, key: tuple, build) -> DataFrame:
    """Return the session's single persisted instance of the frame
    `build()` constructs, creating (and re-persisting, if a
    clearCache dropped it) on demand. `key` must determine the frame's
    content (e.g. ("shingle_base", sf_dir)).

    Entries are keyed by applicationId; on access, entries from OTHER
    appIds (dead JVMs after a session restart) are evicted so the memo
    can't grow for the life of the process or hand back DataFrames
    bound to a gone SparkContext. The check-then-insert is guarded by
    a lock for concurrent query builds (only the dict bookkeeping —
    `build()` runs outside the lock; a racing duplicate build loses
    the insert and its frame is simply never persisted)."""
    from pyspark.storagelevel import StorageLevel

    app_id = spark.sparkContext.applicationId
    full_key = (app_id, *key)
    with _MEMO_LOCK:
        stale = [k for k in _MEMO_PERSIST if k[0] != app_id]
        for k in stale:
            del _MEMO_PERSIST[k]
        df = _MEMO_PERSIST.get(full_key)
    if df is None:
        built = build()
        with _MEMO_LOCK:
            df = _MEMO_PERSIST.setdefault(full_key, built)
    lvl = df.storageLevel
    if not (lvl.useMemory or lvl.useDisk):
        df.persist(StorageLevel.MEMORY_AND_DISK)
    return df


# Wall-clock seconds spent *building* each derived store this process
# actually materialized (cache hits don't appear). bench.py emits this
# map so a bench regression caused by cold-store rebuild cost is
# localizable instantly instead of bleeding anonymously into whichever
# query triggered the build.
STORE_BUILD_TIMES: dict[str, float] = {}


def is_complete(path: str) -> bool:
    """True when ``path`` carries the completion marker, which
    ``publish_store`` (and Spark's own committer) writes last."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def publish_store(target: str, build, complete=is_complete) -> None:
    """Materialize a derived directory exactly once, atomically.

    ``build(path)`` writes the directory; ``complete(path)`` tells a
    finished one from a partial one. No-op if ``target`` is complete.
    Otherwise builds into a private ``<target>.build-<uuid>`` (removed
    if the build raises), marks it complete and renames it into place,
    atomic on POSIX: racing builders each build, one rename wins and
    the rest drop their copies. An incomplete ``target`` in the way,
    re-probed just before, is renamed aside and deleted. Raises
    RuntimeError when nothing complete can be published.
    """
    import shutil
    import time
    import uuid

    if complete(target):
        return
    staged = f"{target}.build-{uuid.uuid4().hex}"
    t0 = time.monotonic()
    try:
        build(staged)
        os.makedirs(staged, exist_ok=True)
        open(os.path.join(staged, "_SUCCESS"), "w").close()
    except BaseException:
        shutil.rmtree(staged, ignore_errors=True)
        raise
    name = os.path.basename(target)
    STORE_BUILD_TIMES[name] = round(
        STORE_BUILD_TIMES.get(name, 0.0) + (time.monotonic() - t0), 4
    )
    for _ in range(3):
        if complete(target):
            break  # a racer published while we built: keep theirs
        if os.path.isdir(target):
            stale = f"{target}.stale-{uuid.uuid4().hex}"
            try:
                os.rename(target, stale)
                shutil.rmtree(stale, ignore_errors=True)
            except OSError:
                pass  # a racer moved it first; the rename below arbitrates
        try:
            os.rename(staged, target)
            return
        except OSError:
            continue  # target reappeared mid-race: re-probe and retry
    shutil.rmtree(staged, ignore_errors=True)
    if not complete(target):
        raise RuntimeError(
            f"publish_store: could not publish {target} after 3 attempts"
            " and no complete copy exists"
        )


def clear_derived_stores(sf_dir: str) -> list[str]:
    """Remove every PUBLISHED derived store keyed to ``sf_dir`` (or
    its tables) so the next access rebuilds it in-process — which is
    what makes ``STORE_BUILD_TIMES`` populate. bench.py's cold-store
    pre-pass uses this: with /tmp warm across driver rounds, every
    build is a cache hit, ``store_build_s`` commits as ``{}``, and a
    regression caused by index-build cost can't be separated from
    query cost (the round-6 accounting contract). Matching is by the
    deterministic_tmp_dir digest of the SF's source paths — only this
    SF's derived artifacts are touched, never another session's.

    NOT safe while another process is mid-read on the same SF's
    stores (bench runs standalone; gate via
    SPARK_GRAFT_BENCH_COLD_STORES=0 when sharing the box)."""
    import glob
    import shutil
    import tempfile

    removed: list[str] = []
    for src in [sf_dir] + [table_path(sf_dir, t) for t in TABLES]:
        pattern = f"dps_*_{_source_digest(src)}"
        for d in glob.glob(os.path.join(tempfile.gettempdir(), pattern)):
            shutil.rmtree(d, ignore_errors=True)
            removed.append(os.path.basename(d))
    return sorted(removed)


def params_digest(*params) -> str:
    """Short digest of the algorithm constants baked into a derived
    store (hyperplane values, hash seeds, k-means iteration counts...).
    Fold it into the store's `kind` so the cache key changes whenever
    the CONSTANTS change — a count alone can't (same plane count with
    different values must never serve stale signatures)."""
    import hashlib

    return hashlib.sha256(repr(params).encode()).hexdigest()[:8]


def _source_digest(source_path: str) -> str:
    """sha256[:16] of a source's absolute path, mtime and size: the
    version key of every store derived from it (just the path when the
    source is missing)."""
    import hashlib

    ap = os.path.abspath(source_path)
    try:
        st = os.stat(ap)
        token = f"{ap}|{st.st_mtime_ns}|{st.st_size}"
    except OSError:
        token = ap
    return hashlib.sha256(token.encode()).hexdigest()[:16]


def deterministic_tmp_dir(kind: str, source_path: str) -> str:
    """Stable scratch dir for artifacts derived from `source_path`,
    keyed on the source's identity AND content version (mtime+size),
    so regenerated fixtures can never serve a stale derived copy."""
    import tempfile

    return os.path.join(tempfile.gettempdir(), f"dps_{kind}_{_source_digest(source_path)}")

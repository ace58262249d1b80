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
inferred by Spark, which costs a Spark job and 100+ ms. The memo holds
schemas, never DataFrames: every read is a fresh relation with fresh
expression IDs, so two loads of one table still self-join.

Freshness: a local source's version is its ``_listing``, the relative
path, size, ``st_mtime_ns`` and ``st_ino`` of every data file. Every
session cache keys on it: the schema memo (with the parquet confs that
change inference), ``memo_persist`` (the listing of its ``sf_dir``),
the derived stores (``deterministic_tmp_dir`` puts its digest in the
directory name) and the prepared frames of ``prepared``, which record
every listing their build asked for, every frame it persisted through
``persist`` and the files behind every ``checkpoint``. A part file
rewritten in place, a file added or removed, or a replacement renamed
into place changes the listing, and the next call rebuilds. The one
change it cannot see is bytes that change with the same size, mtime
and inode. The memos are scoped to
the applicationId, and entries of another (a restarted session) are
evicted on access. Non-local paths (hdfs://, s3a://...) have no
driver-side listing: their schema is inferred on every read,
``memo_persist`` keeps its first frame, a derived store is keyed to the
path alone, and a query that reads one is rebuilt on every call.

Every derived directory a plan builds (index stores, layout copies,
transaction-log tables, the serve path's main) is published by
``publish_store``: the build writes a private directory, and
``publish_store`` alone writes the ``_SUCCESS`` marker and renames it
into place. Plan code never names the marker; it reads the published
store back through ``read_parquet``.
"""

from __future__ import annotations

import contextvars
import hashlib
import json
import os
import string
import threading
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType
from pyspark.storagelevel import StorageLevel

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


class _Build:
    """What one query build read: every path ``_listing`` was asked
    about (absolute) with the listing it returned, every frame
    ``persist`` persisted, and the file roots behind every checkpoint
    ``checkpoint`` made (by the checkpoint's RDD id; None when they are
    not all file relations)."""

    def __init__(self) -> None:
        self.listings: dict[str, list | None] = {}
        self.barriers: list[DataFrame] = []
        self.checkpoints: dict[int, list[str] | None] = {}

    def absorb(self, other: _Build) -> None:
        self.listings.update(other.listings)
        self.barriers.extend(other.barriers)
        self.checkpoints.update(other.checkpoints)


# The build of the query ``prepared`` is running in this context, if any.
_BUILD: contextvars.ContextVar[_Build | None] = contextvars.ContextVar("catalog_build", default=None)


def _listing(path: str) -> list[tuple[str, int, int, int]] | None:
    """(relative path, size, st_mtime_ns, st_ino) of every data file
    under a local path, from the driver's file listing — no Spark job.
    The version of the path for every session cache (see the module
    docstring), recorded into the running query build. Names starting
    with ``_`` or ``.`` (_SUCCESS, .crc) are skipped. None for a
    missing or non-local path (hdfs://, s3a://...)."""
    listing = _walk(path)
    build = _BUILD.get()
    if build is not None:
        build.listings[os.path.abspath(path)] = listing
    return listing


def _walk(path: str) -> list[tuple[str, int, int, int]] | None:
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
                out.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns, st.st_ino))
        return sorted(out)
    try:
        st = os.stat(path)
    except OSError:
        return None
    return [("", st.st_size, st.st_mtime_ns, st.st_ino)]


# Guards the dict bookkeeping of every session memo below.
_MEMO_LOCK = threading.Lock()


def _versioned(memo: dict, spark: SparkSession, key: tuple, holds, build) -> tuple:
    """(the value memoized in ``memo`` for ``key``, the value it
    replaced or None), per applicationId: entries of other
    applicationIds are evicted. An entry is ``(version, value)`` and
    answers while ``holds(entry)``; else ``build()`` returns a new
    ``(version, value)``, which is stored unless the version is None
    (that stores nothing and drops the entry that did not hold).
    ``build()`` runs outside the lock: racing cold calls each build,
    and an entry another call stored at the same version while this
    one built wins."""
    app_id = spark.sparkContext.applicationId
    key = (app_id, *key)
    with _MEMO_LOCK:
        for k in [k for k in memo if k[0] != app_id]:
            del memo[k]
        seen = memo.get(key)
    if seen is not None and holds(seen):
        return seen[1], None
    version, built = build()
    with _MEMO_LOCK:
        entry = memo.get(key)
        if entry is not None and entry is not seen and entry[0] == version:
            return entry[1], None
        if version is None:
            if entry is seen:
                memo.pop(key, None)
            return built, None
        memo[key] = (version, built)
    return built, None if entry is None else entry[1]


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
    names = [row[0] for row in listing]
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


def _memo_schema(spark: SparkSession, path: str) -> StructType | None:
    """A local path's schema, inferred once per session, listing and
    inference confs: from the footer when ``_footer_schema`` can, else
    by Spark. None for a non-local path."""
    listing = _listing(path)
    if listing is None:
        return None
    confs = inference_confs(spark)
    version = (tuple(listing), tuple(confs.values()))
    schema, _ = _versioned(
        _SCHEMAS, spark, (os.path.abspath(path),), lambda entry: entry[0] == version,
        lambda: (version, _footer_schema(path, listing, confs) or spark.read.parquet(path).schema),
    )
    return schema


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """A parquet path's schema: memoized for a local path, inferred by
    Spark for any other."""
    schema = _memo_schema(spark, path)
    return spark.read.parquet(path).schema if schema is None else schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the memoized schema for a
    local path: a fresh relation that infers nothing. A non-local path
    opens its one relation, which infers."""
    schema = _memo_schema(spark, path)
    return spark.read.parquet(path) if schema is None else spark.read.schema(schema).parquet(path)


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
    total = sum(size for _f, size, *_ in listing)
    chunks = sum(max(1, -(-size // max_bytes)) for _f, size, *_ in listing)
    return max(1, min(chunks, -(-(total + chunks * open_cost) // max_bytes)))


def table_on_disk_bytes(sf_dir: str, name: str) -> int:
    """On-disk parquet size of a table from the driver's file listing —
    no Spark job. Returns -1 for non-local paths (hdfs://, s3://...),
    where the caller must NOT assume 'small'."""
    listing = _listing(table_path(sf_dir, name))
    if listing is None:
        return -1
    return sum(size for _f, size, *_ in listing)


def row_count(spark: SparkSession, path: str) -> int:
    """Rows of a parquet path. A local path sums its parquet footers on
    the driver (no Spark job); any other path counts with Spark."""
    import pyarrow.parquet as pq

    listing = _listing(path)
    if listing is None:
        return read_parquet(spark, path).count()
    return sum(
        pq.read_metadata(os.path.join(path, f) if f else path).num_rows
        for f, *_ in listing
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


# One persisted copy per session, name and dataset of the derived
# frames many queries re-derive identically (the hashed-token/shingle
# base, parsed vector tables): a persist per query call would stack
# identical cached copies in the CacheManager, and their eviction and
# GC churn slows the whole session.
_MEMO_PERSIST: dict[tuple, tuple] = {}


def memo_persist(spark: SparkSession, name: str, sf_dir: str, build) -> DataFrame:
    """The session's one persisted copy of the frame ``build()`` makes
    from the tables under ``sf_dir``; ``name`` and ``sf_dir`` must
    determine its content. Versioned by the digest of
    ``_listing(sf_dir)``, taken before ``build()``: a rewritten dataset
    rebuilds, and the replaced
    frame is unpersisted first, since the CacheManager matches plans
    and would answer the new frame with the old frame's cached rows. A
    frame that a ``clearCache`` dropped is persisted again, so callers
    may clear the session cache between queries."""
    version = _digest(_listing(sf_dir))
    df, replaced = _versioned(
        _MEMO_PERSIST, spark, (name, sf_dir), lambda entry: entry[0] == version, lambda: (version, build())
    )
    if replaced is not None:
        replaced.unpersist()
    return persist(df)


def _is_cached(df: DataFrame) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


def persist(df: DataFrame) -> DataFrame:
    """``df``, persisted MEMORY_AND_DISK unless it is cached already,
    and recorded as a barrier of the running query build (see
    ``prepared``). Plan code persists through this helper only."""
    if not _is_cached(df):
        df.persist(StorageLevel.MEMORY_AND_DISK)
    build = _BUILD.get()
    if build is not None:
        build.barriers.append(df)
    return df


def checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)``, recorded into the running
    query build with the file roots ``df`` reads: the checkpoint's plan
    is one LogicalRDD, which no longer shows them (see ``prepared``).
    Plan code checkpoints through this helper only."""
    out = df.localCheckpoint(eager=True)
    build = _BUILD.get()
    if build is not None:
        build.checkpoints[out._jdf.queryExecution().analyzed().rdd().id()] = _file_roots(df, build)
    return out


# The frame each (session, query, dataset) last built, with the build's
# record; see ``prepared``.
_PREPARED: dict[tuple, tuple] = {}

#: Prepared-frame outcomes per query name: ``hit`` (the stored frame
#: answered), ``miss`` (built and stored) and ``refused`` (built, not
#: storable: see ``prepared``).
PREPARED_COUNTS: dict[str, dict[str, int]] = {}

# Analyzed-plan leaves that read no file.
_FILELESS_LEAVES = frozenset({"LocalRelation", "Range", "OneRowRelation", "CTERelationRef", "UnionLoopRef"})


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.length())]


def _from_driver(rdd) -> bool:
    """True when every root of ``rdd``'s lineage is a collection the
    driver handed to Spark (``createDataFrame`` of local rows)."""
    deps = _seq(rdd.dependencies())
    if not deps:
        return rdd.getClass().getSimpleName() == "ParallelCollectionRDD"
    return all(_from_driver(d.rdd()) for d in deps)


def _file_roots(df: DataFrame, build: _Build) -> list[str] | None:
    """The root path of every file relation in ``df``'s analyzed plan,
    subqueries included, or None when a leaf reads anything else. The
    analyzed plan, since the optimized one shows a persisted subtree as
    one cached leaf. A checkpoint ``build`` recorded stands for the
    roots recorded with it; an RDD of local rows reads no file."""
    plan = df._jdf.queryExecution().analyzed()
    roots: list[str] = []
    for sub in [plan, *_seq(plan.subqueriesAll())]:
        for leaf in _seq(sub.collectLeaves()):
            kind = leaf.getClass().getSimpleName()
            if kind in _FILELESS_LEAVES:
                continue
            if kind == "LogicalRelation" and leaf.relation().getClass().getSimpleName() == "HadoopFsRelation":
                roots += [r for r in leaf.relation().location().rootPaths().mkString("\n").split("\n") if r]
            elif kind == "LogicalRDD":
                rdd = leaf.rdd()
                if rdd.id() in build.checkpoints:
                    behind = build.checkpoints[rdd.id()]
                else:
                    behind = [] if _from_driver(rdd) else None
                if behind is None:
                    return None
                roots += behind
            else:
                return None
    return roots


def _under_recorded(uri: str, paths: list[str]) -> bool:
    """True when ``uri`` is a local path at or under one of the
    absolute paths ``paths``."""
    parsed = urlparse(uri)
    if parsed.scheme not in ("", "file"):
        return False
    path = unquote(parsed.path)
    return any(path == p or path.startswith(p.rstrip(os.sep) + os.sep) for p in paths)


def _versioned_by(df: DataFrame, build: _Build) -> bool:
    """True when ``build`` versions everything ``df`` reads: every
    recorded listing is local, and every file root of ``df``'s plan
    lies under a recorded path (a body that writes and reads back
    through a bare ``spark.read`` fails the second test)."""
    if any(listing is None for listing in build.listings.values()):
        return False
    roots = _file_roots(df, build)
    return roots is not None and all(_under_recorded(r, list(build.listings)) for r in roots)


def prepared(spark: SparkSession, name: str, sf_dir: str, conf_fingerprint: str, build) -> DataFrame:
    """The frame ``build()`` makes for query ``name`` on ``sf_dir``, or
    the one an earlier call on this session built, while that build
    still holds: ``conf_fingerprint`` (all session confs) is unchanged,
    every path the build listed lists the same, and every frame it
    persisted through ``persist`` and left cached is still cached
    (``clearCache`` drops them, and a plan re-run without its barriers
    is not the plan that was built). A build is stored only when
    ``_versioned_by`` holds. When a listing changed, the stale entry's
    barriers are unpersisted before the rebuild, since the CacheManager
    would answer the rebuilt plan with their rows. A call inside
    another query's build passes its record on to that build. Stored
    frames live until ``forget_prepared``.

    What the check does not see: a value the body pulled to the driver
    (``collect``, ``count``) from a read that no listing covers and
    that its plan does not keep."""
    outer = _BUILD.get()
    outcome = ["hit"]

    def holds(entry) -> bool:
        (fingerprint, listings), (_df, record) = entry
        if any(_listing(path) != listing for path, listing in listings):
            for barrier in record.barriers:
                barrier.unpersist()
            return False
        return fingerprint == conf_fingerprint and all(_is_cached(b) for b in record.barriers)

    def make():
        record = _Build()
        token = _BUILD.set(record)
        try:
            df = build()
        finally:
            _BUILD.reset(token)
        # A barrier the body unpersisted itself is not part of the plan.
        record.barriers = [b for b in record.barriers if _is_cached(b)]
        if not _versioned_by(df, record):
            outcome[0] = "refused"
            return None, (df, record)
        outcome[0] = "miss"
        return (conf_fingerprint, tuple(sorted(record.listings.items()))), (df, record)

    (df, record), _ = _versioned(_PREPARED, spark, (spark, name, sf_dir), holds, make)
    with _MEMO_LOCK:
        counts = PREPARED_COUNTS.setdefault(name, {"hit": 0, "miss": 0, "refused": 0})
        counts[outcome[0]] += 1
    if outer is not None:
        outer.absorb(record)
    return df


def forget_prepared() -> int:
    """Drop every stored prepared frame and return how many there were.
    A stored frame keeps its session and, once executed, its shuffle
    files, broadcasts and checkpoint blocks; a long-lived session calls
    this between queries (``global_rank.release_pins`` does)."""
    with _MEMO_LOCK:
        n = len(_PREPARED)
        _PREPARED.clear()
    return n


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
    """Remove every published derived store keyed to ``sf_dir`` or its
    tables, whichever version of them it was built from, so the next
    access rebuilds it in-process and lands its build time in
    ``STORE_BUILD_TIMES``; returns the removed names. bench.py and
    perfbench clear before a cold pass. Not safe while another process
    reads the same dataset's stores (``SPARK_GRAFT_BENCH_COLD_STORES=0``
    keeps bench.py from clearing)."""
    import glob
    import shutil
    import tempfile

    removed: list[str] = []
    for src in [sf_dir] + [table_path(sf_dir, t) for t in TABLES]:
        pattern = f"dps_*_{_digest(os.path.abspath(src))}_" + "?" * _DIGEST_LEN
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
    return hashlib.sha256(repr(params).encode()).hexdigest()[:8]


_DIGEST_LEN = 16


def _digest(token) -> str:
    return hashlib.sha256(repr(token).encode()).hexdigest()[:_DIGEST_LEN]


def deterministic_tmp_dir(kind: str, source_path: str) -> str:
    """Stable scratch dir ``dps_<kind>_<path digest>_<listing digest>``
    for artifacts derived from ``source_path``: keyed on its absolute
    path and ``_listing`` (None when the source is missing or not
    local), so a rewritten source never serves a stale derived copy and
    ``clear_derived_stores`` finds every version by the path digest."""
    import tempfile

    ap = os.path.abspath(source_path)
    return os.path.join(tempfile.gettempdir(), f"dps_{kind}_{_digest(ap)}_{_digest(_listing(ap))}")

"""Core relational operators — the reference's operator inventory
(SURVEY.md §2, O1–O13) re-expressed as Catalyst-optimized DataFrame
plans over the driver star schema.

Numeric-parity rules used throughout (Spark vs the DuckDB oracle):

- SUM over doubles is order-dependent in floating point, so money-style
  sums cast the *inputs* to DECIMAL(18,2) (exact, associative) and cast
  the final result back to DOUBLE — bit-identical on both engines.
- The reference truncates averages toward zero with Python ``int()``
  (reference server.py:109). Spark's ``cast(int)`` truncates; DuckDB's
  CAST rounds, so oracles spell it ``CAST(TRUNC(...) AS INTEGER)``.
- Timestamps rely on ``spark.sql.session.timeZone=UTC`` (set by the
  registry before every query call).

Scale notes (100 TB posture) are in each docstring; tests assert the
physical-plan properties (pushdown, broadcast) in
tests/test_plan_shape.py.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import load, run_sql
from data_pipeline_with_hdfs_sql_integration_spark.registry import query

# Band filter analog of the reference's loan_amount ∈ (30000, 800000)
# (reference server.py:36) — open interval on l_extendedprice.
BAND_LO, BAND_HI = 5_000.0, 90_000.0


@query(
    "o01_source_scan",
    oracle="SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM orders",
    doc="O1 source scan (reference server.py:29-39): full-table pull of the "
    "fact superset. Spark: parquet scan, no predicate; at scale this is a "
    "pure columnar read split by maxPartitionBytes — no shuffle.",
    tags=("core", "scan"),
)
def o01_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "orders")


@query(
    "o02_broadcast_join",
    oracle="""
        SELECT l.l_orderkey, l.l_linenumber, s.s_name, s.s_nationkey, l.l_quantity
        FROM lineitem l INNER JOIN supplier s ON l.l_suppkey = s.s_suppkey
    """,
    doc="O2 inner equi-join fact ⨝ small dimension (reference "
    "server.py:34-35, loans ⨝ loan_types executed by MySQL). Spark: "
    "explicit broadcast of the dimension → no shuffle of the 100 TB fact "
    "side; the join runs map-side in one stage.",
    tags=("core", "join"),
)
def o02_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey, "inner")
        .select("l_orderkey", "l_linenumber", "s_name", "s_nationkey", "l_quantity")
    )


@query(
    "o03_band_filter",
    oracle=f"""
        SELECT l_orderkey, l_linenumber, l_extendedprice
        FROM lineitem
        WHERE l_extendedprice > {BAND_LO} AND l_extendedprice < {BAND_HI}
    """,
    doc="O3 open-interval band filter (reference server.py:36, "
    "loan_amount > 30000 AND < 800000). Conjunctive comparisons push to "
    "the parquet row-group stats — scan skips non-matching row groups.",
    tags=("core", "filter"),
)
def o03_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .filter((F.col("l_extendedprice") > BAND_LO) & (F.col("l_extendedprice") < BAND_HI))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


@query(
    "o04_projection",
    oracle="SELECT o_orderkey, o_totalprice FROM orders",
    doc="O4 projection (reference server.py:33,109: SELECT * then "
    "single-column pull). Spark improves on the reference: Catalyst prunes "
    "the scan to exactly these columns (ReadSchema shows 2 of 6).",
    tags=("core", "projection"),
)
def o04_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")


@query(
    "o05_parquet_sink_roundtrip",
    oracle=f"""
        SELECT CAST(count(*) AS BIGINT) AS n_rows
        FROM lineitem
        WHERE l_extendedprice > {BAND_LO} AND l_extendedprice < {BAND_HI}
    """,
    doc="O5 parquet sink (reference server.py:44-54: Arrow table → HDFS "
    "parquet, then row-count status, server.py:57-58). Writes the filtered "
    "extract to parquet, reads it back, returns the row count. At scale "
    "the write is executor-parallel; replication/blocksize are Hadoop "
    "confs (see api.Pipeline.db_to_store).",
    tags=("core", "sink"),
)
def o05_parquet_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = os.path.join(tempfile.mkdtemp(prefix="dps_sink_"), "extract.parquet")
    extract = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_extendedprice") > BAND_LO) & (F.col("l_extendedprice") < BAND_HI)
    )
    extract.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).agg(F.count("*").alias("n_rows"))


@query(
    "o06_parquet_scan",
    oracle="SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice FROM part",
    doc="O6 parquet scan without predicate (reference server.py:106-107, "
    "partition-file read).",
    tags=("core", "scan"),
)
def o06_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "part")


@query(
    "o07_pushdown_scan",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
    """,
    doc="O7 scan with predicate pushdown (reference server.py:125-126: "
    "pq.read_table(filters=[county=cc])). The timestamp range predicate "
    "reaches the parquet reader (PushedFilters in explain) → row-group "
    "skipping; at 100 TB combine with partitionBy(date) for partition "
    "pruning.",
    tags=("core", "filter", "pushdown"),
)
def o07_pushdown_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
        )
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
    )


@query(
    "o08_equality_filter",
    oracle="SELECT c_custkey, c_name, c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'",
    doc="O8 equality filter on a categorical key (reference server.py:126, "
    "county_code = literal).",
    tags=("core", "filter"),
)
def o08_equality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_name", "c_nationkey")
    )


@query(
    "o09_avg_int_trunc",
    oracle=f"""
        SELECT c.c_nationkey AS group_key,
               CAST(TRUNC(AVG(o.o_totalprice)) AS INTEGER) AS avg_amount,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM orders o INNER JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_totalprice > {BAND_LO} AND o.o_totalprice < {BAND_HI * 4}
        GROUP BY c.c_nationkey
    """,
    doc="O9 the flagship CalcAvgLoan aggregate (reference server.py:109,128): "
    "AVG truncated toward zero via Python int(); grouped by the "
    "county-style key. Spark cast('int') truncates like int(); DuckDB CAST "
    "rounds, hence TRUNC in the oracle. Partial aggregation is map-side; "
    "only (key, sum, count) shuffles — scales to any fact size.",
    tags=("core", "agg", "flagship"),
)
def o09_avg_int_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    return (
        orders.filter((F.col("o_totalprice") > BAND_LO) & (F.col("o_totalprice") < BAND_HI * 4))
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")), orders.o_custkey == F.col("c_custkey"), "inner")
        .groupBy(F.col("c_nationkey").alias("group_key"))
        .agg(
            F.avg("o_totalprice").cast("int").alias("avg_amount"),
            F.count("*").alias("n_rows"),
        )
    )


@query(
    "o12_explode_histogram",
    oracle="""
        SELECT token, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        WHERE token <> ''
        GROUP BY token
    """,
    doc="O12 explode + grouped count histogram (reference server.py:80-87: "
    "flatten block→host lists, count per host). Analog: token histogram "
    "over documents. Hash aggregate with map-side partials; the explode "
    "multiplies rows executor-side, never on the driver.",
    tags=("core", "agg", "explode"),
)
def o12_explode_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )


@query(
    "o13_block_locations",
    oracle=None,  # filesystem metadata — not SQL-expressible
    doc="O13 metadata scan (reference server.py:70-87: WebHDFS "
    "GETFILEBLOCKLOCATIONS → host histogram). Implemented against the "
    "Hadoop FileSystem API via the JVM gateway, so it works on file://, "
    "hdfs://, s3a:// alike. Rows-only check (hosts are env-dependent).",
    tags=("core", "metadata"),
)
def o13_block_locations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_hdfs_sql_integration_spark.operators.block_locations import block_location_histogram

    from data_pipeline_with_hdfs_sql_integration_spark.catalog import table_path

    return block_location_histogram(spark, table_path(sf_dir, "lineitem"))


@query(
    "sql_interface_region_revenue",
    oracle="""
        SELECT n.n_name AS nation,
               CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM region r
        JOIN nation n   ON n.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        JOIN orders o   ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE r.r_name = 'ASIA'
        GROUP BY n.n_name
    """,
    doc="The raw-SQL entry point: the same Q5-shaped query as "
    "join_region_revenue, but submitted as SQL text with its tables "
    "bound through pyspark's SQL formatter (catalog.run_sql) instead "
    "of the DataFrame API — proving both surfaces compile to the same "
    "Catalyst plans. The SQL string is (modulo the `{table}` "
    "placeholders) what a user of the reference's MySQL path would "
    "write directly.",
    tags=("sql", "api"),
)
def sql_interface_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_sql(
        spark,
        sf_dir,
        """
        SELECT n.n_name AS nation,
               CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM {region} r
        JOIN {nation} n   ON n.n_regionkey = r.r_regionkey
        JOIN {customer} c ON c.c_nationkey = n.n_nationkey
        JOIN {orders} o   ON o.o_custkey = c.c_custkey
        JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
        WHERE r.r_name = 'ASIA'
        GROUP BY n.n_name
        """,
    )


_TPCH_Q1_SQL = """
    SELECT l_returnflag,
           l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DECIMAL(38,6))
               AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DECIMAL(38,6))
               AS sum_charge,
           CAST(count(*) AS BIGINT) AS count_order
    FROM {lineitem}
    WHERE l_shipdate <= TIMESTAMP '2024-11-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
"""


@query(
    "sql_interface_tpch_q1",
    oracle=_TPCH_Q1_SQL.format(lineitem="lineitem"),
    doc="Dialect-parity proof: the same SQL template (module "
    "constant _TPCH_Q1_SQL, a Q1 pricing summary) runs unmodified "
    "through spark.sql with its table bound by pyspark's formatter "
    "AND, filled in with the bare table name, through DuckDB as its "
    "own oracle — zero per-engine edits, exact decimal sums. "
    "This is the strongest statement the SQL front door can make: a "
    "user's ANSI query needs no translation layer. The sums stay "
    "DECIMAL end-to-end (explicitly widened to the same DECIMAL(38,s) "
    "on both engines): a final ->DOUBLE cast would round differently "
    "per engine once the unscaled sum passes 2^53 — the sf1 sweep "
    "caught exactly that in round 7 — and unlike engine-native plans "
    "this query cannot use the split-cast spelling without breaking "
    "the same-template property, so it returns the exact type instead.",
    tags=("sql", "api"),
)
def sql_interface_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_sql(spark, sf_dir, _TPCH_Q1_SQL)


_LATERAL_TOPK_SQL = """
    SELECT c.c_custkey, o.o_orderkey,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice
    FROM {customer} c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM {orders}
             WHERE o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
    WHERE c.c_mktsegment = 'BUILDING'
"""


@query(
    "sql_lateral_topk",
    oracle=_LATERAL_TOPK_SQL.format(customer="customer", orders="orders"),
    doc="Correlated LATERAL derived table (top-2 orders per BUILDING "
    "customer) — the SQL-standard per-row subquery surface, submitted "
    "as the same SQL template to both engines (Spark parses LATERAL with "
    "a correlated ORDER BY ... LIMIT since 3.4; DuckDB natively). "
    "Catalyst decorrelates it into the same window/rank shape as "
    "window_topk_per_group — per-key top-k never executes as one "
    "subquery per row. Deterministic tie-break on (price desc, "
    "orderkey) pins identical row sets.",
    tags=("sql", "subquery", "api"),
)
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_sql(spark, sf_dir, _LATERAL_TOPK_SQL)


PYDS_N = 20_000  # synthetic telemetry rows
PYDS_PARTS = 8
PYDS_SENSORS = 16
PYDS_MULT = 2_654_435_761  # Knuth multiplicative hash
PYDS_MOD = 1_000_003


@query(
    "source_python_datasource",
    oracle=f"""
        SELECT CAST(i % {PYDS_SENSORS} AS BIGINT) AS sensor_id,
               CAST(count(*) AS BIGINT) AS n_readings,
               CAST(sum((i * {PYDS_MULT}) % {PYDS_MOD}) AS BIGINT) AS sum_value
        FROM (SELECT unnest(range(0, {PYDS_N})) AS i)
        GROUP BY 1
    """,
    doc="Custom connector via the Spark 4 Python DataSource API "
    "(pyspark.sql.datasource): a partitioned synthetic telemetry "
    "source whose reader yields rows i -> (i % "
    f"{PYDS_SENSORS}, Knuth-hash value) across {PYDS_PARTS} "
    "InputPartitions — the modern extension point the reference's "
    "JDBC-only ingest lacks, here with the O1-family posture intact: "
    "partition count decides scan parallelism, the global row set is "
    "partitioning-invariant, and every value is reproduced by the "
    "oracle from the same integer formula (a connector you cannot "
    "value-check is a connector you cannot trust). Classes are "
    "defined INSIDE the query so cloudpickle ships them by value — "
    "workers never import this module (the repo may not be on their "
    "path when the driver runs from an arbitrary cwd).",
    tags=("source", "python-datasource", "api"),
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class TelemetrySource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "dps_telemetry"

        def schema(self) -> str:
            return "i bigint, sensor_id bigint, value bigint"

        def reader(self, schema):
            return TelemetryReader(self.options)

    class TelemetryReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n", str(PYDS_N)))
            self.parts = int(options.get("parts", str(PYDS_PARTS)))

        def partitions(self):
            return [InputPartition(p) for p in range(self.parts)]

        def read(self, part):
            # Strided rows per partition: the union over partitions is
            # exactly range(n) whatever `parts` is.
            for i in range(part.value, self.n, self.parts):
                yield (i, i % PYDS_SENSORS, (i * PYDS_MULT) % PYDS_MOD)

    spark.dataSource.register(TelemetrySource)
    df = (
        spark.read.format("dps_telemetry")
        .option("n", str(PYDS_N))
        .option("parts", str(PYDS_PARTS))
        .load()
    )
    return df.groupBy("sensor_id").agg(
        F.count(F.lit(1)).alias("n_readings"),
        F.sum("value").cast("long").alias("sum_value"),
    )


@query(
    "stream_python_datasource",
    oracle=f"""
        SELECT CAST(i % {PYDS_SENSORS} AS BIGINT) AS sensor_id,
               CAST(count(*) AS BIGINT) AS n_readings,
               CAST(sum((i * {PYDS_MULT}) % {PYDS_MOD}) AS BIGINT) AS sum_value
        FROM (SELECT unnest(range(0, {PYDS_N})) AS i)
        GROUP BY 1
    """,
    doc="The custom connector's STREAMING side "
    "(SimpleDataSourceStreamReader): the same telemetry rows arrive as "
    "a sequence of offset-tracked micro-batches (several thousand rows "
    "per read; the engine checkpoints {pos} offsets and can replay any "
    "[start, end) range via readBetweenOffsets — the exactly-once "
    "contract a custom source must honor). The query drains the "
    "bounded stream and aggregates per sensor; the final state equals "
    "the batch connector's answer WHATEVER the batch boundaries were, "
    "which is the partitioning/batching-invariance both sources "
    "advertise. Values reproduced by the oracle's integer formula.",
    tags=("source", "python-datasource", "streaming"),
)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    import time
    import uuid

    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class TelemetryStream(DataSource):
        @classmethod
        def name(cls) -> str:
            return "dps_telemetry_stream"

        def schema(self) -> str:
            return "i bigint, sensor_id bigint, value bigint"

        def simpleStreamReader(self, schema):
            return TelemetryStreamReader(self.options)

    class TelemetryStreamReader(SimpleDataSourceStreamReader):
        def __init__(self, options):
            self.n = int(options.get("n", str(PYDS_N)))
            self.step = int(options.get("step", "7000"))

        def _rows(self, lo: int, hi: int):
            return iter(
                [(i, i % PYDS_SENSORS, (i * PYDS_MULT) % PYDS_MOD) for i in range(lo, hi)]
            )

        def initialOffset(self):
            return {"pos": 0}

        def read(self, start):
            pos = start["pos"]
            end = min(pos + self.step, self.n)
            return self._rows(pos, end), {"pos": end}

        def readBetweenOffsets(self, start, end):
            return self._rows(start["pos"], end["pos"])

    spark.dataSource.register(TelemetryStream)
    stream = (
        spark.readStream.format("dps_telemetry_stream")
        .option("n", str(PYDS_N))
        .load()
    )
    agg = stream.groupBy("sensor_id").agg(
        F.count(F.lit(1)).alias("n_readings"),
        F.sum("value").cast("long").alias("sum_value"),
    )
    name = f"stream_pyds_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(processingTime="0 seconds")
        .start()
    )
    # Bounded source: drain until all PYDS_N rows are aggregated, then
    # stop. The poll reads the MEMORY SINK (constant-size), never the
    # source.
    deadline = time.time() + 120
    while time.time() < deadline:
        rows = spark.sql(f"SELECT sum(n_readings) AS t FROM {name}").collect()
        if rows and rows[0]["t"] == PYDS_N:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination()
    # The memory sink registered its table as a temp view in the
    # caller's session: resolve the frame to the sink, then drop the
    # view (as streaming/windows.run_to_memory does).
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


@query(
    "sink_python_datasource",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM orders
        GROUP BY o_orderpriority
    """,
    doc="Custom SINK via the Spark 4 Python DataSource writer API — "
    "the write-side counterpart of source_python_datasource: each "
    "task's write(iterator) streams its partition to a JSON-lines "
    "part file and returns a WriterCommitMessage (file, row count); "
    "the driver-side commit() runs only when every task succeeded and "
    "publishes a _MANIFEST listing exactly the committed files — the "
    "standard two-phase commit that makes a distributed write atomic "
    "(abort() removes orphans, and underscore-prefixed control files "
    "are invisible to readers). The query writes the per-priority "
    "order rollup through the sink, reads the directory back with the "
    "plain JSON reader, and must reproduce the batch aggregate "
    "exactly — a sink you cannot re-read and value-check is a sink "
    "you cannot trust (same contract as the O5 parquet roundtrip). "
    "Classes are nested so cloudpickle ships them by value.",
    tags=("sink", "python-datasource", "api", "format"),
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import os as _os
    import tempfile as _tempfile

    from pyspark.sql.datasource import DataSource, DataSourceWriter, WriterCommitMessage

    class _Committed(WriterCommitMessage):
        def __init__(self, file: str | None, rows: int) -> None:
            self.file = file
            self.rows = rows

    class JsonlSinkWriter(DataSourceWriter):
        def __init__(self, options):
            self.path = options["path"]

        def write(self, iterator):
            import uuid as _uuid

            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            # Attempt-unique name: a retried/speculative attempt for the
            # same partition writes a DIFFERENT file, and only the
            # attempt whose message reaches commit() lands in the
            # manifest — orphans are invisible to manifest-scoped reads.
            out = _os.path.join(
                self.path, f"part-{pid:05d}-{_uuid.uuid4().hex}.json"
            )
            n = 0
            buf = []
            for row in iterator:
                buf.append(_json.dumps(row.asDict(), sort_keys=True))
                n += 1
            if n == 0:
                return _Committed(None, 0)
            with open(out, "w") as f:
                f.write("\n".join(buf) + "\n")
            return _Committed(out, n)

        def commit(self, messages):
            manifest = {
                "files": sorted(m.file for m in messages if m.file),
                "rows": sum(m.rows for m in messages),
            }
            with open(_os.path.join(self.path, "_MANIFEST.json"), "w") as f:
                _json.dump(manifest, f)

        def abort(self, messages):
            for m in messages:
                if m.file and _os.path.exists(m.file):
                    _os.remove(m.file)

    class JsonlSink(DataSource):
        @classmethod
        def name(cls) -> str:
            return "dps_jsonl_sink"

        def writer(self, schema, overwrite):
            return JsonlSinkWriter(self.options)

    spark.dataSource.register(JsonlSink)
    orders = load(spark, sf_dir, "orders")
    rollup = orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"),
    )
    target = _tempfile.mkdtemp(prefix="dps_pysink_")
    rollup.write.format("dps_jsonl_sink").option("path", target).mode("append").save()
    # The manifest must exist (commit ran), and readers consume EXACTLY
    # the committed file list — never a directory glob, which would
    # serve orphans from failed/speculative attempts or prior runs.
    with open(_os.path.join(target, "_MANIFEST.json")) as f:
        manifest = _json.load(f)
    back = spark.read.schema(
        "n_orders bigint, o_orderpriority string, total_cents bigint"
    ).json(manifest["files"])
    assert manifest["rows"] == back.count()
    return back.select("o_orderpriority", "n_orders", "total_cents")


@query(
    "api_pandas_on_spark",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM orders
        GROUP BY o_orderpriority
    """,
    doc="The pandas API on Spark (pyspark.pandas) as a first-class "
    "front door: the orders rollup written in pandas idiom "
    "(column assignment, groupby().agg(named aggs), reset_index) "
    "runs distributed via .pandas_api() and converts back with "
    ".to_spark() — a pandas user can drive this engine without "
    "learning the DataFrame API, and the result value-checks against "
    "the SQL oracle exactly because the math stays in integer cents "
    "(the float mean a naive pandas port would use is exactly what "
    "the exactness rules here forbid). Under the hood this plans as "
    "the same scan + hash aggregate as agg_pricing_summary — the "
    "pandas layer is sugar, not a different engine — so the 100 TB "
    "posture is unchanged.",
    tags=("api", "python", "agg"),
)
def api_pandas_on_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distributed index: no global sequence window — the only index
    # choice that scales.
    import pyspark.pandas as ps

    ps.set_option("compute.default_index_type", "distributed")
    orders = load(spark, sf_dir, "orders")
    psdf = orders.pandas_api()
    psdf = psdf.assign(cents=(psdf.o_totalprice * 100).round().astype("int64"))
    rolled = (
        psdf.groupby("o_orderpriority")
        .agg(n_orders=("cents", "count"), total_cents=("cents", "sum"))
        .reset_index()
    )
    out = rolled.to_spark()
    return out.select(
        "o_orderpriority",
        F.col("n_orders").cast("long"),
        F.col("total_cents").cast("long"),
    )


@query(
    "sql_scripting_threshold",
    oracle="""
        WITH c AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
        ),
        thr AS (SELECT sum(cents) // count(*) AS t FROM c)
        SELECT CASE WHEN c.cents >= thr.t THEN 'above' ELSE 'below' END AS side,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(c.cents) AS BIGINT) AS total_cents
        FROM c, thr
        GROUP BY 1
    """,
    doc="SQL scripting (Spark 4 BEGIN...END batches; "
    "spark.sql.scripting.enabled is on by default): a compound script DECLAREs a "
    "session variable, SETs it from a data-derived scalar (the exact "
    "integer mean — sum div count, never a float avg), and the final "
    "statement splits order totals around it — the "
    "stored-procedure-shaped workflow migrating warehouse users "
    "expect, executed natively by the engine with the variable "
    "resolved at script runtime. The oracle computes the identical "
    "result with a scalar CTE (DuckDB has no scripting — the VALUE "
    "semantics, not the control-flow syntax, are what must agree). "
    "Plan-wise the final statement is an ordinary scan + aggregate; "
    "scripting adds driver-side orchestration only, nothing touches "
    "the data path.",
    tags=("sql", "api"),
)
def sql_scripting_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_sql(
        spark,
        sf_dir,
        """
        BEGIN
          DECLARE thr BIGINT DEFAULT 0;
          SET thr = (SELECT sum(CAST(round(o_totalprice * 100) AS BIGINT))
                            div count(*) FROM {orders});
          SELECT CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT) >= thr
                      THEN 'above' ELSE 'below' END AS side,
                 count(*) AS n,
                 sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_cents
          FROM {orders}
          GROUP BY 1;
        END
        """,
    )


PARAM_SEGMENT = "BUILDING"
PARAM_MIN_CENTS = 5_000_000


@query(
    "sql_parameterized",
    oracle=f"""
        SELECT c.c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment = '{PARAM_SEGMENT}'
          AND CAST(round(o.o_totalprice * 100) AS BIGINT) >= {PARAM_MIN_CENTS}
        GROUP BY c.c_mktsegment
    """,
    doc="Parameterized SQL (spark.sql(..., args={...})): the segment "
    "and threshold arrive as NAMED PARAMETER MARKERS (:segment, "
    ":min_cents), bound server-side — the injection-safe way a "
    "service layer templates user input into queries (the reference "
    "interpolates strings into SQL, server.py's central hazard; this "
    "is the engine-native fix). Parameters bind before analysis, so "
    "Catalyst still sees literals: the segment filter pushes into "
    "the customer scan and the join broadcasts exactly as the "
    "hand-written query would.",
    tags=("sql", "api"),
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_sql(
        spark,
        sf_dir,
        """
        SELECT c.c_mktsegment,
               count(*) AS n_orders,
               sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS total_cents
        FROM {orders} o JOIN {customer} c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment = :segment
          AND CAST(round(o.o_totalprice * 100) AS BIGINT) >= :min_cents
        GROUP BY c.c_mktsegment
        """,
        args={"segment": PARAM_SEGMENT, "min_cents": PARAM_MIN_CENTS},
    )


@query(
    "o13_file_introspection",
    oracle="""
        SELECT l_returnflag,
               CAST(1 AS BIGINT) AS n_files,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc="Partition-level introspection via input_file_name() / "
    "spark_partition_id() — the DataFrame-native analog of O13's "
    "block-location metadata scan (SURVEY.md §2 O13 'partition-level "
    "analog'): lineitem is written as a returnflag-partitioned layout "
    "(repartitioned to exactly one file per key), read back, and "
    "every row reports WHICH file served it; per-flag file counts "
    "and row counts must match the relational truth — proving the "
    "physical layout landed as planned (1 file per key) and that "
    "file-to-row attribution is exact. This is the observability "
    "primitive behind storage audits (hot files, small-file "
    "detection, locality debugging) when block-host metadata (the "
    "JVM-gateway path o13_block_locations takes) is out of reach.",
    tags=("metadata", "layout", "scan"),
)
def o13_file_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import (
        deterministic_tmp_dir,
        publish_store,
        read_parquet,
        table_path,
    )

    li = load(spark, sf_dir, "lineitem")
    layout = deterministic_tmp_dir("introspect_rf", table_path(sf_dir, "lineitem"))
    publish_store(
        layout,
        lambda staging: (
            li.repartition("l_returnflag")
            .write.mode("overwrite")
            .partitionBy("l_returnflag")
            .parquet(staging)
        ),
    )
    back = read_parquet(spark, layout)
    return (
        back.select("l_returnflag", F.input_file_name().alias("f"))
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("f").alias("n_files"),
            F.count("*").alias("n_rows"),
        )
    )

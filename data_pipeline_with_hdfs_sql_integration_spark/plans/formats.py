"""File-format roundtrips: CSV, JSON-lines, ORC.

The reference ingests from MySQL and persists parquet only
(SURVEY.md §1.1); a complete engine must also move data through the
text formats (interchange) and ORC (the other columnar at-rest
format). Each query writes a table out in the format under test —
executor-parallel, explicit schema on re-read (inferSchema would cost
an extra pass and invite type drift) — reads it back, and aggregates;
the oracle aggregates the original parquet, so a pass proves the
roundtrip is lossless.

Output dirs are deterministic per (format, sf_dir) and overwritten
each run — reruns are idempotent, and the many-small-files shape of a
32-task write of a tiny table is itself the realistic artifact (at
100 TB the same code yields properly sized splits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import load, persist
from data_pipeline_with_hdfs_sql_integration_spark.registry import query


def _roundtrip_dir(fmt: str, sf_dir: str) -> str:
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import deterministic_tmp_dir

    return deterministic_tmp_dir(f"fmt_{fmt}", sf_dir)


@query(
    "format_csv_roundtrip",
    oracle="""
        SELECT s_nationkey,
               CAST(count(*) AS BIGINT) AS n_suppliers,
               CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        FROM supplier
        GROUP BY s_nationkey
    """,
    doc="CSV roundtrip: supplier → headered CSV → schema-pinned re-read "
    "→ aggregate. Doubles survive because Spark's CSV writer emits "
    "round-trippable representations; the decimal-sum aggregate proves "
    "value-level fidelity, not just row counts.",
    tags=("formats", "csv"),
)
def format_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier")
    path = _roundtrip_dir("csv", sf_dir)
    s.write.mode("overwrite").option("header", "true").csv(path)
    back = spark.read.schema(s.schema).option("header", "true").csv(path)
    return back.groupBy("s_nationkey").agg(
        F.count("*").alias("n_suppliers"),
        F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("double").alias("total_bal"),
    )


@query(
    "format_json_roundtrip",
    oracle="""
        SELECT n_regionkey,
               CAST(count(*) AS BIGINT) AS n_nations,
               min(n_name) AS first_nation
        FROM nation
        GROUP BY n_regionkey
    """,
    doc="JSON-lines roundtrip: nation → newline-delimited JSON → "
    "schema-pinned re-read → aggregate. JSONL is the interchange format "
    "for document/training-data feeds; schema-on-read keeps ingestion "
    "one-pass.",
    tags=("formats", "json"),
)
def format_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")
    path = _roundtrip_dir("json", sf_dir)
    n.write.mode("overwrite").json(path)
    back = spark.read.schema(n.schema).json(path)
    return back.groupBy("n_regionkey").agg(
        F.count("*").alias("n_nations"),
        F.min("n_name").alias("first_nation"),
    )


@query(
    "format_orc_roundtrip",
    oracle="""
        SELECT p_brand,
               CAST(count(*) AS BIGINT) AS n_parts,
               CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
               CAST(max(p_size) AS INTEGER) AS max_size
        FROM part
        GROUP BY p_brand
    """,
    doc="ORC roundtrip: part → ORC (self-describing columnar, so no "
    "schema pin needed) → aggregate. ORC shares parquet's pushdown/"
    "pruning behavior in Spark; this proves the engine is not "
    "parquet-monogamous.",
    tags=("formats", "orc"),
)
def format_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    path = _roundtrip_dir("orc", sf_dir)
    p.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("p_brand").agg(
        F.count("*").alias("n_parts"),
        F.sum(F.col("p_retailprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
        F.max("p_size").cast("int").alias("max_size"),
    )


@query(
    "format_schema_evolution",
    oracle="""
        WITH unioned AS (
            SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
            FROM orders WHERE o_orderkey % 2 = 0
            UNION ALL
            SELECT o_orderkey, o_totalprice, o_orderpriority
            FROM orders WHERE o_orderkey % 2 <> 0
        )
        SELECT COALESCE(o_orderpriority, '<pre-schema>') AS priority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(count(o_orderpriority) AS BIGINT) AS n_with_priority,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM unioned
        GROUP BY COALESCE(o_orderpriority, '<pre-schema>')
    """,
    doc="Schema evolution across parquet generations: generation 1 "
    "writes orders WITHOUT the priority column (even keys), generation "
    "2 appends files WITH it (odd keys) into the same dataset; a "
    "mergeSchema read unions the footers, null-backfills the old "
    "generation, and the aggregate proves per-generation fidelity "
    "(null counts + decimal sums). This is how long-lived training "
    "datasets actually grow — columns appear mid-corpus and readers "
    "must not reprocess old files. mergeSchema costs one footer pass "
    "at read; production pins the merged schema in a catalog after "
    "first contact.",
    tags=("formats", "parquet", "schema"),
)
def format_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    o = load(spark, sf_dir, "orders")
    path = _roundtrip_dir("evolve", sf_dir)
    # Two write generations with different schemas into one dataset.
    shutil.rmtree(path, ignore_errors=True)
    o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice").write.parquet(
        path
    )
    o.filter(F.col("o_orderkey") % 2 != 0).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.mode("append").parquet(path)
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return back.groupBy(
        F.coalesce(F.col("o_orderpriority"), F.lit("<pre-schema>")).alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count("o_orderpriority").alias("n_with_priority"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
    )


def _build_2commit(ev: DataFrame):
    """Builder for the shared two-commit events table (pre-/post-
    Jan 15 slices) — run under txlog.build_once so concurrent queries
    construct it atomically instead of racing a shared incremental
    build."""

    def build(t):
        cut = F.lit("2024-01-15 00:00:00").cast("timestamp")
        t.append(ev.filter(F.col("ts") < cut))
        t.append(ev.filter(F.col("ts") >= cut))

    return build


def _build_sliced(li: DataFrame, max_ok: int, n_slices: int):
    """Builder for the lineitem tables cut into ``n_slices`` commits by
    l_orderkey band — shared by the skipping, delete and history
    queries, each under its own build_once key because the latter two
    mutate their table after the build."""

    def build(t):
        for i in range(n_slices):
            # Slice 0 opens at -1: keys may START at 0 and a > 0 lower
            # bound would silently drop them from the table (caught by
            # the delete query's complement-band oracle).
            lo_i = -1 if i == 0 else (max_ok * i) // n_slices
            hi_i = max_ok if i == n_slices - 1 else (max_ok * (i + 1)) // n_slices
            t.append(
                li.filter(
                    (F.col("l_orderkey") > F.lit(lo_i))
                    & (F.col("l_orderkey") <= F.lit(hi_i))
                )
            )

    return build


def _orders_cdf(spark: SparkSession, sf_dir: str):
    """The three-commit orders table (append, merge upsert, range
    delete) whose change feed format_txlog_cdf and format_txlog_ivm
    read: one builder under one build_once key, so whichever query
    runs first builds the table both see."""
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import table_path
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
        build_once,
    )

    def build(t):
        orders = load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        max_key = orders.agg(F.max("o_orderkey")).first()[0]
        t.append(
            orders.filter(F.col("o_orderkey") % 3 != 0).repartitionByRange(
                8, "o_orderkey"
            )
        )
        upsert = orders.filter(
            (F.col("o_orderkey") % 2 == 0)
            & (F.col("o_orderkey") <= max_key // 8)
        ).withColumn("o_totalprice", F.col("o_totalprice") * 2)
        t.merge(spark, upsert, "o_orderkey")
        t.delete_range(
            spark, "o_orderkey", max_key // 2 + 1, (5 * max_key) // 8
        )

    return build_once("orders_cdf", table_path(sf_dir, "orders"), 2, build)


@query(
    "format_time_travel",
    oracle="""
        SELECT 1 AS version, event_type, CAST(count(*) AS BIGINT) AS n_events
        FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
        GROUP BY event_type
        UNION ALL
        SELECT 2 AS version, event_type, CAST(count(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY event_type
    """,
    doc="TIME TRAVEL over a transaction-log table (operators/txlog.py "
    "— the Delta mechanism in miniature: immutable parquet file "
    "groups + numbered JSON commits, atomically published by "
    "create-exclusive link, snapshots resolved by log replay): the "
    "events table is loaded as two commits (days < Jan 15, then the "
    "rest), and the query reads BOTH versions of the same table — "
    "version 1 must equal the historical prefix, version 2 the full "
    "table, byte-for-byte against the raw-data oracle. No file is "
    "ever rewritten, so old versions stay consistent under "
    "concurrent readers; log size is O(commits) metadata whatever "
    "the data volume.",
    tags=("format", "txlog", "time-travel"),
)
def format_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import table_path
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
        build_once,
    )

    ev = load(spark, sf_dir, "events")
    t = build_once(
        "events_2commit", table_path(sf_dir, "events"), 1, _build_2commit(ev)
    )
    out = None
    for v, tag in ((0, 1), (1, 2)):
        snap = (
            t.snapshot(spark, version=v)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.lit(tag).alias("version"), "event_type", "n_events")
        )
        out = snap if out is None else out.unionByName(snap)
    return out


@query(
    "format_incremental_read",
    oracle="""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
        FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
        GROUP BY event_type
    """,
    doc="INCREMENTAL READ over the transaction-log table (the "
    "change-data-feed read path): consume ONLY the files added "
    "between two versions — here commit 1's delta on the same "
    "two-commit events table format_time_travel builds — instead of "
    "re-reading the snapshot and diffing. This is how a downstream "
    "job tails a 100 TB table for pennies: the increment's cost is "
    "proportional to the CHANGE, the log replay that finds it is "
    "metadata-only, and immutable file groups mean the delta is "
    "exactly the files the commit names, never a partial rewrite. "
    "Values oracled against the raw events the second commit "
    "ingested.",
    tags=("format", "txlog", "cdc", "incremental"),
)
def format_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import table_path
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
        build_once,
    )

    ev = load(spark, sf_dir, "events")
    t = build_once(
        "events_2commit", table_path(sf_dir, "events"), 1, _build_2commit(ev)
    )
    # Files added strictly AFTER version 0, up to version 1 = the delta.
    before = set(t.live_files(0))
    delta = [f for f in t.live_files(1) if f not in before]
    return (
        spark.read.parquet(*delta)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@query(
    "format_txlog_optimize",
    oracle="""
        SELECT 1 AS version, event_type, CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY event_type
        UNION ALL
        SELECT 2 AS version, event_type, CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY event_type
    """,
    doc="OPTIMIZE composed with versioning: the two-commit events "
    "txlog table is compacted by a third commit that ADDS one merged "
    "file group and REMOVES the fragmented ones — identical content, "
    "fewer files — and because compaction is just another commit over "
    "immutable files, the PRE-compaction version remains readable and "
    "bit-identical (both versions here must equal the raw-table "
    "oracle). This is the maintenance contract every lakehouse "
    "guarantees: layout rewrites never invalidate history or break "
    "concurrent readers pinned to old snapshots. File-count shrink is "
    "unit-asserted in tests/test_round5_units.py.",
    tags=("format", "txlog", "maintenance", "compaction"),
)
def format_txlog_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import table_path
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
        build_once,
    )

    ev = load(spark, sf_dir, "events")

    def build(t):
        cut = F.lit("2024-01-15 00:00:00").cast("timestamp")
        t.append(ev.filter(F.col("ts") < cut).repartition(8))
        t.append(ev.filter(F.col("ts") >= cut).repartition(8))
        # OPTIMIZE: same rows, one file group, committed like any write.
        t.overwrite(t.snapshot(spark).coalesce(1))

    t = build_once("events_optimize", table_path(sf_dir, "events"), 2, build)
    out = None
    for v, tag in ((1, 1), (2, 2)):
        snap = (
            t.snapshot(spark, version=v)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.lit(tag).alias("version"), "event_type", "n_events")
        )
        out = snap if out is None else out.unionByName(snap)
    return out


@query(
    "format_txlog_constraints",
    oracle="""
        SELECT 'final_version' AS metric, CAST(2 AS BIGINT) AS value
        UNION ALL
        SELECT 'n_rows', CAST(count(*) AS BIGINT) FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        UNION ALL
        SELECT 'rejected_batches', CAST(1 AS BIGINT)
        UNION ALL
        SELECT 'n_constraints', CAST(1 AS BIGINT)
    """,
    doc="CHECK constraints on the transaction-log table "
    "(operators/txlog.py set_constraint — write-time data quality, "
    "the Delta CHECK mechanism): the constraint is itself a "
    "metadata-only commit replayed from the log, and every "
    "append/overwrite validates its batch in ONE aggregate pass "
    "(NULL evaluates as violation) BEFORE any file is referenced — a "
    "refused batch raises ConstraintViolation and leaves version, "
    "live files, and every reader untouched (the same atomicity that "
    "protects crashed writes). This query builds an orders table "
    "with `o_totalprice >= 0`, appends two clean slices, then proves "
    "a poisoned batch (negated prices) is REJECTED on every run: the "
    "final version, row count, rejection count, and constraint count "
    "all value-check against the raw data. At 100 TB validation cost "
    "is one map-side aggregate over the incoming batch only — never "
    "the table.",
    tags=("format", "txlog", "maintenance"),
)
def format_txlog_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import table_path
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
        ConstraintViolation,
        build_once,
    )

    orders = load(spark, sf_dir, "orders")

    def build(t):
        t.set_constraint("non_negative_price", "o_totalprice >= 0")
        t.append(orders.filter(F.col("o_orderpriority") == "1-URGENT"))
        t.append(orders.filter(F.col("o_orderpriority") == "2-HIGH"))

    t = build_once("orders_checked", table_path(sf_dir, "orders"), 2, build)
    # The poisoned batch runs EVERY call — enforcement is proven per
    # run, and a refused append changes no state (idempotent probe).
    poisoned = orders.filter(F.col("o_orderpriority") == "3-MEDIUM").withColumn(
        "o_totalprice", -F.col("o_totalprice")
    )
    rejected = 0
    try:
        t.append(poisoned)
    except ConstraintViolation:
        rejected = 1
    rows = [
        ("final_version", t.latest_version()),
        ("n_rows", t.snapshot(spark).count()),
        ("rejected_batches", rejected),
        ("n_constraints", len(t.constraints())),
    ]
    return spark.createDataFrame(rows, "metric string, value bigint")


#: Corrupt-record fixture: rows 0..N-1, every MULT-th row malformed.
CSV_BAD_N = 120
CSV_BAD_MULT = 10


@query(
    "format_csv_corrupt_records",
    oracle=f"""
        WITH rows_t AS (SELECT unnest(range(0, {CSV_BAD_N})) AS i),
        tagged AS (
            SELECT i, (i % {CSV_BAD_MULT} = 0) AS bad FROM rows_t
        )
        SELECT 'permissive_good' AS metric,
               CAST(count(*) FILTER (NOT bad) AS BIGINT) AS n,
               CAST(sum(i * 7) FILTER (NOT bad) AS BIGINT) AS checksum
        FROM tagged
        UNION ALL
        SELECT 'permissive_corrupt',
               CAST(count(*) FILTER (bad) AS BIGINT),
               CAST(0 AS BIGINT)
        FROM tagged
        UNION ALL
        SELECT 'dropmalformed',
               CAST(count(*) FILTER (NOT bad) AS BIGINT),
               CAST(sum(i * 7) FILTER (NOT bad) AS BIGINT)
        FROM tagged
    """,
    doc="Bad-record tolerance on the CSV read path: a generated file "
    f"of {CSV_BAD_N} rows poisons every {CSV_BAD_MULT}th row "
    "(non-numeric value in a LONG column), read twice — PERMISSIVE "
    "mode must route exactly the poisoned rows into "
    "_corrupt_record (good rows keep exact value checksums), "
    "DROPMALFORMED must silently keep exactly the complement. The "
    "oracle reproduces every count and checksum from the same "
    "arithmetic formula that generated the file, so the parser's "
    "classification is value-checked, not assumed — the difference "
    "between 'the job didn't crash' and 'we know precisely which "
    "rows survived', which is what an ETL audit needs. At 100 TB "
    "this is the standard quarantine pattern: PERMISSIVE + a "
    "corrupt-record sink, with DROPMALFORMED reserved for "
    "quarantine-later backfills.",
    tags=("format", "csv", "cleaning"),
)
def format_csv_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    target = tempfile.mkdtemp(prefix="dps_badcsv_")
    path = os.path.join(target, "rows.csv")
    with open(path, "w") as f:
        for i in range(CSV_BAD_N):
            if i % CSV_BAD_MULT == 0:
                f.write(f"{i},not_a_number\n")  # poisons the LONG column
            else:
                f.write(f"{i},{i * 7}\n")
    perm = persist(
        spark.read.schema("i long, v long, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    good = perm.filter(F.col("_corrupt_record").isNull()).agg(
        F.lit("permissive_good").alias("metric"),
        F.count("*").alias("n"),
        F.sum("v").alias("checksum"),
    )
    corrupt = perm.filter(F.col("_corrupt_record").isNotNull()).agg(
        F.lit("permissive_corrupt").alias("metric"),
        F.count("*").alias("n"),
        F.lit(0).cast("long").alias("checksum"),
    )
    dropped = (
        spark.read.schema("i long, v long")
        .option("mode", "DROPMALFORMED")
        .csv(path)
        .agg(
            F.lit("dropmalformed").alias("metric"),
            F.count("*").alias("n"),
            F.sum("v").alias("checksum"),
        )
    )
    return good.unionAll(corrupt).unionAll(dropped)


@query(
    "format_txlog_checkpoint",
    oracle="""
        SELECT 9 AS version, event_type, CAST(count(*) AS BIGINT) AS n_events
        FROM events WHERE day(ts) <= 20
        GROUP BY event_type
        UNION ALL
        SELECT 11 AS version, event_type, CAST(count(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY event_type
    """,
    doc="CHECKPOINTED log replay (operators/txlog.py round-8 "
    "compaction): the events table is loaded as TWELVE two-day "
    "commits, crossing the CHECKPOINT_INTERVAL=10 boundary so a "
    "rolled-up state checkpoint exists at version 10. The query reads "
    "version 9 (below the checkpoint — full prefix replay) and "
    "version 11 (above it — replay = checkpoint + 1 commit file) and "
    "both snapshots must match the raw-data oracle byte-for-byte, "
    "proving compaction changes replay COST, never replay RESULT. "
    "The bounded-read contract itself is asserted in-query (replay "
    "past the checkpoint must touch <= CHECKPOINT_INTERVAL commit "
    "files) and unit-pinned in tests/test_round8_units.py. This is "
    "the Delta/Iceberg pattern that keeps snapshot resolution O(1) "
    "in table age at 100 TB.",
    tags=("format", "txlog", "time-travel", "checkpoint"),
)
def format_txlog_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import table_path
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
        CHECKPOINT_INTERVAL,
        build_once,
    )

    ev = load(spark, sf_dir, "events")

    def build(t):
        day = F.dayofmonth("ts")
        for i in range(12):
            if i < 11:
                sl = ev.filter((day >= 2 * i + 1) & (day <= 2 * i + 2))
            else:
                sl = ev.filter(day >= 23)
            t.append(sl)

    t = build_once("events_12commit", table_path(sf_dir, "events"), 11, build)
    assert t._checkpoints(), "no checkpoint after 12 commits"
    # Replay above the checkpoint must be bounded by the interval.
    t.live_files(11)
    assert t.last_replay_reads <= CHECKPOINT_INTERVAL, t.last_replay_reads
    out = None
    for v in (9, 11):
        snap = (
            t.snapshot(spark, version=v)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.lit(v).alias("version"), "event_type", "n_events")
        )
        out = snap if out is None else out.unionByName(snap)
    return out


@query(
    "format_txlog_merge",
    oracle="""
        WITH base AS (
            SELECT o_orderkey, o_orderpriority, o_totalprice
            FROM orders WHERE o_orderkey % 3 <> 0
        ),
        upsert AS (
            SELECT o_orderkey, o_orderpriority, o_totalprice * 2 AS o_totalprice
            FROM orders
            WHERE o_orderkey % 2 = 0
              AND o_orderkey <= (SELECT max(o_orderkey) / 8 FROM orders)
        ),
        merged AS (
            SELECT * FROM upsert
            UNION ALL
            SELECT b.* FROM base b
            WHERE NOT EXISTS (SELECT 1 FROM upsert u
                              WHERE u.o_orderkey = b.o_orderkey)
        )
        SELECT 0 AS version, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM base GROUP BY o_orderpriority
        UNION ALL
        SELECT 1 AS version, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM merged GROUP BY o_orderpriority
    """,
    doc="MERGE (upsert) on the transaction-log table — file-level "
    "copy-on-write, the Delta/Iceberg mechanism (operators/txlog.py "
    "merge, round 9): the base table (orderkey % 3 <> 0, "
    "range-partitioned into 8 file groups) is merged with an upsert "
    "batch (even keys in the LOWEST eighth of the key range, at "
    "doubled price — updates for keys already present, inserts for "
    "the rest). Only files CONTAINING a matched key are "
    "rewritten (found by a _metadata.file_path semi-join against "
    "the broadcast source keys); untouched files carry into v1 by "
    "reference — asserted in-query (the carried set is non-empty "
    "and byte-identical paths). Both the PRE-merge snapshot (v0, "
    "proving time travel survives row-level updates) and the merged "
    "v1 value-check against the recompute-from-raw oracle. At "
    "100 TB merge cost is proportional to TOUCHED files — a day's "
    "upsert rewrites a day's files, never the table.",
    tags=("format", "txlog", "merge", "cdc"),
)
def format_txlog_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import table_path
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
        build_once,
    )

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )

    # The upsert hits only the LOWEST eighth of the key range; the base
    # is range-partitioned into 8 file groups, so the merge rewrites
    # the low-range file(s) and carries the rest by reference — the
    # COW locality the assertion below pins. The max-key aggregate runs
    # inside the one-time builder, never on the warm path.
    def build(t):
        max_key = orders.agg(F.max("o_orderkey")).first()[0]
        t.append(
            orders.filter(F.col("o_orderkey") % 3 != 0).repartitionByRange(
                8, "o_orderkey"
            )
        )
        upsert = orders.filter(
            (F.col("o_orderkey") % 2 == 0)
            & (F.col("o_orderkey") <= max_key / 8)
        ).withColumn("o_totalprice", F.col("o_totalprice") * 2)
        t.merge(spark, upsert, "o_orderkey")

    t = build_once("orders_merge", table_path(sf_dir, "orders"), 1, build)
    v0, v1 = set(t.live_files(0)), set(t.live_files(1))
    carried = v0 & v1
    # COW contract: the merge rewrote SOME files (the upsert keys are
    # spread across groups) but carried at least one untouched file
    # by reference, byte-identically (same path, immutable).
    assert v1 != v0, "merge must commit new files"
    assert carried or len(v0) == 0, "no files carried — COW degenerated to overwrite"
    out = None
    for v in (0, 1):
        snap = (
            t.snapshot(spark, version=v)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_price"),
            )
            .select(
                F.lit(v).alias("version"),
                "o_orderpriority",
                "n_orders",
                "total_price",
            )
        )
        out = snap if out is None else out.unionByName(snap)
    return out


@query(
    "format_txlog_skipping",
    oracle="""
        WITH m AS (SELECT max(l_orderkey) AS mx FROM lineitem)
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem, m
        WHERE l_orderkey > mx // 4 AND l_orderkey <= (2 * mx) // 5
        GROUP BY l_returnflag
    """,
    doc="DATA SKIPPING over the transaction-log table: every commit "
    "records per-file column min/max/nulls lifted from the parquet "
    "FOOTERS of the files it just wrote (a metadata-only read, no "
    "second data pass), carried through log replay and checkpoints "
    "like the live-set itself (operators/txlog.py _file_stats/prune). "
    "The table is lineitem appended as 8 disjoint l_orderkey range "
    "slices; the query asks for a ~15% key band, and "
    "skipping_snapshot() opens ONLY the files whose recorded range "
    "can intersect it — asserted in-query to be under half the live "
    "set — then re-applies the real predicate (pruning is a safe "
    "superset, exactly Delta/Iceberg's contract). At 100 TB this is "
    "THE first-line scan reducer: the decision costs one log replay "
    "of METADATA, before any footer or data byte of the skipped "
    "files is touched. Files with no usable stats (legacy commits, "
    "string/NaN columns) are always kept — pruning can never lose "
    "rows, which is what the oracle (raw lineitem, same band) "
    "value-checks.",
    tags=("format", "txlog", "skipping", "pruning"),
)
def format_txlog_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import table_path
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
        build_once,
    )

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    max_ok = li.agg(F.max("l_orderkey")).first()[0]
    n_slices = 8
    t = build_once(
        "lineitem_sliced_v2", table_path(sf_dir, "lineitem"), n_slices - 1,
        _build_sliced(li, max_ok, n_slices),
    )
    lo, hi = max_ok // 4, (2 * max_ok) // 5
    # prune() bounds are inclusive; the predicate is (lo, hi], so ask
    # for [lo+1, hi] — integer keys make the two ranges identical.
    kept, total = t.prune("l_orderkey", lo + 1, hi)
    assert kept and total and len(kept) * 2 < total, (
        f"data skipping did not engage: kept {len(kept)} of {total} files"
    )
    return (
        t.skipping_snapshot(spark, "l_orderkey", lo + 1, hi)
        .filter((F.col("l_orderkey") > lo) & (F.col("l_orderkey") <= hi))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


@query(
    "format_txlog_delete",
    oracle="""
        WITH m AS (SELECT max(l_orderkey) AS mx FROM lineitem)
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem, m
        WHERE NOT (l_orderkey > mx // 2 AND l_orderkey <= (5 * mx) // 8)
        GROUP BY l_returnflag
    """,
    doc="COW DELETE driven by data skipping (operators/txlog.py "
    "delete_range): on its own 8-slice l_orderkey txlog table (same "
    "layout as format_txlog_skipping, separate scratch root so the "
    "two queries never mutate each other's table), a retention-style "
    "delete of the (mx/2, 5mx/8] key band. prune() narrows candidate "
    "files from the log's per-file stats — asserted in-query to be "
    "under half the live set — a _metadata.file_path scan over just "
    "those candidates finds the true holders, and only they are "
    "rewritten without the band; all other files carry by reference. "
    "The delete is committed ONCE (a re-run finds no matching rows "
    "and commits nothing — idempotent), the pre-delete snapshot "
    "stays readable (asserted: version-(n-1) row count unchanged), "
    "and the post-delete aggregate is value-checked against the raw "
    "table with the band NOT-ed out. At 100 TB this is GDPR/retention "
    "DML whose cost is the overlap, never the table.",
    tags=("format", "txlog", "delete", "skipping"),
)
def format_txlog_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import table_path
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
        build_once,
    )

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    max_ok = li.agg(F.max("l_orderkey")).first()[0]
    n_slices = 8
    t = build_once(
        "lineitem_sliced_del_v2", table_path(sf_dir, "lineitem"), n_slices - 1,
        _build_sliced(li, max_ok, n_slices),
    )
    lo, hi = max_ok // 2, (5 * max_ok) // 8
    pre_version = t.latest_version()
    pre_rows = t.snapshot(spark, version=n_slices - 1).count()
    candidates, total = t.prune("l_orderkey", lo + 1, hi)
    assert total and len(candidates) * 2 < total, (
        f"skipping did not narrow the delete: {len(candidates)} of {total}"
    )
    version, rewritten, _ = t.delete_range(spark, "l_orderkey", lo + 1, hi)
    if pre_version == n_slices - 1:
        # First run this store: the delete must have landed as ONE new
        # commit that rewrote only the pruned candidates.
        assert version == n_slices and 0 < rewritten <= len(candidates), (
            f"delete commit shape: v{version}, rewrote {rewritten}"
        )
    else:
        # Re-run: idempotent, nothing matched, nothing committed.
        assert version == pre_version and rewritten == 0
    # Time travel across DML: the pre-delete snapshot is untouched.
    assert t.snapshot(spark, version=n_slices - 1).count() == pre_rows
    return (
        t.snapshot(spark)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


@query(
    "format_txlog_evolution",
    oracle="""
        WITH unioned AS (
            SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
            FROM orders WHERE o_orderkey % 2 = 0
            UNION ALL
            SELECT o_orderkey, o_totalprice, o_orderpriority
            FROM orders WHERE o_orderkey % 2 <> 0
        )
        SELECT COALESCE(o_orderpriority, '<pre-schema>') AS priority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(count(o_orderpriority) AS BIGINT) AS n_with_priority,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM unioned
        GROUP BY COALESCE(o_orderpriority, '<pre-schema>')
    """,
    doc="SCHEMA TRACKING on the txlog table — the catalog-pinned twin "
    "of format_schema_evolution's mergeSchema read: the table's "
    "schema lives IN the commit log (recorded at first commit, grown "
    "by an explicit evolve=True append, replayed and checkpointed "
    "like the live set), so readers resolve it in O(1) metadata — no "
    "N-footer union pass at 100 TB — and writers are ENFORCED "
    "against it (surprise columns and type changes are refused as "
    "SchemaMismatch before any file is referenced). Generation 1 "
    "appends orders WITHOUT the priority column (even keys), "
    "generation 2 adds it via evolve=True (odd keys); the snapshot "
    "read needs no mergeSchema option — the tracked schema "
    "null-fills generation 1 — and the version-0 snapshot still "
    "resolves ITS schema (2 columns, asserted in-query, like the "
    "data of old versions). Aggregate proves per-generation "
    "fidelity against the raw-table oracle.",
    tags=("format", "txlog", "schema"),
)
def format_txlog_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import table_path
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
        build_once,
    )

    o = load(spark, sf_dir, "orders")

    def build(t):
        t.append(
            o.filter(F.col("o_orderkey") % 2 == 0).select(
                "o_orderkey", "o_totalprice"
            )
        )
        t.append(
            o.filter(F.col("o_orderkey") % 2 != 0).select(
                "o_orderkey", "o_totalprice", "o_orderpriority"
            ),
            evolve=True,
        )

    t = build_once("orders_evolve", table_path(sf_dir, "orders"), 1, build)
    # The log carries per-version schemas: v0 pre-evolution, v1 grown.
    assert [f.name for f in t.table_schema(0).fields] == [
        "o_orderkey",
        "o_totalprice",
    ]
    assert t.table_schema().fieldNames()[-1] == "o_orderpriority"
    assert t.snapshot(spark, version=0).columns == ["o_orderkey", "o_totalprice"]
    back = t.snapshot(spark)  # no mergeSchema option anywhere
    return back.groupBy(
        F.coalesce(F.col("o_orderpriority"), F.lit("<pre-schema>")).alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count("o_orderpriority").alias("n_with_priority"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
    )


@query(
    "format_txlog_history",
    oracle="""
        WITH m AS (SELECT max(l_orderkey) AS mx FROM lineitem),
        slices AS (
            SELECT CAST(i AS INT) AS version,
                   'append' AS op,
                   (SELECT CAST(count(*) AS BIGINT) FROM lineitem, m
                    WHERE l_orderkey > CASE WHEN i = 0 THEN -1
                                            ELSE (mx * i) // 8 END
                      AND l_orderkey <= CASE WHEN i = 7 THEN mx
                                             ELSE (mx * (i + 1)) // 8 END
                   ) AS net_rows
            FROM range(8) t(i)
        ),
        del AS (
            SELECT 8 AS version, 'delete' AS op,
                   -(SELECT CAST(count(*) AS BIGINT) FROM lineitem, m
                     WHERE l_orderkey > mx // 2
                       AND l_orderkey <= (5 * mx) // 8) AS net_rows
        )
        SELECT version, op, net_rows FROM slices
        UNION ALL
        SELECT version, op, net_rows FROM del
    """,
    doc="DESCRIBE HISTORY for the txlog table: every commit records "
    "its operation descriptor, and row deltas come from the per-file "
    "stats the commits already carry — the audit trail is a LOG read "
    "(metadata), never a data scan, whatever the table size. The "
    "table is its own 8-slice l_orderkey build (separate scratch "
    "root: DML queries never share a mutable store, so concurrent "
    "sweep shards cannot race each other's deletes) followed by a "
    "band delete; the query emits (version, op, net_rows = "
    "rows_added - rows_removed), which is layout-independent — "
    "appends net the slice counts, the delete nets MINUS the band "
    "count regardless of which files the engine chose to rewrite — "
    "and the oracle reproduces every number from the raw data. "
    "Proves the log's row accounting matches the data it references.",
    tags=("format", "txlog", "history"),
)
def format_txlog_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import table_path
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
        build_once,
    )

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    max_ok = li.agg(F.max("l_orderkey")).first()[0]
    n_slices = 8
    t = build_once(
        "lineitem_sliced_hist", table_path(sf_dir, "lineitem"), n_slices - 1,
        _build_sliced(li, max_ok, n_slices),
    )
    lo, hi = max_ok // 2, (5 * max_ok) // 8
    t.delete_range(spark, "l_orderkey", lo + 1, hi)  # idempotent re-run
    hist = t.history()
    assert [h["operation"] for h in hist] == ["append"] * n_slices + ["delete"]
    assert all(
        h["rows_added"] is not None and h["rows_removed"] is not None
        for h in hist
    ), "stats-backed row accounting must cover every commit"
    rows = [
        (h["version"], h["operation"], h["rows_added"] - h["rows_removed"])
        for h in hist
    ]
    return spark.createDataFrame(rows, "version int, op string, net_rows long")


@query(
    "format_txlog_cdf",
    oracle="""
        WITH m AS (SELECT max(o_orderkey) AS mx FROM orders),
        base AS (
            SELECT o_orderkey, o_orderpriority, o_totalprice
            FROM orders WHERE o_orderkey % 3 <> 0
        ),
        ups AS (
            SELECT o_orderkey, o_orderpriority,
                   o_totalprice * 2 AS o_totalprice
            FROM orders, m
            WHERE o_orderkey % 2 = 0 AND o_orderkey <= mx // 8
        ),
        v1 AS (
            SELECT b.* FROM base b
            WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM ups)
            UNION ALL SELECT * FROM ups
        ),
        changes AS (
            SELECT 0 AS _commit_version, 'insert' AS _change_type,
                   o_totalprice
            FROM base
            UNION ALL
            SELECT 1, 'update_preimage', b.o_totalprice
            FROM base b JOIN ups u ON b.o_orderkey = u.o_orderkey
            UNION ALL
            SELECT 1, 'update_postimage', u.o_totalprice
            FROM ups u JOIN base b ON b.o_orderkey = u.o_orderkey
            UNION ALL
            SELECT 1, 'insert', u.o_totalprice
            FROM ups u ANTI JOIN base b ON b.o_orderkey = u.o_orderkey
            UNION ALL
            SELECT 2, 'delete', v.o_totalprice
            FROM v1 v, m
            WHERE v.o_orderkey > mx // 2 AND v.o_orderkey <= (5 * mx) // 8
        )
        SELECT _commit_version, _change_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
        FROM changes GROUP BY 1, 2
    """,
    doc="CHANGE DATA FEED over the transaction-log table "
    "(operators/txlog.py changes): row-level changes for each commit "
    "derived from its add/remove file sets — the COW-diff "
    "construction Delta uses when no explicit CDC files exist. The "
    "table takes an append (v0), a MERGE upsert (v1: even low-range "
    "keys at doubled price — updates where the key existed, inserts "
    "where it did not), and a range DELETE (v2). The feed classifies "
    "every changed row as insert / update_preimage / "
    "update_postimage / delete by multiset-diffing the removed vs "
    "added files (COW copies untouched rows into the rewrite, so "
    "they cancel exactly) and key-joining the survivors; the oracle "
    "recomputes all four classes from the raw table. This is the "
    "incremental-consumer primitive at 100 TB: a downstream reader "
    "syncs a day's upsert by reading the day's rewritten files, "
    "never the table.",
    tags=("format", "txlog", "cdf", "cdc"),
)
def format_txlog_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _orders_cdf(spark, sf_dir)
    feed = None
    for v in (0, 1, 2):
        part = t.changes(spark, v, "o_orderkey")
        feed = part if feed is None else feed.unionByName(part)
    return feed.groupBy("_commit_version", "_change_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


@query(
    "format_txlog_restore",
    oracle="""
        WITH m AS (SELECT max(o_orderkey) AS mx FROM orders),
        versions AS (
            SELECT 1 AS version, o_orderpriority, o_totalprice
            FROM orders, m
            WHERE NOT (o_orderkey > mx // 2 AND o_orderkey <= (5 * mx) // 8)
            UNION ALL
            SELECT 2, o_orderpriority, o_totalprice FROM orders
        )
        SELECT version, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM versions GROUP BY version, o_orderpriority
    """,
    doc="RESTORE TABLE to a prior version (operators/txlog.py "
    "restore): after a range DELETE (v1), restore-to-v0 lands as a "
    "NEW commit (v2) whose live set is v0's files BY REFERENCE — "
    "asserted in-query (live_files(2) == live_files(0), no data "
    "copied or rewritten; a restore of a 100 TB table is a "
    "metadata-only commit). The mistake stays in history: v1 remains "
    "time-travelable after the restore (asserted), unlike a log "
    "truncation. Both the deleted state (v1) and the restored state "
    "(v2) value-check against the raw table.",
    tags=("format", "txlog", "restore", "time-travel"),
)
def format_txlog_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import table_path
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
        build_once,
    )

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )

    def build(t):
        max_key = orders.agg(F.max("o_orderkey")).first()[0]
        t.append(orders.repartitionByRange(8, "o_orderkey"))
        t.delete_range(
            spark, "o_orderkey", max_key // 2 + 1, (5 * max_key) // 8
        )
        t.restore(0)

    t = build_once("orders_restore", table_path(sf_dir, "orders"), 2, build)
    # Metadata-only restore: v2's live set IS v0's (same paths, by
    # reference), and the deleted intermediate stays readable.
    assert set(t.live_files(2)) == set(t.live_files(0)), (
        "restore must reinstate the target version's exact file set"
    )
    assert set(t.live_files(1)) != set(t.live_files(0)), (
        "the delete under test never rewrote a file"
    )
    out = None
    for v in (1, 2):
        snap = (
            t.snapshot(spark, version=v)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_price"),
            )
            .select(
                F.lit(v).alias("version"),
                "o_orderpriority",
                "n_orders",
                "total_price",
            )
        )
        out = snap if out is None else out.unionByName(snap)
    return out


@query(
    "format_txlog_vacuum",
    oracle="""
        WITH m AS (SELECT max(o_orderkey) AS mx FROM orders)
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM orders, m
        WHERE NOT (o_orderkey > mx // 2 AND o_orderkey <= (5 * mx) // 8)
        GROUP BY o_orderpriority
    """,
    doc="VACUUM (operators/txlog.py vacuum): physically deletes data "
    "files referenced ONLY by versions older than the retention "
    "horizon — here an 8-slice append (v0) then a range DELETE (v1) "
    "that rewrote the overlapping slices; vacuum(keep_versions=1) "
    "removes exactly the pre-delete copies of the rewritten files. "
    "Asserted in-query: after vacuum the on-disk file set EQUALS the "
    "live set of the latest version (no orphans, no leaks — "
    "idempotent on re-run), the latest snapshot still value-checks "
    "against the oracle, and time travel to v0 now FAILS LOUDLY "
    "(missing file) rather than silently serving holes — exactly "
    "Delta's retention trade-off. At 100 TB vacuum is what keeps "
    "storage proportional to the LIVE table instead of its whole "
    "DML history.",
    tags=("format", "txlog", "vacuum", "retention"),
)
def format_txlog_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from data_pipeline_with_hdfs_sql_integration_spark.catalog import table_path
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
        build_once,
        vacuum,
    )

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )

    def build(t):
        max_key = orders.agg(F.max("o_orderkey")).first()[0]
        t.append(orders.repartitionByRange(8, "o_orderkey"))
        t.delete_range(
            spark, "o_orderkey", max_key // 2 + 1, (5 * max_key) // 8
        )

    t = build_once("orders_vacuum", table_path(sf_dir, "orders"), 1, build)
    vacuum(t, keep_versions=1)
    live = set(t.live_files())
    on_disk = {
        os.path.join(t.data_dir, g, f)
        for g in os.listdir(t.data_dir)
        for f in os.listdir(os.path.join(t.data_dir, g))
        if f.endswith(".parquet")
    }
    assert on_disk == live, (
        f"vacuum must leave exactly the live set: {len(on_disk)} on disk"
        f" vs {len(live)} live"
    )
    # The delete rewrote at least one slice, so v0 references at least
    # one now-vacuumed file: time travel past the horizon fails loudly.
    assert set(t.live_files(0)) - live, "delete carried every file?"
    try:
        t.snapshot(spark, version=0).count()
    except Exception:
        pass
    else:
        raise AssertionError(
            "reading a vacuumed version must fail, not serve holes"
        )
    return (
        t.snapshot(spark)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


@query(
    "format_txlog_ivm",
    oracle="""
        WITH m AS (SELECT max(o_orderkey) AS mx FROM orders),
        base AS (
            SELECT o_orderkey, o_orderpriority, o_totalprice
            FROM orders WHERE o_orderkey % 3 <> 0
        ),
        ups AS (
            SELECT o_orderkey, o_orderpriority,
                   o_totalprice * 2 AS o_totalprice
            FROM orders, m
            WHERE o_orderkey % 2 = 0 AND o_orderkey <= mx // 8
        ),
        v1 AS (
            SELECT b.* FROM base b
            WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM ups)
            UNION ALL SELECT * FROM ups
        ),
        v2 AS (
            SELECT v.* FROM v1 v, m
            WHERE NOT (v.o_orderkey > mx // 2
                       AND v.o_orderkey <= (5 * mx) // 8)
        )
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM v2 GROUP BY o_orderpriority
    """,
    doc="INCREMENTAL VIEW MAINTENANCE driven by the change data feed "
    "(operators/txlog.py changes): a downstream grouped aggregate "
    "(count + decimal sum per priority) is maintained by folding in "
    "each commit's CDF deltas — +1/+price for insert and "
    "update_postimage, -1/-price for delete and update_preimage — "
    "NEVER re-reading the base table after v0. Runs on the same "
    "orders_cdf table as format_txlog_cdf (append, merge upsert, "
    "range delete). Sums fold in DECIMAL so the incremental total is "
    "bit-equal to the direct recompute (double addition is not "
    "associative; decimal is exact) — asserted in-query against the "
    "latest-snapshot aggregate AND value-checked against the oracle's "
    "full recompute. At 100 TB this is why CDF exists: refreshing a "
    "materialized view costs a day's rewritten files, not a table "
    "scan.",
    tags=("format", "txlog", "cdf", "ivm"),
)
def format_txlog_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _orders_cdf(spark, sf_dir)

    def signed_agg(df: DataFrame) -> DataFrame:
        sign = F.when(
            F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
        ).otherwise(F.lit(-1))
        return df.groupBy("o_orderpriority").agg(
            F.sum(sign).cast("long").alias("n_orders"),
            F.sum(
                sign.cast("decimal(18,2)")
                * F.col("o_totalprice").cast("decimal(18,2)")
            )
            .cast("decimal(18,2)")
            .alias("total_price"),
        )

    # v0's CDF is the base state (pure inserts); later commits fold in
    # as deltas — the view never touches the table again.
    running = signed_agg(
        t.changes(spark, 0, "o_orderkey")
    )
    for v in range(1, t.latest_version() + 1):
        delta = signed_agg(t.changes(spark, v, "o_orderkey"))
        running = (
            running.unionByName(delta)
            .groupBy("o_orderpriority")
            .agg(
                F.sum("n_orders").cast("long").alias("n_orders"),
                F.sum("total_price")
                .cast("decimal(18,2)")
                .alias("total_price"),
            )
        ).filter(F.col("n_orders") > 0)
    out = running.select(
        "o_orderpriority",
        "n_orders",
        F.col("total_price").cast("double").alias("total_price"),
    )
    # The maintained view must equal the direct recompute exactly —
    # decimal folding makes this bit-stable at any SF.
    direct = (
        t.snapshot(spark)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )
    assert out.exceptAll(direct).isEmpty() and direct.exceptAll(out).isEmpty(), (
        "incremental view diverged from the direct recompute"
    )
    return out


@query(
    "format_txlog_zorder",
    oracle="""
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
        FROM lineitem
        WHERE l_partkey BETWEEN 10 AND 59
          AND l_suppkey BETWEEN 1 AND 5
        GROUP BY l_returnflag
    """,
    doc="OPTIMIZE ZORDER as a transaction-log commit (Delta's "
    "clustered OPTIMIZE): v0 appends lineitem hash-shuffled into 16 "
    "files — every file spans nearly the FULL l_partkey and "
    "l_suppkey ranges, so the log's per-file stats can prune nothing "
    "on either column (asserted). v1 rewrites the live set ordered "
    "by the Morton interleave of both columns (operators/zorder.py), "
    "committed like any overwrite — after which prune() narrows a "
    "range on l_partkey AND on l_suppkey each to at most half the "
    "files (asserted): ONE clustered layout serves range predicates "
    "on BOTH dimensions from commit-log metadata alone. The "
    "pre-optimize version stays readable (layout rewrites never "
    "invalidate history), and the 2-D box aggregate value-checks "
    "against the unordered raw table — clustering can shift "
    "LOCALITY, never rows. At 100 TB this pairing (Z-order rewrite + "
    "log-level stats skipping) is what turns a full-table scan into "
    "an open-few-files point lookup on multi-column filters.",
    tags=("format", "txlog", "zorder", "maintenance", "pruning"),
)
def format_txlog_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import table_path
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
        build_once,
    )
    from data_pipeline_with_hdfs_sql_integration_spark.operators.zorder import (
        identity_partition_keys,
        scale_to_grid,
        zorder2,
    )

    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_returnflag"
    )
    n_files = 16

    def build(t):
        t.append(li.repartition(n_files))
        b = li.agg(
            F.min("l_partkey"), F.max("l_partkey"),
            F.min("l_suppkey"), F.max("l_suppkey"),
        ).first()
        z = zorder2(
            scale_to_grid(F.col("l_partkey"), b[0], b[1]),
            scale_to_grid(F.col("l_suppkey"), b[2], b[3]),
        )
        # TILE-ALIGNED file placement: with 16 files over a 256x256
        # grid the intended layout is the 4x4 macro-tile grid — file i
        # holds exactly Morton tile i (the code's top 4 bits).
        # repartitionByRange(_z) approximates this from a row SAMPLE,
        # so boundaries land off tile edges run-to-run and a boundary
        # file straddles two tiles; the quarter-range pruning bound
        # asserted below (a band covering <=1/4 of a column's range
        # touches <=2 of 4 grid columns = <=8 of 16 tiles) then fails
        # intermittently on the straddler. identity_partition_keys
        # makes the shuffle a direct partitioner: tile -> its own
        # file, zero sampling, bound holds by construction.
        keys = identity_partition_keys(spark, n_files)
        tile_key = F.element_at(
            F.array(*[F.lit(k).cast("long") for k in keys]),
            (F.shiftright(F.col("_z"), 12) + 1).cast("int"),
        )
        t.overwrite(
            t.snapshot(spark)
            .withColumn("_z", z)
            .withColumn("_tk", tile_key)
            .repartition(n_files, "_tk")
            .sortWithinPartitions("_z")
            .drop("_z", "_tk")
        )

    # Kind carries the layout generation: "zorder_tiled" = the
    # tile-aligned direct-partitioner rewrite; stores built by the
    # sampled-range layout key differently and are never reused here.
    t = build_once("lineitem_zorder_tiled", table_path(sf_dir, "lineitem"), 1, build)
    # Column spans for the selectivity classification come from the
    # txlog's own per-file stats (union of live-file [min, max] at
    # v0, which holds every row) — metadata only; the previous full
    # lineitem min/max aggregate here re-scanned the table inside the
    # timed query solely to classify the band (round-10 ADVICE).
    pk = t.column_range("l_partkey", version=0)
    sk = t.column_range("l_suppkey", version=0)
    for col, lo, hi, cmin, cmax in (
        ("l_partkey", 10, 59, pk[0], pk[1]),
        ("l_suppkey", 1, 5, sk[0], sk[1]),
    ):
        kept0, total0 = t.prune(col, lo, hi, version=0)
        kept1, total1 = t.prune(col, lo, hi, version=1)
        # Hash-shuffled files all overlap any interior range (asserted
        # via total0 <= kept0+1); the Z-clustered rewrite must skip at
        # least half the files whenever the band is actually selective
        # (covers <= 1/4 of the column's value range — a 16-file Morton
        # layout is a ~4x4 grid, so a quarter-range band touches ~1-2
        # grid columns). At sf0.001 the suppkey band 1-5 spans HALF the
        # 0-9 supplier range, so no layout could prune it; the check
        # degrades to "clustering never prunes less" there.
        selective = (hi - lo + 1) * 4 <= (cmax - cmin + 1)
        bound = total1 // 2 if selective else len(kept0)
        assert len(kept1) <= bound and total1 <= len(kept0) + 1, (
            f"zorder skipping on {col}: {len(kept0)}/{total0} before,"
            f" {len(kept1)}/{total1} after (selective={selective})"
        )
    box = (
        t.skipping_snapshot(spark, "l_partkey", 10, 59)
        .filter(
            F.col("l_partkey").between(10, 59)
            & F.col("l_suppkey").between(1, 5)
        )
    )
    return box.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )

"""Structured Streaming queries, driven to completion with
Trigger.availableNow so results are deterministic and oracle-checkable
against batch SQL (the strongest correctness statement you can make
about a streaming operator: its bounded-input result equals the batch
semantics).

Watermarks are declared on every query — on an unbounded source they
bound state (late rows beyond the watermark are dropped); on this
bounded replay they don't change the result because complete-mode
emission happens after the input is exhausted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.registry import query
from data_pipeline_with_hdfs_sql_integration_spark.streaming import stateful
from data_pipeline_with_hdfs_sql_integration_spark.streaming import windows as W


@query(
    "stream_tumbling_counts",
    oracle="""
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    doc="Tumbling 1-hour windows per event_type with a 15-minute "
    "watermark: count + exact decimal sum. Streaming state is one row "
    "per (window, type); at scale the watermark is what keeps state "
    "finite.",
    tags=("streaming",),
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.tumbling_counts(spark, sf_dir)


@query(
    "stream_sliding_counts",
    oracle="""
        SELECT time_bucket(INTERVAL '15 minutes', ts) - (j * INTERVAL '15 minutes') AS window_start,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events, generate_series(0, 3) t(j)
        GROUP BY 1
    """,
    doc="Sliding windows (1 hour wide, 15-minute slide): each event lands "
    "in exactly width/slide = 4 windows; the oracle replays that "
    "expansion explicitly.",
    tags=("streaming",),
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.sliding_counts(spark, sf_dir)


@query(
    "stream_session_windows",
    oracle="""
        WITH marked AS (
            SELECT user_id, ts,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             > INTERVAL '30 minutes'
                        OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ),
        sessions AS (
            SELECT user_id, ts,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS session_id
            FROM marked
        )
        SELECT min(ts) AS session_start,
               max(ts) + INTERVAL '30 minutes' AS session_end,
               user_id,
               CAST(count(*) AS BIGINT) AS n_events
        FROM sessions
        GROUP BY user_id, session_id
    """,
    doc="Session windows (30-minute gap) per user via native "
    "session_window in a streaming aggregation; the oracle reproduces "
    "the gaps-and-islands semantics (session end = last event + gap). "
    "State per open session, closed by the watermark at scale.",
    tags=("streaming", "session"),
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.session_windows(spark, sf_dir)


@query(
    "stream_static_join",
    oracle="""
        SELECT c.c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events e
        JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c.c_mktsegment
    """,
    doc="Stream-static join: the event stream enriched against the "
    "customer dimension (broadcast hash join per micro-batch) and "
    "aggregated per market segment. The static side never enters "
    "streaming state — only the post-join aggregate does.",
    tags=("streaming", "join"),
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.static_join_counts(spark, sf_dir)


@query(
    "stream_dedup_counts",
    oracle="""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY event_type
    """,
    doc="Streaming deduplication: the input is delivered twice "
    "(at-least-once replay), dropDuplicates on (event_id, ts) absorbs "
    "the duplicates, and the downstream count per type equals the "
    "exactly-once batch answer — two chained stateful operators under "
    "one watermark, which also bounds the dedup state.",
    tags=("streaming", "dedup"),
)
def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.dedup_counts(spark, sf_dir)


@query(
    "stream_stream_join",
    oracle="""
        SELECT a.user_id, a.ts AS signup_ts, b.ts AS purchase_ts
        FROM events a
        JOIN events b
          ON a.user_id = b.user_id
         AND a.event_type = 'signup' AND b.event_type = 'purchase'
         AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL '30 minutes'
    """,
    doc="Stream-stream inner join: signup→purchase funnels within 30 "
    "minutes per user. Watermarks on both sides plus the bounded "
    "event-time join condition keep each side's join state finite — "
    "late rows past the watermark are dropped, matched rows emit in "
    "append mode. The oracle is the batch self-join with the same "
    "interval predicate.",
    tags=("streaming", "join"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.stream_stream_pairs(spark, sf_dir)


@query(
    "stream_stateful_user_totals",
    oracle="""
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(*) FILTER (value > 500.0) AS BIGINT) AS n_high_value,
               arg_max(event_type, ts) AS last_event_type
        FROM events
        GROUP BY user_id
    """,
    doc="Custom stateful operator via applyInPandasWithState: per-user "
    "GroupState (counts + latest event) updated per Arrow batch, emitted "
    "in update mode. On a bounded replay the final state equals the batch "
    "group-by the oracle computes. State is O(users); at scale a "
    "ProcessingTimeTimeout would evict idle keys.",
    tags=("streaming", "stateful"),
)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stateful.user_running_totals(spark, sf_dir)


@query(
    "stream_stateful_user_totals_tws",
    oracle="""
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(*) FILTER (value > 500.0) AS BIGINT) AS n_high_value,
               arg_max(event_type, ts) AS last_event_type
        FROM events
        GROUP BY user_id
    """,
    doc="The SAME per-user stateful totals on transformWithStateInPandas "
    "(Spark 4's StatefulProcessor API — typed per-variable state "
    "handles, RocksDB-backed column families), value-checked against "
    "the identical batch oracle as the applyInPandasWithState variant. "
    "Rounds 2-6 gated this on the container's broken google.protobuf; "
    "round 7 unblocked it by aliasing the google-cloud-sdk's vendored "
    "pure-Python protobuf runtime into the streaming worker "
    "(_vendor/google, session.tws_ready). Falls back to "
    "NotImplementedError only when no protobuf runtime exists on the "
    "host at all.",
    tags=("streaming", "stateful"),
)
def stream_stateful_user_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stateful.user_running_totals_tws(spark, sf_dir)


@query(
    "stream_merge_snapshot",
    oracle="""
        SELECT user_id, ts AS last_ts, event_type AS last_event_type,
               CAST(value AS DOUBLE) AS last_value
        FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC, event_id DESC) AS rn
            FROM events) t
        WHERE rn = 1
    """,
    doc="Streaming materialized view: foreachBatch MERGE maintains a "
    "latest-event-per-user parquet snapshot (per-batch max_by reduce, "
    "then keep-newer merge into the snapshot — idempotent under batch "
    "replay). After the bounded replay the snapshot equals the batch "
    "latest-per-key oracle; maxFilesPerTrigger=1 forces multiple "
    "batches so the merge path (not just the first-batch path) is "
    "exercised.",
    tags=("streaming", "merge"),
)
def stream_merge_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from data_pipeline_with_hdfs_sql_integration_spark.streaming.sinks import (
        stream_merge_latest_snapshot,
    )

    digest = hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"dps_mergesnap_{digest}")
    # Fresh run each invocation: the snapshot is the query RESULT, so
    # stale state from an earlier code version must not leak in.
    shutil.rmtree(root, ignore_errors=True)
    # Re-stage the events file through a duplicated dir with
    # maxFilesPerTrigger=1 so the merge sees >=2 micro-batches.
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import (
        normalize_events_ts,
        parquet_schema,
        table_path,
    )

    path = table_path(sf_dir, "events")
    schema = parquet_schema(spark, path)
    stage = os.path.join(root, "stage")
    os.makedirs(stage)
    for name in ("events_a.parquet", "events_b.parquet"):
        os.symlink(path, os.path.join(stage, name))
    ev = normalize_events_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    stream_merge_latest_snapshot(spark, ev, f"{root}/snap", f"{root}/ckpt")
    return spark.read.parquet(f"{root}/snap").select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").cast("double").alias("last_value"),
    )


@query(
    "stream_dedup_within_watermark",
    oracle="""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY event_type
    """,
    doc="Streaming dedup with TTL-BOUNDED state "
    "(dropDuplicatesWithinWatermark, Spark 3.5+): unlike plain "
    "dropDuplicates — whose key set grows forever — each key is "
    "remembered only while a replay could still arrive inside the "
    "watermark delay, which is the production contract for unbounded "
    "at-least-once streams (a day's replay horizon = a day of keys in "
    "state, not the stream's lifetime). The doubled delivery here "
    "replays every event within the window, so the per-type counts "
    "equal the exactly-once batch answer; at-least-once duplicates "
    "arriving LATER than the watermark delay are exactly the "
    "documented residual.",
    tags=("streaming", "dedup", "state-ttl"),
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = W.events_stream_duplicated(spark, sf_dir)
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return W.run_to_memory(agg)

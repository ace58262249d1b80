"""Batch sessionization (gaps-and-islands) and null-semantics
operators.

The streaming path (stream_session_windows) uses native
session_window; this is the BATCH equivalent a backfill job runs over
historical data: lag to mark session starts, running sum to number
sessions, then per-user rollups. Two window passes over one shuffle on
user_id — the window specs share the partition key, so Spark sorts
once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import load
from data_pipeline_with_hdfs_sql_integration_spark.registry import query

GAP_MINUTES = 30


@query(
    "sessionize_events",
    oracle=f"""
        WITH marked AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w > INTERVAL '{GAP_MINUTES} minutes'
                        THEN 1 ELSE 0 END AS is_start
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        numbered AS (
            SELECT user_id, ts,
                   sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS session_no
            FROM marked
        ),
        sessions AS (
            SELECT user_id, session_no,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS dur_us
            FROM numbered GROUP BY user_id, session_no
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(max(n_events) AS BIGINT) AS max_session_events,
               CAST(sum(dur_us) AS BIGINT) AS total_session_us
        FROM sessions
        GROUP BY user_id
    """,
    doc=f"Batch sessionization ({GAP_MINUTES}-minute gap): lag marks "
    "session starts, a running sum numbers sessions (gaps-and-islands), "
    "then per-session and per-user rollups. Durations stay in exact "
    "integer microseconds. Matches the semantics of the streaming "
    "session_window path — backfill and live pipelines computing the "
    "same thing is the property that matters operationally.",
    tags=("timeseries", "session"),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = GAP_MINUTES * 60 * 1_000_000
    prev = F.lag("ts").over(w)
    is_start = F.when(
        prev.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev) > gap_us),
        1,
    ).otherwise(0)
    wsum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    numbered = ev.withColumn("session_no", F.sum(is_start).over(wsum))
    sessions = numbered.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("dur_us"),
    )
    return sessions.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
        F.sum("dur_us").alias("total_session_us"),
    )


@query(
    "fn_null_semantics",
    oracle="""
        WITH o AS (
            SELECT o_orderkey, NULLIF(o_orderstatus, 'O') AS status_or_null
            FROM orders
        )
        SELECT COALESCE(status_or_null, '<open>') AS status_bucket,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(status_or_null) AS BIGINT) AS n_non_null,
               CAST(count(*) FILTER (status_or_null IS NOT DISTINCT FROM NULL) AS BIGINT) AS n_null_safe_matches
        FROM o
        GROUP BY 1
    """,
    doc="Null-semantics corner cases on one derived column: NULLIF "
    "manufactures NULLs, COALESCE buckets them, count(col) skips them "
    "while count(*) doesn't, and the null-safe comparison (Spark <=> / "
    "SQL IS NOT DISTINCT FROM) counts them explicitly. Grouping keys "
    "treat NULL as a regular group in both engines — pinned here so a "
    "regression in any engine's null handling trips the oracle.",
    tags=("functions", "null"),
)
def fn_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("status_or_null"),
    )
    return o.groupBy(
        F.coalesce(F.col("status_or_null"), F.lit("<open>")).alias("status_bucket")
    ).agg(
        F.count("*").alias("n_rows"),
        F.count("status_or_null").alias("n_non_null"),
        F.count(F.when(F.col("status_or_null").eqNullSafe(F.lit(None)), 1)).alias(
            "n_null_safe_matches"
        ),
    )

"""Structured Streaming building blocks over the events table.

The reference has no streaming surface (SURVEY.md §2 "explicitly
absent"); this is north-star extension territory. Pattern: file-source
readStream with an explicit schema → watermark → windowed/sessionized
aggregation → memory sink driven synchronously with
Trigger.availableNow — which makes streaming results deterministic and
therefore oracle-checkable against batch SQL.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import (
    normalize_events_ts,
    parquet_schema,
    table_path,
)


def _linked_stream(spark: SparkSession, path: str, tag: str, names: tuple[str, ...]) -> DataFrame:
    """The single parquet file ``path`` as a bounded file stream, with
    its schema pinned from the static footer (streams cannot infer).
    FileStreamSource requires a directory, so each of ``names`` is a
    zero-copy symlink to ``path`` in a temp dir; two names deliver
    every row twice. The dir is DETERMINISTIC per (tag, source path):
    checkpoints record source file paths, so a random dir per call
    would break checkpoint resume ("Wrong basePath")."""
    schema = parquet_schema(spark, path)
    digest = hashlib.sha256(os.path.abspath(path).encode()).hexdigest()[:16]
    stream_dir = os.path.join(tempfile.gettempdir(), f"dps_{tag}_{digest}")
    os.makedirs(stream_dir, exist_ok=True)
    for name in names:
        link = os.path.join(stream_dir, name)
        if not os.path.islink(link):
            os.symlink(path, link)
    return spark.readStream.schema(schema).parquet(stream_dir)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a bounded file stream. `ts` is normalized to a
    timestamp whatever the physical layout (see catalog.normalize_events_ts)."""
    path = table_path(sf_dir, "events")
    return normalize_events_ts(_linked_stream(spark, path, "stream", ("events.parquet",)))


def run_to_memory(agg: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Drive a streaming aggregation to completion into a memory sink
    and return its rows as a frame. availableNow processes the whole
    bounded input, then the query stops. The memory sink registers its
    table as a temp view in the caller's session; the returned frame
    is resolved to the sink itself, so the view is dropped before
    returning and the rows live as long as the frame."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = agg.sparkSession.table(name)
    agg.sparkSession.catalog.dropTempView(name)
    return out


def events_stream_duplicated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same bounded stream with every event delivered TWICE (two
    symlinks to the same file in the stream dir) — the at-least-once
    delivery a dedup operator exists to absorb."""
    path = table_path(sf_dir, "events")
    names = ("events_a.parquet", "events_b.parquet")
    return normalize_events_ts(_linked_stream(spark, path, "stream2x", names))


def tumbling_counts(spark: SparkSession, sf_dir: str, width: str = "1 hour", watermark: str = "15 minutes") -> DataFrame:
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_dec"),
        )
    )
    return run_to_memory(agg).select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n_events",
        F.col("sum_dec").cast("double").alias("sum_value"),
    )


def sliding_counts(spark: SparkSession, sf_dir: str, width: str = "1 hour", slide: str = "15 minutes") -> DataFrame:
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "15 minutes")
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count("*").alias("n_events"))
    )
    return run_to_memory(agg).select(F.col("w.start").alias("window_start"), "n_events")


def static_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: enrich the event stream with the customer
    dimension (broadcast — the static side is re-read per micro-batch,
    so keeping it broadcastable matters), then aggregate per segment."""
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import load

    ev = events_stream(spark, sf_dir)
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    agg = (
        ev.withWatermark("ts", "15 minutes")
        .join(F.broadcast(cust), ev.user_id == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_dec"),
        )
    )
    return run_to_memory(agg).select(
        "c_mktsegment", "n_events", F.col("sum_dec").cast("double").alias("sum_value")
    )


def dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates over an at-least-once (duplicated)
    delivery, then a downstream aggregation — two chained stateful
    operators sharing one watermark. Including the event-time column in
    the dedup key lets the watermark evict dedup state."""
    ev = events_stream_duplicated(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "15 minutes")
        .dropDuplicates(["event_id", "ts"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
    )
    return run_to_memory(agg).select("event_type", "n_events")


def stream_stream_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: signup followed by a purchase by the
    same user within 30 minutes. Both sides carry watermarks and the
    join condition bounds event-time distance, so each side's state
    buffer is evictable — the two requirements for an unbounded
    stream-stream join to run with finite state."""
    s = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .select("user_id", F.col("ts").alias("signup_ts"))
        .withWatermark("signup_ts", "30 minutes")
    )
    p = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "30 minutes")
    )
    joined = s.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("signup_ts"))
        & (F.col("purchase_ts") <= F.col("signup_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select("user_id", "signup_ts", "purchase_ts")
    return run_to_memory(joined, output_mode="append")


def session_windows(spark: SparkSession, sf_dir: str, gap: str = "30 minutes") -> DataFrame:
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "15 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    return run_to_memory(agg).select(
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "user_id",
        "n_events",
    )


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet as a bounded file stream (plain types, no
    nanos conversion needed)."""
    path = table_path(sf_dir, "documents")
    return _linked_stream(spark, path, "docstream", ("documents.parquet",))


def documents_stream_duplicated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The document stream with every file delivered TWICE (two
    symlinks) — at-least-once corpus ingestion for dedup to absorb."""
    path = table_path(sf_dir, "documents")
    names = ("documents_a.parquet", "documents_b.parquet")
    return _linked_stream(spark, path, "docstream2x", names)

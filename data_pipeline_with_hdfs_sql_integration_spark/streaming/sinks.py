"""Streaming sinks beyond the memory sink: a foreachBatch MERGE into a
plain parquet snapshot (``stream_merge_snapshot``'s sink).

foreachBatch hands each micro-batch to a function as a regular
DataFrame together with a monotonically increasing epoch id. Spark
replays an epoch after a failure, so the batch function must be
idempotent: merging a batch keyed on the user id twice is a no-op,
which makes the snapshot effectively exactly-once.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def stream_merge_latest_snapshot(
    spark: "SparkSession", events, out_path: str, checkpoint: str
) -> None:
    """Streaming materialized view via foreachBatch MERGE: maintain a
    latest-event-per-user snapshot in plain parquet.

    Each micro-batch reduces to its own latest-per-user (max_by over
    the batch), then FULL-OUTER-merges into the snapshot keeping the
    newer row per key. Idempotent under batch replay (merging the same
    batch twice is a no-op), so checkpoint recovery gives effectively
    exactly-once snapshot maintenance without a transactional format.
    """
    from pyspark.sql import functions as F

    from data_pipeline_with_hdfs_sql_integration_spark.catalog import is_complete

    def _merge(batch_df, epoch_id: int) -> None:
        sp = batch_df.sparkSession
        batch_latest = batch_df.groupBy("user_id").agg(
            F.max(F.struct("ts", "event_id", "event_type", "value")).alias("r")
        ).select("user_id", "r.*")
        # Marker check, NOT a bare except: a transient read error on a
        # real snapshot must FAIL the batch (retryable), never silently
        # restart the snapshot from this batch alone.
        if is_complete(out_path):
            current = sp.read.parquet(out_path)
            merged = (
                current.unionByName(batch_latest)
                .groupBy("user_id")
                .agg(F.max(F.struct("ts", "event_id", "event_type", "value")).alias("r"))
                .select("user_id", "r.*")
            )
        else:
            merged = batch_latest
        tmp = out_path.rstrip("/") + f"__epoch{epoch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        final = sp.read.parquet(tmp)
        final.write.mode("overwrite").parquet(out_path)
        import shutil

        shutil.rmtree(tmp)

    q = (
        events.writeStream.outputMode("append")
        .foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

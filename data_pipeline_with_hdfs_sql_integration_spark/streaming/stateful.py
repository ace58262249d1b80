"""Custom stateful streaming operator via applyInPandasWithState.

Per-user running aggregates with explicit GroupState — the building
block for operators Spark's built-in windows can't express (custom
eviction, per-key models, dedup-within-key, ...). Driven with
availableNow + memory sink, so on a bounded replay the emitted state
equals a batch group-by — which is how the oracle checks it.

Worker-closure rule: the state-update function is defined *inside*
the entry point so cloudpickle serializes it by value; a module-level
function would be pickled by reference and fail to import on Python
workers whose sys.path lacks the repo.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from data_pipeline_with_hdfs_sql_integration_spark.streaming.windows import events_stream, run_to_memory

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_high_value", T.LongType()),
        T.StructField("last_event_type", T.StringType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("n_high_value", T.LongType()),
        T.StructField("last_ts", T.LongType()),
        T.StructField("last_event_type", T.StringType()),
    ]
)


def user_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay → one emission per user with final totals."""

    def _update_user_state(key, pdf_iter, state):
        # Self-contained: stdlib/pandas + the state handle only.
        import pandas as pd

        n, hi, last_ts, last_type = state.get if state.exists else (0, 0, -1, "")
        for pdf in pdf_iter:
            n += len(pdf)
            hi += int((pdf["value"] > 500.0).sum())
            idx = pdf["ts"].astype("int64").idxmax()
            ts_max = int(pdf["ts"].astype("int64").loc[idx])
            if ts_max > last_ts:
                last_ts = ts_max
                last_type = str(pdf["event_type"].loc[idx])
        state.update((n, hi, last_ts, last_type))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "n_high_value": [hi],
                "last_event_type": [last_type],
            }
        )

    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy("user_id").applyInPandasWithState(
        _update_user_state,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # availableNow may split the replay into several micro-batches, each
    # re-emitting a user's updated totals — keep the final (max-n) row.
    out = run_to_memory(agg, output_mode="update")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return out.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")


def user_running_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same per-user running totals on the NEW stateful API:
    transformWithStateInPandas (Spark 4's StatefulProcessor), typed
    value state + per-batch Arrow iteration — the API Spark positions
    as applyInPandasWithState's successor (per-state-variable handles,
    timers, TTL). Requires (a) the vendored protobuf shim
    (session.tws_ready — the worker process imports google.protobuf)
    and (b) the RocksDB state store provider (the default HDFS-backed
    provider cannot host TWS's multiple column families); the provider
    conf is set on a child session (session.child_session) that runs
    the stream and holds its memory-sink table, so the shared session
    never sees it.

    Raises NotImplementedError when the environment cannot supply
    protobuf — the registered query keeps the honesty gate the
    COVERAGE.md streaming row documented in rounds 2-6.
    """
    import tempfile

    from data_pipeline_with_hdfs_sql_integration_spark.session import child_session, tws_ready

    if not tws_ready(spark):
        raise NotImplementedError(
            "transformWithStateInPandas needs google.protobuf in the "
            "streaming worker; no wheel and no google-cloud-sdk vendored "
            "runtime found in this environment (probed rounds 2/5/6/7)."
        )
    import pandas as pd  # noqa: F401 — re-imported in the worker closure
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class _UserTotals(StatefulProcessor):
        # Defined in-function (worker-closure rule): cloudpickle must
        # serialize the class by value for the fresh worker process.
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState(
                "totals",
                T.StructType(
                    [
                        T.StructField("n_events", T.LongType()),
                        T.StructField("n_high_value", T.LongType()),
                        T.StructField("last_ts", T.LongType()),
                        T.StructField("last_event_type", T.StringType()),
                    ]
                ),
            )

        def handleInputRows(self, key, rows, timer_values):
            import pandas as pd

            n, hi, last_ts, last_type = (
                self._st.get() if self._st.exists() else (0, 0, -1, "")
            )
            for pdf in rows:
                n += len(pdf)
                hi += int((pdf["value"] > 500.0).sum())
                idx = pdf["ts"].astype("int64").idxmax()
                ts_max = int(pdf["ts"].astype("int64").loc[idx])
                if ts_max > last_ts:
                    last_ts = ts_max
                    last_type = str(pdf["event_type"].loc[idx])
            self._st.update((n, hi, last_ts, last_type))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "n_high_value": [hi],
                    "last_event_type": [last_type],
                }
            )

        def close(self) -> None:
            pass

    rocksdb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    tuned_spark = child_session(spark, {"spark.sql.streaming.stateStore.providerClass": rocksdb})
    ev = events_stream(tuned_spark, sf_dir)
    agg = ev.groupBy("user_id").transformWithStateInPandas(
        _UserTotals(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    name = f"stateful_tws_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="dps_tws_ck_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = tuned_spark.table(name)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return out.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")

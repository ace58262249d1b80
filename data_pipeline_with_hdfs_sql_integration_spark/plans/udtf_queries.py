"""Python UDTF (user-defined table function) surface.

Spark 4's @udtf classes are the table-valued escape hatch: one input
row → many output rows with typed columns, composed via LATERAL join.
Same production caveat as every Python path — row-at-a-time eval, so
keep it off the hot path (the engine's own explode/split queries stay
JVM-side); this exists to prove the extension surface works end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import run_sql
from data_pipeline_with_hdfs_sql_integration_spark.registry import query

MAX_POS = 5


@query(
    "udtf_word_positions",
    oracle=f"""
        WITH w AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '[ \\t\\n\\r]+'), x -> x <> '') AS ws
            FROM documents
        ),
        p AS (
            SELECT doc_id,
                   unnest(list_transform(ws[1:{MAX_POS}],
                          (x, i) -> struct_pack(pos := i - 1, word := x))) AS s
            FROM w
        )
        SELECT CAST(s.pos AS INTEGER) AS pos,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT s.word) AS BIGINT) AS n_distinct_words
        FROM p
        GROUP BY 1
    """,
    doc="Python UDTF: each document expands to its first five "
    "(position, word) pairs via a @udtf class in a LATERAL join, then "
    "an aggregate counts docs and distinct words per position. The "
    "UDTF class is defined in-function so cloudpickle ships it by "
    "value (workers never import this package). Whitespace split "
    "mirrors Python str.split() == regex [ \\t\\n\\r]+ with empties "
    "dropped, which the oracle reproduces.",
    tags=("udtf", "python"),
)
def udtf_word_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType=f"pos int, word string")
    class WordPositions:
        def eval(self, text: str):
            if text is None:
                return
            for i, w in enumerate(text.split()):
                if i >= MAX_POS:
                    break
                yield i, w

    spark.udtf.register("dps_word_positions", WordPositions)
    expanded = run_sql(
        spark,
        sf_dir,
        "SELECT d.doc_id, t.pos, t.word "
        "FROM {documents} d, LATERAL dps_word_positions(d.text) t",
    )
    return expanded.groupBy("pos").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("word").alias("n_distinct_words"),
    )


SESSION_GAP_MINUTES = 30


@query(
    "udtf_session_stats",
    oracle=f"""
        WITH marked AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w > INTERVAL '{SESSION_GAP_MINUTES} minutes'
                        THEN 1 ELSE 0 END AS is_start
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        numbered AS (
            -- Same (ts, event_id) tie-break as the session-start window:
            -- under duplicate timestamps an untie-broken cumulative sum
            -- could reorder a start row among its equal-ts peers and
            -- make session membership nondeterministic.
            SELECT user_id, ts,
                   sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sess
            FROM marked
        ),
        sessions AS (
            SELECT user_id, sess,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS dur_us
            FROM numbered GROUP BY user_id, sess
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(sum(n) AS BIGINT) AS n_events,
               CAST(max(n) AS BIGINT) AS max_session_events,
               CAST(sum(dur_us) AS BIGINT) AS total_dur_us
        FROM sessions
        GROUP BY user_id
    """,
    doc="Stateful table-argument UDTF (the newest Spark 4 UDTF "
    "surface): session_stats(TABLE(events) PARTITION BY user_id "
    "ORDER BY ts, event_id) — the engine feeds each user's events to "
    "one UDTF instance in time order, eval() folds the "
    f"{SESSION_GAP_MINUTES}-minute gaps-and-islands state machine "
    "row by row, and terminate() emits the per-user session profile "
    "(count, events, longest, exact total duration in integer "
    "microseconds computed via timedelta fields, never float "
    "epoch seconds). The oracle recomputes the same sessions "
    "relationally, so the imperative per-partition fold and the "
    "declarative window formulation must agree — the same two-"
    "formulation proof as sessionize_events, now over the "
    "PARTITION BY-routed Python extension point. Scale: partitions "
    "stream through workers one user at a time with O(1) state; keep "
    "it off hot paths (row-at-a-time Python), it exists for logic a "
    "window can't express.",
    tags=("udtf", "python", "session"),
)
def udtf_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    gap_us = SESSION_GAP_MINUTES * 60 * 1_000_000

    @udtf(
        returnType="user_id bigint, n_sessions bigint, n_events bigint, "
        "max_session_events bigint, total_dur_us bigint"
    )
    class SessionStats:
        def __init__(self):
            import datetime as _dt

            self._epoch = _dt.datetime(1970, 1, 1)
            self.user = None
            self.prev = None
            self.sess_start = None
            self.sess_n = 0
            self.n_sessions = 0
            self.n_events = 0
            self.max_n = 0
            self.dur = 0

        def _us(self, ts):
            d = ts.replace(tzinfo=None) - self._epoch
            return d.days * 86_400_000_000 + d.seconds * 1_000_000 + d.microseconds

        def _close(self):
            if self.sess_n:
                self.n_sessions += 1
                self.max_n = max(self.max_n, self.sess_n)
                self.dur += self.prev - self.sess_start

        def eval(self, row):
            t = self._us(row["ts"])
            self.user = row["user_id"]
            if self.prev is None or t - self.prev > gap_us:
                self._close()
                self.sess_start = t
                self.sess_n = 0
            self.prev = t
            self.sess_n += 1
            self.n_events += 1

        def terminate(self):
            self._close()
            if self.user is not None:
                yield (
                    self.user,
                    self.n_sessions,
                    self.n_events,
                    self.max_n,
                    self.dur,
                )

    spark.udtf.register("dps_session_stats", SessionStats)
    return run_sql(
        spark,
        sf_dir,
        "SELECT * FROM dps_session_stats(TABLE({events}) "
        "PARTITION BY user_id ORDER BY (ts, event_id))",
    )

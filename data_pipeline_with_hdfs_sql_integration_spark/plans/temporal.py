"""Temporal joins — operators Spark has no native physical operator
for, composed from shuffles + windows so they scale like any other
equi-join plan (per the custom-operator preference order: built-in
composition first, Pandas UDFs only when semantics force it).

- as-of join: each 'purchase' event matched to the user's most recent
  strictly-earlier 'view'. Implemented as union-tag + ordered window
  with `last(..., ignorenulls)` — ONE shuffle on (user_id), no
  per-group pandas, no range explosion. (DuckDB's native ASOF JOIN is
  the oracle.)
- range join: count views in the hour before each purchase, via
  time-bucketization: explode each probe into its two candidate
  buckets, equi-join on (user, bucket), then filter the exact range —
  turns an inequality join into a bounded equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import load
from data_pipeline_with_hdfs_sql_integration_spark.registry import query


@query(
    "temporal_asof_join",
    oracle="""
        WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
             v AS (SELECT event_id AS view_id, user_id, ts AS view_ts FROM events WHERE event_type = 'view')
        SELECT p.event_id, p.user_id, p.ts,
               v.view_id, v.view_ts
        FROM p ASOF LEFT JOIN v
          ON p.user_id = v.user_id AND v.view_ts < p.ts
    """,
    doc="As-of join (latest strictly-earlier match per key): union-tag "
    "both sides, sort within user by (ts, side) so equal-ts views sort "
    "after purchases (enforcing the strict <), and carry the last "
    "non-null view struct with an unbounded-preceding window. One "
    "shuffle; at 100 TB add a coarse time-bucket to the partition key to "
    "bound per-task state.",
    tags=("temporal", "join"),
)
def temporal_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("view_ts")
    )
    tagged = p.select(
        "user_id",
        F.col("ts").alias("ord_ts"),
        F.lit(0).alias("is_view"),
        "event_id",
        "ts",
        F.lit(None).cast("struct<view_id:bigint,view_ts:timestamp>").alias("vrec"),
    ).unionByName(
        v.select(
            "user_id",
            F.col("view_ts").alias("ord_ts"),
            F.lit(1).alias("is_view"),
            F.lit(None).cast("long").alias("event_id"),
            F.lit(None).cast("timestamp").alias("ts"),
            F.struct(F.col("view_id"), F.col("view_ts")).alias("vrec"),
        )
    )
    # Ties sort purchase(0) before view(1): an equal-ts view lands after
    # the purchase, so "rows < current" sees only strictly-earlier views.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ord_ts").asc(), F.col("is_view").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    matched = tagged.withColumn("last_view", F.last("vrec", ignorenulls=True).over(w))
    return matched.filter(F.col("is_view") == 0).select(
        "event_id",
        "user_id",
        "ts",
        F.col("last_view.view_id").alias("view_id"),
        F.col("last_view.view_ts").alias("view_ts"),
    )


@query(
    "temporal_range_join_counts",
    oracle="""
        WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
             v AS (SELECT user_id, ts AS view_ts FROM events WHERE event_type = 'view')
        SELECT p.event_id, p.user_id,
               CAST(count(v.view_ts) AS BIGINT) AS n_views_prev_hour
        FROM p LEFT JOIN v
          ON p.user_id = v.user_id
         AND v.view_ts >= p.ts - INTERVAL '1 hour'
         AND v.view_ts < p.ts
        GROUP BY p.event_id, p.user_id
    """,
    doc="Range join via time-bucketization: each probe explodes into its "
    "two candidate 1-hour buckets, the join becomes an equi-join on "
    "(user, bucket) with an exact range filter after — the standard way "
    "to keep an interval join shuffle-bounded at scale (work ∝ matches, "
    "not |A|x|B|).",
    tags=("temporal", "join"),
)
def temporal_range_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    hour_us = 3_600_000_000
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.expr(f"unix_micros(ts) div {hour_us}").alias("b")
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.expr(f"unix_micros(ts) div {hour_us}").alias("v_b"),
    )
    probes = p.select(
        "event_id", "user_id", "ts", F.explode(F.array(F.col("b"), F.col("b") - 1)).alias("probe_b")
    )
    joined = probes.join(
        v,
        (probes.user_id == v.v_user)
        & (probes.probe_b == v.v_b)
        & (v.view_ts >= probes.ts - F.expr("INTERVAL 1 HOUR"))
        & (v.view_ts < probes.ts),
        "left",
    )
    # The left join ran per probe-bucket; count non-null matches across
    # both probes of each purchase (each view matches exactly one probe).
    return joined.groupBy("event_id", "user_id").agg(
        F.count("view_ts").alias("n_views_prev_hour")
    )


#: Interval-overlap banding: 1-hour grid over exact epoch micros
#: (intervals run up to ~8 h, so each covers <= 9 buckets).
IVL_BUCKET_US = 3_600_000_000


@query(
    "temporal_interval_overlap",
    oracle=f"""
        WITH iv AS (
            SELECT event_id, user_id, event_type,
                   epoch_us(ts) AS s,
                   epoch_us(ts) + CAST(round(value) AS BIGINT) * 60000000 AS e
            FROM events WHERE event_type IN ('view', 'error')
        ),
        a AS (SELECT * FROM iv WHERE event_type = 'view'),
        b AS (SELECT * FROM iv WHERE event_type = 'error')
        SELECT a.event_id AS view_id, b.event_id AS error_id,
               CAST(least(a.e, b.e) - greatest(a.s, b.s) AS BIGINT) AS overlap_us
        FROM a JOIN b
          ON a.user_id = b.user_id
         AND a.s < b.e AND b.s < a.e
    """,
    doc="Interval x interval OVERLAP join: each view event carries an "
    "activity interval [ts, ts + value minutes], each error event "
    "likewise; pairs of overlapping view/error intervals per user are "
    "reported with their exact overlap in integer microseconds — the "
    "incident-correlation primitive (which activity windows did an "
    "error window intersect?). Distinct from temporal_range_join_"
    "counts' point-in-window shape: BOTH sides are intervals. Scale "
    "shape: each interval explodes onto its covered 10-minute grid "
    "buckets (bounded: duration/bucket + 2), the join is an equi-join "
    "on (user, bucket) with the exact overlap predicate after, and "
    "pairs found in multiple shared buckets dedupe on the pair key — "
    "work proportional to colliding-bucket pairs, never |A|x|B|; the "
    "oracle states the same join declaratively.",
    tags=("temporal", "join", "events"),
)
def temporal_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    iv = ev.filter(F.col("event_type").isin("view", "error")).select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("s"),
        (F.unix_micros(F.col("ts")) + F.round(F.col("value")).cast("long") * 60_000_000).alias(
            "e"
        ),
    )
    bucketed = iv.select(
        "event_id",
        "user_id",
        "event_type",
        "s",
        "e",
        F.explode(
            F.sequence(
                F.expr(f"s div {IVL_BUCKET_US}"), F.expr(f"e div {IVL_BUCKET_US}")
            )
        ).alias("bucket"),
    )
    a = bucketed.filter(F.col("event_type") == "view").alias("a")
    b = bucketed.filter(F.col("event_type") == "error").alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.s") < F.col("b.e"))
            & (F.col("b.s") < F.col("a.e")),
        )
        .select(
            F.col("a.event_id").alias("view_id"),
            F.col("b.event_id").alias("error_id"),
            (
                F.least(F.col("a.e"), F.col("b.e")) - F.greatest(F.col("a.s"), F.col("b.s"))
            ).alias("overlap_us"),
        )
        .distinct()
    )

"""Hypertable-style time-series rollups over the events table.

The continuous-aggregate pattern (TimescaleDB hypertable rollups,
Druid rollup segments): materialize a fine-grained time-bucketed
pre-aggregate once, then answer coarser queries by RE-aggregating the
rollup instead of the raw data. Lossless for decomposable aggregates
(count, sum, min, max — and avg as sum/count). At 100 TB this is the
difference between scanning a day of raw events and scanning 24 tiny
rollup rows per key; the oracle checks the losslessness claim by
computing the coarse result straight from raw.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import load
from data_pipeline_with_hdfs_sql_integration_spark.registry import query


def hourly_rollup(events: DataFrame) -> DataFrame:
    """The materializable fine-grained aggregate: one row per
    (hour, event_type) carrying the decomposable pieces."""
    return events.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_v"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )


@query(
    "rollup_hourly_to_daily",
    oracle="""
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
               CAST(min(value) AS DOUBLE) AS min_value,
               CAST(max(value) AS DOUBLE) AS max_value,
               CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*)
                    AS DOUBLE) AS avg_value
        FROM events
        GROUP BY 1, 2
    """,
    doc="Two-level continuous aggregate: hourly rollup (count/sum/min/"
    "max per event_type, decimal sums for exactness) re-aggregated to "
    "daily. The oracle aggregates the RAW events directly — passing "
    "proves the rollup is lossless, i.e. a materialized hourly table "
    "can serve every coarser granularity. The raw-side group-by is the "
    "only full shuffle; the daily re-agg input is |hours × types| rows.",
    tags=("timeseries", "rollup"),
)
def rollup_hourly_to_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = hourly_rollup(load(spark, sf_dir, "events"))
    return (
        hourly.groupBy(F.date_format("bucket", "yyyy-MM-dd").alias("day"), "event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("sum_v").alias("sum_dec"),
            F.min("min_v").alias("min_value"),
            F.max("max_v").alias("max_value"),
        )
        .select(
            "day",
            "event_type",
            "n_events",
            F.col("sum_dec").cast("double").alias("sum_value"),
            "min_value",
            "max_value",
            (F.col("sum_dec").cast("double") / F.col("n_events")).alias("avg_value"),
        )
    )


@query(
    "rollup_latest_per_key",
    oracle="""
        SELECT user_id, ts AS last_ts, event_type AS last_event_type,
               CAST(value AS DOUBLE) AS last_value
        FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC, event_id DESC) AS rn
            FROM events) t
        WHERE rn = 1
    """,
    doc="Latest-event-per-key (the time-series 'last point' query): "
    "row_number over (user_id ORDER BY ts DESC, event_id DESC) — the "
    "event_id tiebreak makes the winner deterministic. One shuffle on "
    "user_id; at scale prefer max_by/struct-max (single hash aggregate, "
    "no sort) when a deterministic total order on the tiebreak column "
    "exists — the window form shown here also generalizes to top-k.",
    tags=("timeseries", "window"),
)
def rollup_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").cast("double").alias("last_value"),
        )
    )


@query(
    "rollup_rolling_median",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   event_type,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
                       AS day_micros
            FROM events GROUP BY 1, 2
        ),
        win AS (
            SELECT day, event_type, day_micros,
                   list(day_micros) OVER (
                       PARTITION BY event_type
                       ORDER BY datediff('day', TIMESTAMP '1970-01-01', day)
                       RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS w
            FROM daily
        )
        SELECT day, event_type,
               CAST(len(w) AS INT) AS n_days_in_window,
               CAST((list_sort(w)[(len(w) + 1) // 2]
                     + list_sort(w)[len(w) // 2 + 1])
                    / 2000000.0 AS DOUBLE) AS rolling_median_value
        FROM win
    """,
    doc="Exact rolling median of daily value totals over a trailing "
    "7-day window per event_type (the robust-smoothing op for "
    "time-series anomaly baselines — medians don't decompose, so no "
    "continuous aggregate covers them). Daily totals are exact BIGINT "
    "micros (decimal sums x 1e6); the window is a value-based RANGE "
    "frame over epoch-day numbers (calendar days, not row counts, so "
    "gaps in the series shrink the window rather than silently "
    "stretching it); the median is computed EXPLICITLY from the sorted "
    "window list ((lo+hi)/2 over exact integers, one double division) "
    "rather than each engine's quantile interpolation, whose float "
    "paths differ in the last ulp. Scale: the window input is the "
    "|days x types| daily rollup, not raw events — the only full "
    "shuffle is the daily group-by; collect-over-window state is "
    "bounded at 7 values per row.",
    tags=("timeseries", "window", "rollup"),
)
def rollup_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(
        (F.sum(F.col("value").cast("decimal(18,6)")) * 1000000)
        .cast("long")
        .alias("day_micros")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")))
        .rangeBetween(-6, 0)
    )
    s = F.array_sort(F.collect_list("day_micros").over(w))
    n = F.size(s)
    lo = F.element_at(s, ((n + 1) / 2).cast("int"))
    hi = F.element_at(s, (n / 2).cast("int") + 1)
    return daily.select(
        "day",
        "event_type",
        n.alias("n_days_in_window"),
        ((lo + hi) / F.lit(2000000.0)).alias("rolling_median_value"),
    )


@query(
    "rollup_ohlc",
    oracle="""
        WITH ranked AS (
            SELECT event_type,
                   strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS bar,
                   value,
                   row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                      ORDER BY ts ASC, event_id ASC) AS rn_open,
                   row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rn_close
            FROM events
        )
        SELECT event_type, bar,
               CAST(max(CASE WHEN rn_open = 1 THEN value END) AS DOUBLE) AS open,
               CAST(max(value) AS DOUBLE) AS high,
               CAST(min(value) AS DOUBLE) AS low,
               CAST(max(CASE WHEN rn_close = 1 THEN value END) AS DOUBLE) AS close,
               CAST(count(*) AS BIGINT) AS n_ticks
        FROM ranked
        GROUP BY event_type, bar
    """,
    doc="OHLC bars (open/high/low/close per event_type per hour) — the "
    "canonical hypertable downsample. Open/close are DETERMINISTIC "
    "first/last by the (ts, event_id) total order (bare first/last "
    "over a time column is ill-defined when ticks share a timestamp — "
    "the id tie-break pins one answer on both engines, Spark via "
    "min_by/max_by over the same composite struct). ONE aggregate "
    "pass over one scan (SortAggregate — the struct ordering key "
    "disables hash agg, but partial state is still a single "
    "(ordering key, value) pair per group and the only sort is by "
    "the GROUP key): no window pass, no per-group data sort.",
    tags=("timeseries", "rollup", "ohlc"),
)
def rollup_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    okey = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy(
            "event_type",
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias("bar"),
        )
        .agg(
            F.min_by("value", okey).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", okey).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )


EWMA_K = 8  # trailing points; weight 2^-j is EXACT in binary floating point
EWMA_USERS = 20


def _ewma_sql() -> str:
    num = " + ".join(
        f"COALESCE(lag(value, {j}) OVER w * {0.5 ** j!r}, 0.0)" for j in range(EWMA_K)
    )
    den = " + ".join(
        f"CASE WHEN lag(value, {j}) OVER w IS NULL THEN 0.0 ELSE {0.5 ** j!r} END"
        for j in range(EWMA_K)
    )
    return f"round(({num}) / ({den}), 6)"


@query(
    "rollup_ewma",
    oracle=f"""
        SELECT user_id, event_id,
               CAST(value AS DOUBLE) AS value,
               {_ewma_sql()} AS ewma
        FROM events
        WHERE user_id < {EWMA_USERS}
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
    doc=f"Exponentially weighted moving average (alpha=1/2, trailing "
    f"{EWMA_K} points) per user — the denoising smoother next to the "
    "exact rolling median. The infinite-memory EWMA recurrence is not "
    "a window function, but with alpha=1/2 the truncated tail beyond "
    f"{EWMA_K} points weighs < 2^-{EWMA_K - 1}, and every weight 2^-j "
    "is EXACT in binary floating point — so the explicit lag-sum "
    "formulation is engine-identical arithmetic (no pow() drift, no "
    "recurrence order dependence), normalized over the weights "
    "actually present at series start. ONE (user, time) sort serves "
    f"all {EWMA_K} lags — Catalyst plans a single Window exchange.",
    tags=("timeseries", "smoothing"),
)
def rollup_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < EWMA_USERS)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    num = None
    den = None
    for j in range(EWMA_K):
        lj = F.lag("value", j).over(w)
        wj = F.lit(0.5**j)
        termn = F.coalesce(lj * wj, F.lit(0.0))
        termd = F.when(lj.isNull(), F.lit(0.0)).otherwise(wj)
        num = termn if num is None else num + termn
        den = termd if den is None else den + termd
    return ev.select(
        "user_id",
        "event_id",
        F.col("value").cast("double").alias("value"),
        F.round(num / den, 6).alias("ewma"),
    )


@query(
    "rollup_downsample_extrema",
    oracle="""
        WITH pts AS (
            SELECT user_id,
                   date_trunc('hour', ts) AS bucket_ts,
                   event_id, ts,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events
        ),
        stats AS (
            SELECT user_id, bucket_ts, event_id, ts, cents,
                   sum(cents) OVER (PARTITION BY user_id, bucket_ts) AS s,
                   count(*) OVER (PARTITION BY user_id, bucket_ts) AS n
            FROM pts
        ),
        ranked AS (
            SELECT user_id, bucket_ts, event_id, cents, n,
                   row_number() OVER (
                       PARTITION BY user_id, bucket_ts
                       ORDER BY abs(cents * n - s) DESC, ts ASC, event_id ASC
                   ) AS rk
            FROM stats
        )
        SELECT user_id, bucket_ts,
               event_id AS rep_event_id,
               cents AS rep_cents,
               CAST(n AS BIGINT) AS n_events
        FROM ranked WHERE rk = 1
    """,
    doc="Extremum-preserving downsampling: one representative event "
    "per (user, hour) — the point FARTHEST from its bucket mean "
    "(then earliest on ties), so spikes survive the reduction that a "
    "plain avg-per-bucket rollup would erase; the same goal as LTTB "
    "chart downsampling, in a deterministic windowed form (LTTB "
    "itself is a sequential greedy — its anchor depends on the "
    "previous pick — and does not parallelize). The deviation "
    "compare is |cents*n - sum| — the mean inequality cross-"
    "multiplied into exact BIGINTs, no division, no float boundary. "
    "One (user, bucket) window serves the stats and the ranking: a "
    "single shuffle, per-task state bounded by bucket size. At 100 TB "
    "this is the ingest-side reduction before dashboards/alerting, "
    "composable with rollup_hourly_to_daily's lossless aggregates.",
    tags=("timeseries", "rollup", "window"),
)
def rollup_downsample_extrema(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        F.date_trunc("hour", F.col("ts")).alias("bucket_ts"),
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    wb = Window.partitionBy("user_id", "bucket_ts")
    stats = pts.select(
        "user_id", "bucket_ts", "event_id", "ts", "cents",
        F.sum("cents").over(wb).alias("s"),
        F.count("*").over(wb).alias("n"),
    )
    rk = F.row_number().over(
        Window.partitionBy("user_id", "bucket_ts").orderBy(
            F.abs(F.col("cents") * F.col("n") - F.col("s")).desc(),
            F.col("ts").asc(),
            F.col("event_id").asc(),
        )
    )
    return (
        stats.select("user_id", "bucket_ts", "event_id", "cents", "n", rk.alias("rk"))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            "bucket_ts",
            F.col("event_id").alias("rep_event_id"),
            F.col("cents").alias("rep_cents"),
            F.col("n").cast("long").alias("n_events"),
        )
    )


LATE_MOD = 17  # event_id % 17 == 0 simulates the late-arriving batch (~6%)


@query(
    "rollup_incremental_refresh",
    oracle=f"""
        WITH base AS (
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   event_type, value, event_id
            FROM events
        ),
        late_days AS (
            SELECT DISTINCT day FROM base WHERE event_id % {LATE_MOD} = 0
        ),
        full_r AS (
            SELECT day, event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
            FROM base GROUP BY 1, 2
        )
        SELECT f.day, f.event_type, f.n_events, f.sum_value,
               CASE WHEN l.day IS NULL THEN 'kept' ELSE 'refreshed' END AS src
        FROM full_r f LEFT JOIN late_days l USING (day)
    """,
    doc="Incremental refresh of a materialized daily rollup (continuous-"
    "aggregate invalidation, the TimescaleDB/IVM pattern): a simulated "
    f"late-arriving batch (event_id % {LATE_MOD} = 0) invalidates only "
    "the days it touches. The engine really performs the incremental "
    "plan — the stored rollup (built WITHOUT the late batch) serves "
    "every untouched day as-is ('kept', a metadata-cheap anti-join), "
    "and only invalidated days re-aggregate from the full data "
    "('refreshed'). The oracle computes the FULL recompute with the "
    "same day tags, so parity proves the merged incremental result is "
    "bit-identical to recomputing everything — the invariant that lets "
    "a 100 TB pipeline refresh a rollup in time proportional to the "
    "late data's day spread, not the table size. Decimal sums make the "
    "kept/refreshed halves combinable without float drift; the "
    "affected-day set is broadcast (days are few at any scale).",
    tags=("timeseries", "rollup", "incremental"),
)
def rollup_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type",
        "value",
        "event_id",
    )

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )

    late = ev.filter(F.col("event_id") % LATE_MOD == 0)
    # The pre-refresh materialized state: everything except the late
    # batch (in production this is the stored aggregate table).
    stored = rollup(ev.filter(F.col("event_id") % LATE_MOD != 0))
    affected = late.select("day").distinct()
    kept = stored.join(F.broadcast(affected), "day", "left_anti").withColumn(
        "src", F.lit("kept")
    )
    refreshed = rollup(
        ev.join(F.broadcast(affected), "day", "left_semi")
    ).withColumn("src", F.lit("refreshed"))
    return kept.unionByName(refreshed)

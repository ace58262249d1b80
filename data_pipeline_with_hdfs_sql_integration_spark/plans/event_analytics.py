"""Product-analytics shapes over the event stream: cohort retention,
funnel conversion, time-weighted averages, and gap-filled (LOCF)
series.

These are the queries an events warehouse serves daily; none exist in
the reference (its only aggregate is one AVG, server.py:109). All are
single-scan or broadcast-join plans with per-user narrow state —
user_id is the shuffle key throughout, so the shapes co-partition and
AQE can reuse exchanges between stages.

Numeric posture: the time-weighted average works in exact integers
(cents x microseconds fit BIGINT for this schema; documented bound in
the query doc), so the only float op is the final division — the same
discipline every other value-oracled aggregate here follows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import load
from data_pipeline_with_hdfs_sql_integration_spark.registry import query


@query(
    "cohort_retention",
    oracle="""
        WITH firstp AS (
            -- cohort_day must be TIMESTAMP (day-truncated), never DATE:
            -- DuckDB's date_trunc('day') yields DATE, which Spark has
            -- no counterpart column type for here, and canonicalizers
            -- widen DATE to midnight datetimes asymmetrically.
            SELECT user_id, CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS cohort_day
            FROM events WHERE event_type = 'purchase' GROUP BY user_id
        ), activity AS (
            SELECT DISTINCT c.cohort_day,
                   datediff('day', c.cohort_day, date_trunc('day', e.ts))
                       AS day_offset,
                   e.user_id
            FROM events e JOIN firstp c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase'
        )
        SELECT cohort_day, CAST(day_offset AS INT) AS day_offset,
               COUNT(*) AS n_active_users
        FROM activity
        GROUP BY cohort_day, day_offset
        ORDER BY cohort_day, day_offset
    """,
    doc="Cohort retention: users cohorted by first-purchase day, then "
    "distinct purchase-active users per (cohort, day offset). Two "
    "aggregations and one join, all keyed on user_id/cohort — one "
    "shuffle key family, broadcastable cohort side when cohorts are "
    "filtered.",
    tags=("events", "analytics"),
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase")
    cohort = p.groupBy("user_id").agg(F.date_trunc("day", F.min("ts")).alias("cohort_day"))
    activity = (
        p.join(cohort, "user_id")
        .select(
            "cohort_day",
            F.datediff(F.date_trunc("day", F.col("ts")), F.col("cohort_day"))
            .cast("int")
            .alias("day_offset"),
            "user_id",
        )
        .distinct()
    )
    return (
        activity.groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active_users"))
        .orderBy("cohort_day", "day_offset")
    )


@query(
    "funnel_conversion",
    oracle="""
        WITH s AS (
            SELECT user_id, min(ts) AS s_ts FROM events
            WHERE event_type = 'signup' GROUP BY user_id
        ), c AS (
            SELECT e.user_id, min(e.ts) AS c_ts
            FROM events e JOIN s ON e.user_id = s.user_id
            WHERE e.event_type = 'click' AND e.ts > s.s_ts
            GROUP BY e.user_id
        ), p AS (
            SELECT e.user_id, min(e.ts) AS p_ts
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
            GROUP BY e.user_id
        )
        SELECT (SELECT COUNT(*) FROM s) AS n_signup,
               (SELECT COUNT(*) FROM c) AS n_click_after,
               (SELECT COUNT(*) FROM p) AS n_purchase_after
    """,
    doc="Ordered funnel (signup -> first click after -> first purchase "
    "after): each stage is a grouped min over the events that follow "
    "the previous stage's timestamp, joined on user_id. Three "
    "aggregations on ONE shuffle key; the stage frontier shrinks "
    "monotonically so each join's build side is smaller than the "
    "last.",
    tags=("events", "analytics"),
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        s.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_after")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_after")))
    )


@query(
    "twa_user_value",
    oracle="""
        WITH seq AS (
            SELECT user_id,
                   CAST(round(value * 100) AS BIGINT) AS cents,
                   epoch_us(ts) AS us,
                   lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS next_us
            FROM events
        ), seg AS (
            SELECT user_id, cents * (next_us - us) AS contrib, next_us - us AS dur
            FROM seq WHERE next_us IS NOT NULL
        )
        SELECT user_id,
               round(CAST(SUM(contrib) AS DOUBLE) / CAST(SUM(dur) AS DOUBLE) / 100.0, 6)
                   AS twa_value
        FROM seg
        GROUP BY user_id
        ORDER BY user_id
    """,
    doc="Time-weighted average of the step function each user's value "
    "traces (LOCF between observations): sum(value_i * dt_i) / sum(dt_i). "
    "Exact integers end to end — cents(<=2e5) x gap-microseconds(<=2.6e12) "
    "stays under 2^63 per term and per user-sum for this schema — so the "
    "only float op is the final division. One window + one aggregate on "
    "the same user_id sort: a single shuffle.",
    tags=("events", "temporal"),
)
def twa_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    seq = ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        us.alias("us"),
        F.lead(us).over(w).alias("next_us"),
    )
    seg = seq.filter(F.col("next_us").isNotNull()).select(
        "user_id",
        (F.col("cents") * (F.col("next_us") - F.col("us"))).alias("contrib"),
        (F.col("next_us") - F.col("us")).alias("dur"),
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.round(
                F.sum("contrib").cast("double") / F.sum("dur").cast("double") / 100.0, 6
            ).alias("twa_value")
        )
        .orderBy("user_id")
    )


GAPFILL_USERS = 30
GAPFILL_HOURS = 72  # 3 days from the stream's origin


@query(
    "gapfill_locf",
    oracle=f"""
        WITH grid AS (
            SELECT u.user_id, g.h AS hour_ts
            FROM (SELECT DISTINCT user_id FROM events WHERE user_id < {GAPFILL_USERS}) u,
                 (SELECT unnest(generate_series(
                      TIMESTAMP '2024-01-01 00:00:00',
                      TIMESTAMP '2024-01-01 00:00:00' + INTERVAL '{GAPFILL_HOURS - 1} hours',
                      INTERVAL '1 hour')) AS h) g
        ), obs AS (
            SELECT user_id, ts, value,
                   row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC)
                       AS rn
            FROM events WHERE user_id < {GAPFILL_USERS}
        )
        SELECT g.user_id, g.hour_ts, round(o.value, 2) AS locf_value
        FROM grid g
        ASOF LEFT JOIN (SELECT user_id, ts, value FROM obs WHERE rn = 1) o
          ON g.user_id = o.user_id AND g.hour_ts >= o.ts
        ORDER BY g.user_id, g.hour_ts
    """,
    doc="Gap filling with last-observation-carried-forward: an hourly "
    "grid per user, each slot filled with the latest observation at or "
    "before it (NULL before the first). Spark has no ASOF join: the "
    "union-tag trick interleaves grid slots with observations in ONE "
    "(user, time) window pass and forward-fills via last(ignorenulls) "
    "— the same one-shuffle shape as the as-of join in "
    "plans/temporal.py. The DuckDB oracle uses its native ASOF LEFT "
    "JOIN, so two independent formulations must agree.",
    tags=("events", "temporal"),
)
def gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < GAPFILL_USERS)
    users = ev.select("user_id").distinct()
    grid = users.crossJoin(
        F.broadcast(
            ev.sparkSession.range(GAPFILL_HOURS).select(
                (
                    F.lit("2024-01-01 00:00:00").cast("timestamp")
                    + F.make_interval(hours=F.col("id").cast("int"))
                ).alias("hour_ts")
            )
        )
    )
    # Tag and interleave: observations sort before a grid slot at the
    # same instant only if strictly earlier (ties: grid first so an
    # observation exactly ON the hour is still picked up — matches
    # hour_ts >= o.ts). Duplicate (user, ts) observations keep the
    # highest event_id, mirroring the oracle's rn = 1.
    w_dedup = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    obs = (
        ev.withColumn("rn", F.row_number().over(w_dedup))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("ts").alias("t"), F.lit(0).alias("is_grid"), F.col("value"))
    )
    slots = grid.select(
        "user_id", F.col("hour_ts").alias("t"), F.lit(1).alias("is_grid"),
        F.lit(None).cast("double").alias("value"),
    )
    w_fill = (
        Window.partitionBy("user_id")
        .orderBy("t", "is_grid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = obs.unionByName(slots).withColumn(
        "locf", F.last("value", ignorenulls=True).over(w_fill)
    )
    return (
        filled.filter(F.col("is_grid") == 1)
        .select("user_id", F.col("t").alias("hour_ts"), F.round("locf", 2).alias("locf_value"))
        .orderBy("user_id", "hour_ts")
    )


# CEP patterns: (label, regex over 1-char event codes). Event-type
# first letters are unique in this schema (c,e,p,s,v), so the journey
# string is a lossless per-user event-sequence encoding.
CEP_PATTERNS = [
    ("signup_first", "^s"),       # journey starts with signup
    ("quick_funnel", "scp"),      # signup -> click -> purchase, consecutive
    ("burst_views", "v{4,}"),     # 4+ consecutive views
    ("ends_in_error", "e$"),      # last event is an error
    ("error_free", "^[^e]*$"),    # no error anywhere
]


@query(
    "cep_journey_patterns",
    oracle=f"""
        WITH j AS (
            SELECT user_id,
                   string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_type) AS journey
            FROM events
            GROUP BY user_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               {", ".join(
                   f"CAST(count(*) FILTER (regexp_matches(journey, '{rx}')) AS BIGINT) AS n_{label}"
                   for label, rx in CEP_PATTERNS
               )}
        FROM j
    """,
    doc="Complex-event-processing pattern match (MATCH_RECOGNIZE-lite): "
    "each user's events collapse to a journey string (1 char per event, "
    "ordered by (ts, event_type) — a total order because the code "
    "depends only on event_type, so equal-key ties cannot change the "
    "string), then regex predicates count users per behavioral pattern "
    "in ONE aggregate. Unlike funnel_conversion's fixed 3-stage ladder, "
    "the pattern language here is arbitrary regular expressions over "
    "the event alphabet (anchors, consecutive-run quantifiers, "
    "class negation — chosen to split the user base non-degenerately "
    "on this corpus). Scale: the only shuffle is the per-user "
    "groupBy carrying (ts, 1-char) pairs; journeys are bounded by "
    "per-user event counts (add a time-window split for unbounded "
    "users); regex evaluation is map-side on the reduced journey "
    "table; the output is one row.",
    tags=("events", "cep"),
)
def cep_journey_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    j = (
        ev.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ts", "event_type"))),
                    lambda s: F.substring(s["event_type"], 1, 1),
                ),
                "",
            ).alias("journey")
        )
    )
    aggs = [F.count("*").alias("n_users")]
    for label, rx in CEP_PATTERNS:
        aggs.append(
            F.count(F.when(F.col("journey").rlike(rx), 1)).alias(f"n_{label}")
        )
    return j.agg(*aggs)


@query(
    "gapfill_interpolate",
    oracle=f"""
        WITH grid AS (
            SELECT u.user_id, g.h AS hour_ts
            FROM (SELECT DISTINCT user_id FROM events WHERE user_id < {GAPFILL_USERS}) u,
                 (SELECT unnest(generate_series(
                      TIMESTAMP '2024-01-01 00:00:00',
                      TIMESTAMP '2024-01-01 00:00:00' + INTERVAL '{GAPFILL_HOURS - 1} hours',
                      INTERVAL '1 hour')) AS h) g
        ), obs AS (
            SELECT user_id, ts, value FROM (
                SELECT user_id, ts, value,
                       row_number() OVER (PARTITION BY user_id, ts
                                          ORDER BY event_id DESC) AS rn
                FROM events WHERE user_id < {GAPFILL_USERS})
            WHERE rn = 1
        ), prv AS (
            SELECT g.user_id, g.hour_ts, o.ts AS pt, o.value AS pv
            FROM grid g
            ASOF LEFT JOIN obs o
              ON g.user_id = o.user_id AND g.hour_ts >= o.ts
        ), nxt AS (
            SELECT g.user_id, g.hour_ts, o.ts AS nt, o.value AS nv
            FROM grid g
            ASOF LEFT JOIN obs o
              ON g.user_id = o.user_id AND g.hour_ts <= o.ts
        )
        SELECT p.user_id, p.hour_ts,
               round(CASE
                   WHEN p.pt = p.hour_ts THEN p.pv
                   WHEN p.pt IS NULL OR n.nt IS NULL THEN NULL
                   ELSE p.pv + (n.nv - p.pv)
                        * (epoch(p.hour_ts) - epoch(p.pt))
                        / (epoch(n.nt) - epoch(p.pt))
               END, 4) AS interp_value
        FROM prv p JOIN nxt n
          ON p.user_id = n.user_id AND p.hour_ts = n.hour_ts
        ORDER BY p.user_id, p.hour_ts
    """,
    doc="Gap filling by linear interpolation (the two-sided sibling of "
    "gapfill_locf): each hourly slot takes "
    "pv + (nv-pv)*(t-pt)/(nt-pt) between its bracketing observations, "
    "the exact observation when one lands ON the hour (degenerate "
    "pt = t needs no next neighbor), and NULL outside the observed "
    "range. Spark side: ONE union-tag interleave and ONE sort per "
    "(user) partition serving BOTH directions — forward "
    "last(ignorenulls) carries (pt, pv), backward first(ignorenulls) "
    "over the following frame carries (nt, nv); no second shuffle, no "
    "range-join explosion. The oracle brackets with DuckDB's native "
    "ASOF joins in each direction, so two independent formulations "
    "must agree to 4 decimals. Same per-key state story as the as-of "
    "join at 100 TB: add a coarse time bucket to the partition key to "
    "bound task sort size.",
    tags=("events", "temporal"),
)
def gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < GAPFILL_USERS)
    users = ev.select("user_id").distinct()
    grid = users.crossJoin(
        F.broadcast(
            ev.sparkSession.range(GAPFILL_HOURS).select(
                (
                    F.lit("2024-01-01 00:00:00").cast("timestamp")
                    + F.make_interval(hours=F.col("id").cast("int"))
                ).alias("hour_ts")
            )
        )
    )
    w_dedup = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    obs = (
        ev.withColumn("rn", F.row_number().over(w_dedup))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("t"),
            F.lit(0).alias("is_grid"),
            F.struct(F.col("ts").alias("ot"), F.col("value").alias("ov")).alias("o"),
        )
    )
    slots = grid.select(
        "user_id",
        F.col("hour_ts").alias("t"),
        F.lit(1).alias("is_grid"),
        F.lit(None)
        .cast("struct<ot:timestamp,ov:double>")
        .alias("o"),
    )
    both = obs.unionByName(slots)
    # One sort serves both frames: obs rows (is_grid=0) sort before the
    # grid slot at the same instant, so the PRECEDING frame sees an
    # exactly-on-the-hour observation (mirrors hour_ts >= ts) while the
    # FOLLOWING frame starts after it (mirrors the degenerate pt = t
    # case being resolved by the prev side alone).
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("t", "is_grid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("t", "is_grid")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    filled = both.select(
        "user_id",
        "t",
        "is_grid",
        F.last("o", ignorenulls=True).over(w_prev).alias("p"),
        F.first("o", ignorenulls=True).over(w_next).alias("n"),
    ).filter(F.col("is_grid") == 1)
    # Microsecond-exact epoch seconds as doubles (cast keeps the
    # fraction; unix_timestamp would truncate while DuckDB's epoch()
    # keeps it — sub-second observations would diverge).
    et = F.col("t").cast("double")
    pt = F.col("p.ot").cast("double")
    nt = F.col("n.ot").cast("double")
    interp = (
        F.when(F.col("p.ot") == F.col("t"), F.col("p.ov"))
        .when(F.col("p.ot").isNull() | F.col("n.ot").isNull(), F.lit(None))
        .otherwise(
            F.col("p.ov")
            + (F.col("n.ov") - F.col("p.ov")) * (et - pt) / (nt - pt)
        )
    )
    return (
        filled.select(
            "user_id",
            F.col("t").alias("hour_ts"),
            F.round(interp, 4).alias("interp_value"),
        )
        .orderBy("user_id", "hour_ts")
    )


@query(
    "events_interarrival_histogram",
    oracle="""
        WITH d AS (
            SELECT event_type,
                   CAST(epoch(ts) * 1000000 AS BIGINT)
                   - lag(CAST(epoch(ts) * 1000000 AS BIGINT))
                       OVER (PARTITION BY event_type ORDER BY ts ASC, event_id ASC)
                       AS gap_us
            FROM events
        )
        SELECT event_type,
               LEAST(CAST(floor(gap_us / 60000000.0) AS BIGINT), 60) AS gap_min_bucket,
               CAST(count(*) AS BIGINT) AS n_gaps
        FROM d
        WHERE gap_us IS NOT NULL
        GROUP BY 1, 2
    """,
    doc="Inter-arrival-time histogram per event type — the ops metric "
    "behind rate alerting and source-health dashboards: lag() over "
    "the (type, time, id) total order yields each gap in EXACT "
    "integer microseconds (epoch scaled before subtraction — "
    "microsecond timestamps are exact at 1e6 scale in both engines), "
    "bucketed to minutes with a 60-minute overflow clamp. One window "
    "exchange on event_type + the histogram's map-side-combined "
    "aggregate; the output is |types x 61| rows whatever the stream "
    "volume.",
    tags=("events", "temporal", "histogram"),
)
def events_interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    us = (F.col("ts").cast("double") * 1_000_000).cast("long")
    gap = us - F.lag(us).over(w)
    d = ev.select("event_type", gap.alias("gap_us")).filter(F.col("gap_us").isNotNull())
    bucket = F.least(F.floor(F.col("gap_us") / 60_000_000.0).cast("long"), F.lit(60))
    return d.groupBy("event_type", bucket.alias("gap_min_bucket")).agg(
        F.count(F.lit(1)).alias("n_gaps")
    )


@query(
    "events_touch_attribution",
    oracle="""
        WITH conv AS (
            SELECT user_id, ts AS conv_ts, event_id AS conv_id
            FROM events WHERE event_type = 'purchase'
        ),
        touches AS (
            SELECT e.user_id, c.conv_id, e.event_type, e.ts, e.event_id
            FROM events e
            JOIN conv c
              ON e.user_id = c.user_id
             AND e.ts < c.conv_ts
             AND e.ts >= c.conv_ts - INTERVAL '2 hours'
            WHERE e.event_type IN ('view', 'click', 'signup')
        ),
        ranked AS (
            SELECT conv_id, event_type,
                   row_number() OVER (PARTITION BY conv_id
                                      ORDER BY ts ASC, event_id ASC) AS rn_f,
                   row_number() OVER (PARTITION BY conv_id
                                      ORDER BY ts DESC, event_id DESC) AS rn_l
            FROM touches
        ),
        picked AS (
            SELECT conv_id,
                   max(CASE WHEN rn_f = 1 THEN event_type END) AS first_touch,
                   max(CASE WHEN rn_l = 1 THEN event_type END) AS last_touch
            FROM ranked GROUP BY conv_id
        )
        SELECT first_touch, last_touch,
               CAST(count(*) AS BIGINT) AS n_conversions
        FROM picked
        GROUP BY first_touch, last_touch
    """,
    doc="Marketing-style touch attribution: for every purchase, the "
    "FIRST and LAST qualifying touch (view/click/signup) in the "
    "trailing 2-hour window, chosen deterministically by the "
    "(ts, event_id) total order via min_by/max_by — then the "
    "(first, last) channel-pair conversion matrix. The touch join is "
    "a bounded event-time range join (per conversion, only a 2-hour "
    "slice of that user's events), so state never grows with history "
    "— the same bounded-interval posture as the stream-stream funnel "
    "join. One aggregate pass per conversion after the join; the "
    "matrix output is |channels|^2 rows.",
    tags=("events", "attribution", "temporal"),
)
def events_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("cu"),
        F.col("ts").alias("conv_ts"),
        F.col("event_id").alias("conv_id"),
    )
    touches = (
        ev.filter(F.col("event_type").isin("view", "click", "signup"))
        .join(
            conv,
            (F.col("user_id") == F.col("cu"))
            & (F.col("ts") < F.col("conv_ts"))
            & (F.col("ts") >= F.col("conv_ts") - F.expr("INTERVAL 2 HOURS")),
        )
    )
    okey = F.struct(F.col("ts"), F.col("event_id"))
    picked = touches.groupBy("conv_id").agg(
        F.min_by("event_type", okey).alias("first_touch"),
        F.max_by("event_type", okey).alias("last_touch"),
    )
    return picked.groupBy("first_touch", "last_touch").agg(
        F.count(F.lit(1)).alias("n_conversions")
    )


@query(
    "events_dau_wau",
    oracle="""
        WITH daily AS (
            SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
        ),
        days AS (SELECT DISTINCT day FROM daily),
        dau AS (
            SELECT day, count(*) AS dau FROM daily GROUP BY day
        ),
        contrib AS (
            SELECT da.user_id, da.day + to_days(CAST(g.i AS INTEGER)) AS tday
            FROM daily da
            CROSS JOIN LATERAL (SELECT unnest(generate_series(0, 6)) AS i) g
        ),
        wau AS (
            SELECT c.tday AS day, count(DISTINCT c.user_id) AS wau
            FROM contrib c JOIN days d ON c.tday = d.day
            GROUP BY c.tday
        )
        SELECT strftime(d.day, '%Y-%m-%d') AS day,
               CAST(dau.dau AS BIGINT) AS dau,
               CAST(wau.wau AS BIGINT) AS wau
        FROM days d JOIN dau ON d.day = dau.day JOIN wau ON d.day = wau.day
    """,
    doc="DAU / trailing-7-day WAU per day — the canonical engagement "
    "rollup. Rolling DISTINCT does not decompose (you cannot sum "
    "daily distincts), and a day-range join re-scans 7x; instead each "
    "(day, user) row CONTRIBUTES itself to the 7 forward days "
    "(bounded explode — the same trick as the range join's hour "
    "buckets), so WAU is one distinct-count per day over the "
    "contribution relation: 7x |daily| rows total, shuffled once on "
    "the day key. Day keys emit as strings (bare DATE columns break "
    "pandas-side canonicalizers — the documented gotcha). At 100 TB "
    "swap count(DISTINCT) for the mergeable HLL sketch "
    "(agg_hll_sketch_union) and the whole metric becomes "
    "sketch-union arithmetic.",
    tags=("events", "rollup", "engagement"),
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = ev.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct()
    days = daily.select("day").distinct()
    dau = daily.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = daily.select(
        "user_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(6)),
                lambda i: F.col("day") + F.make_interval(days=i),
            )
        ).alias("tday"),
    )
    wau = (
        contrib.join(days.withColumnRenamed("day", "tday"), "tday")
        .groupBy("tday")
        .agg(F.countDistinct("user_id").alias("wau"))
        .withColumnRenamed("tday", "day")
    )
    return (
        days.join(dau, "day")
        .join(wau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
        )
    )


@query(
    "events_dau_hll",
    oracle="""
        WITH daily AS (
            SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
        ),
        days AS (SELECT DISTINCT day FROM daily),
        dau AS (SELECT day, count(*) AS dau FROM daily GROUP BY day),
        contrib AS (
            SELECT da.user_id, da.day + to_days(CAST(g.i AS INTEGER)) AS tday
            FROM daily da
            CROSS JOIN LATERAL (SELECT unnest(generate_series(0, 6)) AS i) g
        ),
        wau AS (
            SELECT c.tday AS day,
                   count(DISTINCT c.user_id) AS wau_exact,
                   approx_count_distinct(c.user_id) AS wau_est
            FROM contrib c JOIN days d ON c.tday = d.day
            GROUP BY c.tday
        )
        SELECT strftime(d.day, '%Y-%m-%d') AS day,
               CAST(dau.dau AS BIGINT) AS dau,
               CAST(w.wau_exact AS BIGINT) AS wau_exact,
               abs(w.wau_est - w.wau_exact) <= 0.05 * w.wau_exact
                   AS wau_within_5pct
        FROM days d JOIN dau ON d.day = dau.day JOIN wau w ON d.day = w.day
    """,
    doc="The 100 TB form of events_dau_wau, implemented: per-day HLL "
    "user sketches (hll_sketch_agg over the deduped (day, user) "
    "relation) roll into trailing-7-day WAU by SKETCH-UNION arithmetic "
    "— each day's sketch BYTES contribute to its 7 forward days "
    "(bounded explode over |days| sketch rows, pure metadata) and "
    "hll_union_agg + estimate per day replaces the 7x contribution "
    "re-shuffle of raw (day, user) rows the exact query pays. The "
    "exact DAU/WAU ride alongside for the cross-engine contract "
    "(sketch bytes are engine-specific, so — as in "
    "agg_hll_sketch_union — exact counts must match bit-for-bit and "
    "each engine asserts its own estimate within ±5%: Spark the "
    "DataSketches union estimate, DuckDB its approx_count_distinct "
    "over the same trailing window).",
    tags=("events", "rollup", "engagement", "sketch", "approx"),
)
def events_dau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = ev.select(F.date_trunc("day", "ts").alias("day"), "user_id").distinct()
    days = daily.select("day").distinct()
    dau = daily.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    # Exact trailing WAU (the value the sketch estimate is judged
    # against): bounded forward-contribution explode, as events_dau_wau.
    contrib = daily.select(
        "user_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(6)),
                lambda i: F.col("day") + F.make_interval(days=i),
            )
        ).alias("tday"),
    )
    wau_exact = (
        contrib.join(days.withColumnRenamed("day", "tday"), "tday")
        .groupBy("tday")
        .agg(F.countDistinct("user_id").alias("wau_exact"))
        .withColumnRenamed("tday", "day")
    )
    # Sketch path: ONE sketch row per day; the rolling union explodes
    # |days| x 7 sketch-byte rows, never the data.
    sk = daily.groupBy("day").agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    sk_contrib = sk.select(
        "sk",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(6)),
                lambda i: F.col("day") + F.make_interval(days=i),
            )
        ).alias("tday"),
    )
    wau_est = (
        sk_contrib.join(days.withColumnRenamed("day", "tday"), "tday")
        .groupBy("tday")
        .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("wau_est"))
        .withColumnRenamed("tday", "day")
    )
    return (
        days.join(dau, "day")
        .join(wau_exact, "day")
        .join(wau_est, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("dau").cast("long").alias("dau"),
            F.col("wau_exact").cast("long").alias("wau_exact"),
            (
                F.abs(F.col("wau_est") - F.col("wau_exact"))
                <= 0.05 * F.col("wau_exact")
            ).alias("wau_within_5pct"),
        )
    )


@query(
    "events_markov_transitions",
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_type
            FROM events
        ),
        pairs AS (
            SELECT prev_type AS from_type, event_type AS to_type,
                   CAST(count(*) AS BIGINT) AS n_transitions
            FROM ordered WHERE prev_type IS NOT NULL
            GROUP BY 1, 2
        ),
        totals AS (
            SELECT from_type, sum(n_transitions) AS total
            FROM pairs GROUP BY 1
        )
        SELECT p.from_type, p.to_type, p.n_transitions,
               CAST(1000000 * p.n_transitions // t.total AS BIGINT) AS p_ppm
        FROM pairs p JOIN totals t USING (from_type)
    """,
    doc="First-order Markov transition matrix over user event streams: "
    "each user's events ordered by the (ts, event_id) total order, "
    "lag() yields (prev, next) pairs, and the |types|^2 matrix carries "
    "exact counts plus parts-per-million transition probabilities "
    "(integer division — no float drift). This is the behavioral "
    "model behind next-action prediction, anomaly scoring (improbable "
    "transitions), and synthetic-session generation; "
    "cep_journey_patterns asks regex questions about whole journeys, "
    "this asks distributional ones about steps. One window exchange "
    "on user_id, one map-side-combined pair aggregate; the matrix is "
    "|types|^2 rows whatever the stream volume, and the row-"
    "normalizing totals join is over that constant-size relation.",
    tags=("events", "window", "agg"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    pairs = (
        ordered.filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("from_type"), F.col("event_type").alias("to_type"))
        .agg(F.count("*").alias("n_transitions"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n_transitions").alias("total"))
    return (
        pairs.join(totals, "from_type")
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            F.expr("CAST(1000000 * n_transitions div total AS BIGINT)").alias("p_ppm"),
        )
    )


@query(
    "mine_association_pairs",
    oracle="""
        WITH baskets AS (
            SELECT DISTINCT user_id, date_trunc('day', ts) AS day, event_type
            FROM events
        ),
        nb AS (
            SELECT count(*) AS n FROM (SELECT DISTINCT user_id, day FROM baskets)
        ),
        items AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_item
            FROM baskets GROUP BY event_type
        ),
        pairs AS (
            SELECT a.event_type AS antecedent, b.event_type AS consequent,
                   CAST(count(*) AS BIGINT) AS n_pair
            FROM baskets a
            JOIN baskets b
              ON a.user_id = b.user_id AND a.day = b.day
             AND a.event_type <> b.event_type
            GROUP BY 1, 2
        )
        SELECT p.antecedent, p.consequent, p.n_pair,
               CAST(1000000 * p.n_pair // nb.n AS BIGINT) AS support_ppm,
               CAST(1000000 * p.n_pair // ia.n_item AS BIGINT) AS confidence_ppm,
               CAST((1000000 * p.n_pair * nb.n) // (ia.n_item * ic.n_item)
                    AS BIGINT) AS lift_ppm
        FROM pairs p
        JOIN items ia ON ia.event_type = p.antecedent
        JOIN items ic ON ic.event_type = p.consequent
        CROSS JOIN nb
    """,
    doc="Market-basket association rules over (user, day) baskets of "
    "event types: for every ordered type pair, basket co-occurrence "
    "count plus support/confidence/lift in exact integer ppm "
    "(lift > 1e6 <=> positive association) — the a-priori pair-"
    "counting step every recommender/cross-sell analysis starts "
    "from, with all three rule metrics engine-exact (integer "
    "division, no float ratios). Scale shape: baskets build from one "
    "distinct (map-side combinable); the pair join is keyed on the "
    "BASKET id so fanout is bounded by items-per-basket squared "
    "(here <= |types|^2, generally the a-priori pruning bound), and "
    "the rule metrics join runs over the |types|^2 relation. For "
    "million-item catalogs the same plan applies after a frequent-"
    "item filter (support floor) shrinks the alphabet — the classic "
    "two-pass a-priori.",
    tags=("events", "agg", "join"),
)
def mine_association_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    baskets = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    ).distinct()
    nb = baskets.select("user_id", "day").distinct().agg(F.count("*").alias("n"))
    items = baskets.groupBy("event_type").agg(F.count("*").alias("n_item"))
    a = baskets.alias("a")
    b = baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") != F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("antecedent"),
            F.col("b.event_type").alias("consequent"),
        )
        .agg(F.count("*").alias("n_pair"))
    )
    ia = items.alias("ia")
    ic = items.alias("ic")
    return (
        pairs.join(F.broadcast(ia), F.col("antecedent") == F.col("ia.event_type"))
        .join(F.broadcast(ic), F.col("consequent") == F.col("ic.event_type"))
        .crossJoin(F.broadcast(nb))
        .select(
            "antecedent",
            "consequent",
            "n_pair",
            F.expr("CAST(1000000 * n_pair div n AS BIGINT)").alias("support_ppm"),
            F.expr("CAST(1000000 * n_pair div ia.n_item AS BIGINT)").alias("confidence_ppm"),
            F.expr("CAST((1000000 * n_pair * n) div (ia.n_item * ic.n_item) AS BIGINT)").alias(
                "lift_ppm"
            ),
        )
    )


@query(
    "events_trigram_paths",
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_type,
                   lead(event_type, 1) OVER w AS t2,
                   lead(event_type, 2) OVER w AS t3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT event_type AS step1, t2 AS step2, t3 AS step3,
               CAST(count(*) AS BIGINT) AS n_paths
        FROM ordered
        WHERE t2 IS NOT NULL AND t3 IS NOT NULL
        GROUP BY 1, 2, 3
        ORDER BY n_paths DESC, step1, step2, step3
        LIMIT 20
    """,
    doc="Second-order path analysis: the top-20 three-step event "
    "sequences across all user journeys ((ts, event_id) total order, "
    "two leads per row) — the Sankey/flow diagram's data, and the "
    "next-order complement to events_markov_transitions' one-step "
    "matrix (a first-order chain cannot see that view->click->buy "
    "outnumbers click->view->buy). One window exchange on user_id, "
    "one map-side-combined aggregate over at most |types|^3 keys, "
    "top-k as TakeOrderedAndProject with a total tie-break.",
    tags=("events", "window", "topk"),
)
def events_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        F.col("event_type").alias("step1"),
        F.lead("event_type", 1).over(w).alias("step2"),
        F.lead("event_type", 2).over(w).alias("step3"),
    )
    return (
        ordered.filter(F.col("step2").isNotNull() & F.col("step3").isNotNull())
        .groupBy("step1", "step2", "step3")
        .agg(F.count("*").alias("n_paths"))
        .orderBy(F.col("n_paths").desc(), "step1", "step2", "step3")
        .limit(20)
    )


@query(
    "events_seasonality_profile",
    oracle="""
        WITH h AS (
            SELECT event_type, CAST(hour(ts) AS BIGINT) AS hour_of_day,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        ),
        t AS (SELECT event_type, sum(n) AS total FROM h GROUP BY 1)
        SELECT h.event_type, h.hour_of_day,
               CAST(h.n AS BIGINT) AS n_events,
               CAST(1000000 * h.n // t.total AS BIGINT) AS share_ppm
        FROM h JOIN t USING (event_type)
    """,
    doc="Hour-of-day seasonality profile per event type: counts and "
    "integer-ppm within-type shares — the diurnal fingerprint behind "
    "capacity planning, anomaly baselines (compare a live hour "
    "against its profile slot), and bot detection (flat profiles "
    "where humans sleep). UTC hour extraction is pinned by the "
    "engine's session timezone so both engines bucket identically. "
    "One map-side hour extract + two tiny aggregates; the profile is "
    "|types| x 24 rows at any volume.",
    tags=("events", "timeseries", "agg"),
)
def events_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hour_of_day")
    ).agg(F.count("*").alias("n"))
    t = h.groupBy("event_type").agg(F.sum("n").alias("total"))
    return (
        h.join(t, "event_type")
        .select(
            "event_type",
            "hour_of_day",
            F.col("n").cast("long").alias("n_events"),
            F.expr("CAST(1000000 * n div total AS BIGINT)").alias("share_ppm"),
        )
    )

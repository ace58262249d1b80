"""Record linkage and anomaly detection.

Fuzzy matching: the reference joins on exact keys only (server.py:34-35
``loans.loan_type_id = loan_types.id``); real-world entity resolution
needs approximate string joins. The blocked-levenshtein join here is
the scale-correct shape: an equi-join on a cheap blocking key (first
character + length band) prunes the candidate space, then the O(m*n)
edit-distance verify runs only inside blocks — never an all-pairs
cross join.

Anomaly detection: per-group z-score outliers with variance computed
from exact integer sums (cents as BIGINT, squares in DECIMAL(38,0)),
so mean/stddev are bit-identical across engines regardless of
partition order — the standard float stddev is a partition-order-
dependent reduction and would flake the value oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import load
from data_pipeline_with_hdfs_sql_integration_spark.registry import query

FUZZY_MAX_DIST = 2
ZSCORE_THRESHOLD = 1.6


@query(
    "fuzzy_match_partnames",
    oracle=f"""
        WITH names AS (SELECT DISTINCT p_name FROM part),
        probes AS (
            SELECT p_name AS orig,
                   concat(substr(p_name, 1, 1), substr(p_name, 3)) AS probe
            FROM names
        )
        SELECT p.probe, n.p_name AS matched,
               CAST(levenshtein(p.probe, n.p_name) AS INT) AS dist
        FROM probes p JOIN names n
          ON substr(p.probe, 1, 1) = substr(n.p_name, 1, 1)
         AND abs(length(p.probe) - length(n.p_name)) <= {FUZZY_MAX_DIST}
        WHERE levenshtein(p.probe, n.p_name) <= {FUZZY_MAX_DIST}
        ORDER BY p.probe, n.p_name
    """,
    doc="Blocked fuzzy join (entity resolution): corrupt each distinct "
    "part name with a deterministic one-char deletion, then re-link it "
    "to the catalog via levenshtein <= 2. Blocking = first-char equality "
    "+ length band as the equi-join key; the quadratic edit-distance "
    "verify runs only within blocks. At 100 TB blocking keys shard the "
    "shuffle; no cross join exists in the plan.",
    tags=("linkage", "join"),
)
def fuzzy_match_partnames(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = load(spark, sf_dir, "part").select("p_name").distinct()
    probes = names.select(
        F.col("p_name").alias("orig"),
        F.concat(F.substring("p_name", 1, 1), F.expr("substr(p_name, 3)")).alias("probe"),
    )
    cand = probes.join(
        names,
        (F.substring(F.col("probe"), 1, 1) == F.substring(F.col("p_name"), 1, 1))
        & (
            F.abs(F.length("probe") - F.length("p_name")) <= FUZZY_MAX_DIST
        ),
    )
    return (
        cand.filter(F.levenshtein("probe", "p_name") <= FUZZY_MAX_DIST)
        .select(
            "probe",
            F.col("p_name").alias("matched"),
            F.levenshtein("probe", "p_name").cast("int").alias("dist"),
        )
        .orderBy("probe", "matched")
    )


@query(
    "anomaly_zscore_orders",
    oracle=f"""
        WITH j AS (
            SELECT o.o_orderkey, o.o_totalprice, c.c_mktsegment,
                   CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ), stats AS (
            SELECT c_mktsegment,
                   COUNT(*) AS n,
                   SUM(cents) AS s1,
                   SUM(CAST(cents * cents AS HUGEINT)) AS s2
            FROM j GROUP BY c_mktsegment
        ), z AS (
            SELECT j.o_orderkey, j.c_mktsegment, j.o_totalprice,
                   round((CAST(j.cents AS DOUBLE) - CAST(s.s1 AS DOUBLE) / s.n)
                         / sqrt(((CAST(s.s2 // 1099511627776 AS DOUBLE) * 1099511627776
                                  + CAST(s.s2 % 1099511627776 AS DOUBLE))
                                 - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE) / s.n) / s.n),
                         6) AS zscore
            FROM j JOIN stats s ON j.c_mktsegment = s.c_mktsegment
        )
        SELECT o_orderkey, c_mktsegment, o_totalprice, zscore
        FROM z
        WHERE abs(zscore) >= {ZSCORE_THRESHOLD}
        ORDER BY o_orderkey
    """,
    doc="Per-segment z-score outlier detection. Variance comes from "
    "exact integer sums (cents BIGINT, squares DECIMAL(38,0)) so both "
    "engines derive bit-identical mean/stddev whatever the partition "
    "order; z is rounded before thresholding so boundary decisions "
    "agree. Two scans of the joined relation but the stats side "
    "reduces to 5 rows (broadcast back) — at scale this is one wide "
    "scan + one tiny broadcast join.",
    tags=("linkage", "anomaly"),
)
def anomaly_zscore_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    j = orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey).select(
        "o_orderkey",
        "o_totalprice",
        "c_mktsegment",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    stats = j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s1"),
        F.sum((F.col("cents") * F.col("cents")).cast("decimal(38,0)")).alias("s2"),
    )
    # split-cast: s2 (DECIMAL(38,0) sum of squares) exceeds 2^53 at
    # sf0.1 and the direct ->double cast rounds differently across
    # engines (functions/numfns.py). The mean and stddev depend only
    # on the segment, so they are evaluated HERE on the 5-row stats
    # relation — hoisting the decimal div/mod out of the per-order
    # expression (the round-6 exactness fix evaluated it per row,
    # the measured r5->r6 bench drift on this query). Same IEEE ops
    # in the same order, so the oracle's inline formula still
    # matches bit-for-bit.
    from data_pipeline_with_hdfs_sql_integration_spark.functions.numfns import split_cast_double

    stats = stats.select(
        "c_mktsegment",
        (F.col("s1").cast("double") / F.col("n")).alias("seg_mean"),
        F.sqrt(
            (
                split_cast_double("s2")
                - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n")
            )
            / F.col("n")
        ).alias("seg_std"),
    )
    zexpr = F.round(
        (F.col("cents").cast("double") - F.col("seg_mean")) / F.col("seg_std"), 6
    )
    z = j.join(F.broadcast(stats), "c_mktsegment").select(
        "o_orderkey", "c_mktsegment", "o_totalprice", zexpr.alias("zscore")
    )
    return z.filter(F.abs(F.col("zscore")) >= ZSCORE_THRESHOLD).orderBy("o_orderkey")


MAD_THRESHOLD = 2.0


@query(
    "anomaly_mad_orders",
    oracle=f"""
        WITH j AS (
            SELECT o.o_orderkey, o.o_totalprice, c.c_mktsegment,
                   CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ), r AS (
            SELECT *, row_number() OVER (PARTITION BY c_mktsegment
                                         ORDER BY cents, o_orderkey) AS rn,
                      count(*) OVER (PARTITION BY c_mktsegment) AS n
            FROM j
        ), med AS (
            SELECT c_mktsegment,
                   sum(cents * (CAST(rn = (n+1)//2 AS INT)
                                + CAST(rn = (n+2)//2 AS INT))) AS med2
            FROM r GROUP BY c_mktsegment
        ), d AS (
            SELECT r.o_orderkey, r.o_totalprice, r.c_mktsegment,
                   2*r.cents - m.med2 AS dev2
            FROM r JOIN med m ON r.c_mktsegment = m.c_mktsegment
        ), r2 AS (
            SELECT *, row_number() OVER (PARTITION BY c_mktsegment
                                         ORDER BY abs(dev2), o_orderkey) AS rn2,
                      count(*) OVER (PARTITION BY c_mktsegment) AS n2
            FROM d
        ), mad AS (
            SELECT c_mktsegment,
                   sum(abs(dev2) * (CAST(rn2 = (n2+1)//2 AS INT)
                                    + CAST(rn2 = (n2+2)//2 AS INT))) AS mad4
            FROM r2 GROUP BY c_mktsegment
        )
        SELECT d.o_orderkey, d.c_mktsegment, d.o_totalprice,
               round(2.0 * d.dev2 / m.mad4, 6) AS mad_score
        FROM d JOIN mad m ON d.c_mktsegment = m.c_mktsegment
        WHERE abs(round(2.0 * d.dev2 / m.mad4, 6)) >= {MAD_THRESHOLD}
        ORDER BY d.o_orderkey
    """,
    doc="Robust (median/MAD) outlier detection per segment — the "
    "breakdown-resistant sibling of anomaly_zscore_orders: score = "
    "(x - median) / MAD, exact until the final division via the "
    "doubled-median trick (med2 = sum of the two middle cents = "
    "2x median; dev2 = 2*cents - med2; mad4 = doubled median of "
    "|dev2| = 4x MAD; score = 2*dev2/mad4) so both engines agree "
    "bit-for-bit with no float quantile interpolation. Each median is "
    "one sorted window + tiny aggregate per segment (5 segments); at "
    "100 TB swap the exact in-segment sort for "
    "sketch_histogram_quantiles' bin rule — the score formula is "
    "unchanged. Unlike z-scores, one pathological whale order cannot "
    "drag the threshold: median and MAD ignore the tail entirely.",
    tags=("linkage", "anomaly", "robust"),
)
def anomaly_mad_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    j = orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey).select(
        "o_orderkey",
        "o_totalprice",
        "c_mktsegment",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("c_mktsegment").orderBy("cents", "o_orderkey")
    wn = Window.partitionBy("c_mktsegment")
    # r feeds the median aggregate AND the deviation join, and d (from
    # r) feeds the MAD aggregate AND the final scorer — without a
    # persist the optimizer re-derives the join+window subtree per
    # consumer (r12 before-plan: 16 parquet scans, 0 reuse). One
    # materialization; everything downstream is a broadcast join or a
    # sort over the SAME hash(c_mktsegment) partitioning the cache
    # preserves (guide §5 caching, §2.4 shared exchange).
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import memo_persist

    r = memo_persist(
        spark, "anomaly_mad_r", sf_dir,
        lambda: j.withColumn("rn", F.row_number().over(w)).withColumn(
            "n", F.count(F.lit(1)).over(wn)
        ),
    )
    # Integer floor-div in the position formula: (n+1)//2 via expr.
    pick = (
        (F.col("rn") == F.expr("(n + 1) div 2")).cast("int")
        + (F.col("rn") == F.expr("(n + 2) div 2")).cast("int")
    )
    med = r.groupBy("c_mktsegment").agg(F.sum(F.col("cents") * pick).alias("med2"))
    d = r.join(F.broadcast(med), "c_mktsegment").select(
        "o_orderkey",
        "o_totalprice",
        "c_mktsegment",
        (F.lit(2) * F.col("cents") - F.col("med2")).alias("dev2"),
    )
    w2 = Window.partitionBy("c_mktsegment").orderBy(F.abs(F.col("dev2")), "o_orderkey")
    r2 = d.withColumn("rn2", F.row_number().over(w2)).withColumn(
        "n2", F.count(F.lit(1)).over(wn)
    )
    pick2 = (
        (F.col("rn2") == F.expr("(n2 + 1) div 2")).cast("int")
        + (F.col("rn2") == F.expr("(n2 + 2) div 2")).cast("int")
    )
    mad = r2.groupBy("c_mktsegment").agg(F.sum(F.abs(F.col("dev2")) * pick2).alias("mad4"))
    score = F.round(F.lit(2.0) * F.col("dev2") / F.col("mad4"), 6)
    return (
        d.join(F.broadcast(mad), "c_mktsegment")
        .select("o_orderkey", "c_mktsegment", "o_totalprice", score.alias("mad_score"))
        .filter(F.abs(F.col("mad_score")) >= MAD_THRESHOLD)
        .orderBy("o_orderkey")
    )


# Sketch-MAD: fixed-width histogram bins, so both medians become
# integer ceil-rank read-offs over <=MS_NBINS rows per segment instead
# of exact in-segment sorts. Bin width $500 (50_000 cents) over the
# 0..$600k o_totalprice domain -> estimate error <= half a bin ($250)
# per median, documented in SCALE.md.
MS_BIN_C = 50_000  # cents per bin
MS_NBINS = 1200


@query(
    "anomaly_mad_sketch",
    oracle=f"""
        WITH j AS (
            SELECT o.o_orderkey, o.o_totalprice, c.c_mktsegment,
                   CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ), h1 AS (
            SELECT c_mktsegment,
                   LEAST(cents // {MS_BIN_C}, {MS_NBINS - 1}) AS bin,
                   count(*) AS cnt
            FROM j GROUP BY 1, 2
        ), c1 AS (
            SELECT c_mktsegment, bin,
                   sum(cnt) OVER (PARTITION BY c_mktsegment ORDER BY bin
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(cnt) OVER (PARTITION BY c_mktsegment) AS n
            FROM h1
        ), med AS (
            SELECT c_mktsegment, min(bin) AS mbin
            FROM c1 WHERE cum >= (n + 1) // 2 GROUP BY 1
        ), d AS (
            SELECT j.o_orderkey, j.o_totalprice, j.c_mktsegment,
                   2 * j.cents - (2 * m.mbin * {MS_BIN_C} + {MS_BIN_C}) AS dev2
            FROM j JOIN med m USING (c_mktsegment)
        ), h2 AS (
            SELECT c_mktsegment,
                   LEAST(abs(dev2) // {2 * MS_BIN_C}, {MS_NBINS - 1}) AS bin,
                   count(*) AS cnt
            FROM d GROUP BY 1, 2
        ), c2 AS (
            SELECT c_mktsegment, bin,
                   sum(cnt) OVER (PARTITION BY c_mktsegment ORDER BY bin
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(cnt) OVER (PARTITION BY c_mktsegment) AS n
            FROM h2
        ), mad AS (
            SELECT c_mktsegment,
                   min(bin) * {2 * MS_BIN_C} + {MS_BIN_C} AS mad2
            FROM c2 WHERE cum >= (n + 1) // 2 GROUP BY 1
        )
        SELECT d.o_orderkey, d.c_mktsegment, d.o_totalprice,
               round(CAST(d.dev2 AS DOUBLE) / m.mad2, 6) AS mad_score
        FROM d JOIN mad m USING (c_mktsegment)
        WHERE abs(round(CAST(d.dev2 AS DOUBLE) / m.mad2, 6)) >= {MAD_THRESHOLD}
        ORDER BY d.o_orderkey
    """,
    doc="The 100 TB MAD path anomaly_mad_orders' doc promises: both "
    f"medians read off {MS_NBINS}-bin fixed-width histograms "
    "(sketch_histogram_quantiles' integer ceil-rank rule) instead of "
    "exact per-segment sorts — at scale a segment's exact median is "
    "one sorted window in effectively one task, while the histogram "
    "is a map-side-combined groupBy whose cumulative window runs over "
    "the SKETCH (<= bins rows per segment), never the data. Pass 1 "
    "bins cents per segment and picks the first bin with cum >= "
    "ceil(n/2); the median estimate is that bin's center (doubled to "
    "stay integer: med2 = 2*bin*W + W). Pass 2 bins |2*cents - med2| "
    "the same way for the MAD estimate mad2. score = dev2/mad2 — the "
    "same (x - median)/MAD semantics, each estimate within half a bin "
    "($250) of exact, pure-integer until the final division so both "
    "engines agree bit-for-bit. Bin counts ADD across shards/days — "
    "the sketches merge by summing, the exact sorts never could.",
    tags=("linkage", "anomaly", "robust", "sketch"),
)
def anomaly_mad_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    j = orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey).select(
        "o_orderkey",
        "o_totalprice",
        "c_mktsegment",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    bin1 = F.least(F.expr(f"cents div {MS_BIN_C}"), F.lit(MS_NBINS - 1))
    h1 = j.groupBy("c_mktsegment", bin1.alias("bin")).agg(F.count(F.lit(1)).alias("cnt"))
    wcum = (
        Window.partitionBy("c_mktsegment")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wseg = Window.partitionBy("c_mktsegment")
    c1 = h1.select(
        "c_mktsegment",
        "bin",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wseg).alias("n"),
    )
    med = (
        c1.filter(F.col("cum") >= F.expr("(n + 1) div 2"))
        .groupBy("c_mktsegment")
        .agg(F.min("bin").alias("mbin"))
    )
    d = j.join(F.broadcast(med), "c_mktsegment").select(
        "o_orderkey",
        "o_totalprice",
        "c_mktsegment",
        (F.lit(2) * F.col("cents") - (F.lit(2 * MS_BIN_C) * F.col("mbin") + F.lit(MS_BIN_C))).alias(
            "dev2"
        ),
    )
    bin2 = F.least(F.expr(f"abs(dev2) div {2 * MS_BIN_C}"), F.lit(MS_NBINS - 1))
    h2 = d.groupBy("c_mktsegment", bin2.alias("bin")).agg(F.count(F.lit(1)).alias("cnt"))
    c2 = h2.select(
        "c_mktsegment",
        "bin",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wseg).alias("n"),
    )
    mad = (
        c2.filter(F.col("cum") >= F.expr("(n + 1) div 2"))
        .groupBy("c_mktsegment")
        .agg((F.min("bin") * F.lit(2 * MS_BIN_C) + F.lit(MS_BIN_C)).alias("mad2"))
    )
    score = F.round(F.col("dev2").cast("double") / F.col("mad2"), 6)
    return (
        d.join(F.broadcast(mad), "c_mktsegment")
        .select("o_orderkey", "c_mktsegment", "o_totalprice", score.alias("mad_score"))
        .filter(F.abs(F.col("mad_score")) >= MAD_THRESHOLD)
        .orderBy("o_orderkey")
    )

"""Mergeable-sketch operators with deterministic, oracle-checkable math.

Approximate aggregation is how 100 TB pipelines answer "how often"
without a full-cardinality shuffle. Engine-native sketches (HLL++ in
`agg_approx_distinct`) have engine-specific hash internals, so that
query hash-checks a ±5% error-bound predicate (each engine asserts its
own estimate against the exact count) rather than raw estimates; the
count-min sketch here is built from
this repo's own portable hash constants (functions/textfns.py), so the
ENTIRE sketch — every bucket count and every estimate — is reproduced
bit-for-bit by the DuckDB oracle. That turns "approximate" into
"deterministically approximate": the error is bounded AND the result
is value-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import load, load_parallel
from data_pipeline_with_hdfs_sql_integration_spark.functions import textfns as tf
from data_pipeline_with_hdfs_sql_integration_spark.registry import query

CMS_DEPTH = 4  # pairwise-independent hash rows (reuse MINHASH_PARAMS[:4])
CMS_WIDTH = 256  # buckets per row
CMS_TOPN = 25  # report estimates for the exact top-N tokens


def _cms_params() -> list[tuple[int, int]]:
    return tf.MINHASH_PARAMS[:CMS_DEPTH]


def _sql_bucket(th: str, a: int, b: int) -> str:
    return f"(({a} * {th} + {b}) % {tf.MOD}) % {CMS_WIDTH}"


@query(
    "sketch_count_min_tokens",
    oracle=f"""
        WITH occ AS (
            SELECT {tf.sql_poly_hash_str('tok')} AS th, tok
            FROM (SELECT unnest({tf.sql_tokens('text')}) AS tok FROM documents)
        ),
        sketch AS (
            {" UNION ALL ".join(
                f'''SELECT {d} AS d, {_sql_bucket('th', a, b)} AS bucket,
                           count(*) AS cnt FROM occ GROUP BY 2'''
                for d, (a, b) in enumerate(_cms_params())
            )}
        ),
        top AS (
            SELECT tok, th, count(*) AS exact_count
            FROM occ GROUP BY tok, th
            ORDER BY exact_count DESC, tok ASC
            LIMIT {CMS_TOPN}
        ),
        probes AS (
            {" UNION ALL ".join(
                f'''SELECT tok, exact_count, {d} AS d,
                           {_sql_bucket('th', a, b)} AS bucket FROM top'''
                for d, (a, b) in enumerate(_cms_params())
            )}
        )
        SELECT p.tok,
               CAST(p.exact_count AS BIGINT) AS exact_count,
               CAST(min(s.cnt) AS BIGINT) AS cms_estimate,
               CAST(min(s.cnt) - p.exact_count AS BIGINT) AS overestimate
        FROM probes p JOIN sketch s ON s.d = p.d AND s.bucket = p.bucket
        GROUP BY p.tok, p.exact_count
        ORDER BY exact_count DESC, tok ASC
    """,
    doc=f"Count-min sketch over token occurrences: {CMS_DEPTH} hash rows x "
    f"{CMS_WIDTH} buckets built with this repo's portable hash constants, "
    "then the exact top-"
    f"{CMS_TOPN} tokens probed against it (estimate = min over rows; "
    "CMS guarantees estimate >= exact, and the overestimate column "
    "shows the collision error). The sketch is a grouped count on "
    f"(row, bucket) — {CMS_DEPTH}x{CMS_WIDTH} cells regardless of corpus size, "
    "fully map-side combinable and mergeable across shards/streams: "
    "the 100 TB counting tool when the key cardinality itself is the "
    "problem. Deterministic hashes make even the 'approximate' values "
    "oracle-checkable.",
    tags=("sketch", "text", "approx"),
)
def sketch_count_min_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    occ = docs.select(
        F.explode(tf.tokens(F.col("text"))).alias("tok")
    ).select("tok", tf.poly_hash_str(F.col("tok")).alias("th"))

    def bucket(d: int):
        a, b = _cms_params()[d]
        return ((F.lit(a) * F.col("th") + b) % tf.MOD) % CMS_WIDTH

    # Sketch: one pass, every occurrence contributes to CMS_DEPTH cells.
    # posexplode over the per-row bucket array keeps it a single scan.
    cells = occ.select(
        F.posexplode(F.array(*[bucket(d) for d in range(CMS_DEPTH)])).alias("d", "bucket")
    )
    sketch = cells.groupBy("d", "bucket").agg(F.count("*").alias("cnt"))

    top = (
        occ.groupBy("tok", "th")
        .agg(F.count("*").alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), F.col("tok").asc())
        .limit(CMS_TOPN)
    )
    probes = top.select(
        "tok",
        "exact_count",
        F.posexplode(F.array(*[bucket(d) for d in range(CMS_DEPTH)])).alias("d", "bucket"),
    )
    return (
        probes.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("tok", "exact_count")
        .agg(F.min("cnt").alias("cms_estimate"))
        .select(
            "tok",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).alias("overestimate"),
        )
        .orderBy(F.col("exact_count").desc(), F.col("tok").asc())
    )


@query(
    "stream_sketch_cells",
    oracle=f"""
        SELECT d, bucket, CAST(count(*) AS BIGINT) AS cnt
        FROM (
            {" UNION ALL ".join(
                f'''SELECT CAST({d} AS INTEGER) AS d,
                           (({a} * user_id + {b}) % {tf.MOD}) % {CMS_WIDTH} AS bucket
                    FROM events'''
                for d, (a, b) in enumerate(_cms_params())
            )}
        )
        GROUP BY d, bucket
    """,
    doc="Count-min sketch maintained BY A STREAM: every event updates "
    f"{CMS_DEPTH} of the {CMS_DEPTH}x{CMS_WIDTH} cells keyed on user_id; the "
    "streaming state is the sketch itself — bounded at the cell count "
    "whatever the stream's key cardinality, which is the entire point "
    "of sketch-backed streaming counters (an exact per-user count's "
    "state grows with users forever). availableNow-driven here; the "
    "final cells equal the batch-built sketch on the same events — "
    "the mergeability property, value-checked against the oracle.",
    tags=("sketch", "streaming", "approx"),
)
def stream_sketch_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_hdfs_sql_integration_spark.streaming.windows import (
        events_stream,
        run_to_memory,
    )

    ev = events_stream(spark, sf_dir)

    def bucket(d: int):
        a, b = _cms_params()[d]
        return ((F.lit(a) * F.col("user_id") + b) % tf.MOD) % CMS_WIDTH

    cells = ev.select(
        F.posexplode(F.array(*[bucket(d) for d in range(CMS_DEPTH)])).alias("d", "bucket")
    ).groupBy("d", "bucket").agg(F.count("*").alias("cnt"))
    return run_to_memory(cells)


# -------------------------------------------------- histogram quantiles
HQ_BIN_W = 500.0  # fixed bin width over o_totalprice
HQ_NBINS = 1200  # covers [0, 600k); clamp under/overflow to end bins
HQ_QS_PM = (500, 900, 950, 990)  # per-mille quantiles to report


@query(
    "sketch_histogram_quantiles",
    oracle=f"""
        WITH hist AS (
            SELECT LEAST(GREATEST(CAST(floor(o_totalprice / {HQ_BIN_W}) AS BIGINT),
                                  0), {HQ_NBINS - 1}) AS bin,
                   count(*) AS cnt
            FROM orders
            GROUP BY 1
        ),
        cum AS (
            SELECT bin, cnt,
                   sum(cnt) OVER (ORDER BY bin
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum,
                   sum(cnt) OVER () AS total
            FROM hist
        ),
        qs AS (SELECT unnest([{", ".join(str(q) for q in HQ_QS_PM)}]) AS q_pm)
        SELECT qs.q_pm,
               CAST(min(cum.bin) AS BIGINT) AS est_bin,
               CAST((min(cum.bin) + 1) * {HQ_BIN_W} AS DOUBLE) AS est_upper,
               CAST(min(cum.total) AS BIGINT) AS n
        FROM qs JOIN cum
          ON cum.cum >= (qs.q_pm * cum.total + 999) // 1000
        GROUP BY qs.q_pm
    """,
    doc=f"Mergeable histogram-quantile sketch: {HQ_NBINS} fixed "
    f"{HQ_BIN_W:g}-wide bins over o_totalprice (one map-side-combined "
    "groupBy; bin counts ADD, so shards/days/reruns merge by summing), "
    "then P50/P90/P95/P99 read off as the first bin whose cumulative "
    "count reaches ceil(q*N) — a pure-integer rule both engines "
    "evaluate identically, making this 'deterministically "
    "approximate' like the count-min sketch (error bound = one bin "
    "width, here 500 on a 0-600k domain). The cumulative window runs "
    f"over AT MOST {HQ_NBINS} rows regardless of corpus size — the "
    "single-partition window is over the SKETCH, never the data — and "
    "the quantile probe joins a 4-row literal against it. This is the "
    "100 TB percentile path where exact sorts are off the table and "
    "engine-native approx_percentile is not value-checkable across "
    "engines.",
    tags=("sketch", "quantile", "agg"),
)
def sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_parallel(spark, sf_dir, "orders")
    b = F.least(
        F.greatest(
            F.floor(F.col("o_totalprice") / HQ_BIN_W).cast("long"), F.lit(0)
        ),
        F.lit(HQ_NBINS - 1),
    )
    hist = o.select(b.alias("bin")).groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    # Cumulative sum + probe read off <= HQ_NBINS rows via one HOF
    # fold — state bounded by the sketch width, no Window operator.
    return _quantile_readoff(hist, HQ_QS_PM, HQ_BIN_W)


HQE_BIN_W = 1.0  # events.value domain is a few hundred
HQE_NBINS = 1024


def _quantile_readoff(hist: DataFrame, qs_pm: tuple[int, ...], bin_w: float) -> DataFrame:
    """(q_pm, est_bin, est_upper, n) from a (bin, cnt) histogram — the
    shared integer ceil-rank rule. The cumulative counts come from ONE
    HOF fold over the collected histogram (an aggregate merging
    constant-size sketch state — the canonical sketch read-off), so no
    Window operator and no single-partition sort exist anywhere in the
    plan; state is bounded by the sketch width, never the data."""
    spark = hist.sparkSession
    arr = hist.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("bin").cast("long").alias("bin"),
                    F.col("cnt").cast("long").alias("cnt"),
                )
            )
        ).alias("h")
    )
    # Running-sum scan: fold the sorted bins into (bin, cum) pairs.
    scan = arr.select(
        F.expr(
            """
            aggregate(
                h,
                named_struct(
                    'out', cast(array() as array<struct<bin:bigint,cum:bigint>>),
                    'run', cast(0 as bigint)),
                (acc, x) -> named_struct(
                    'out', concat(acc.out,
                                  array(named_struct('bin', x.bin,
                                                     'cum', acc.run + x.cnt))),
                    'run', acc.run + x.cnt),
                acc -> acc.out)
            """
        ).alias("cums")
    )
    cum = (
        scan.select(
            # try_element_at: an EMPTY histogram (empty source
            # relation) must yield zero output rows via the explode
            # below, not an ANSI INVALID_ARRAY_INDEX error here.
            "cums", F.try_element_at("cums", F.lit(-1))["cum"].alias("total")
        )
        .select(F.explode("cums").alias("s"), "total")
        .select(
            F.col("s.bin").alias("bin"), F.col("s.cum").alias("cum"), "total"
        )
    )
    qdf = spark.createDataFrame([(q,) for q in qs_pm], "q_pm bigint")
    return (
        cum.join(F.broadcast(qdf), F.col("cum") >= F.expr("(q_pm * total + 999) div 1000"))
        .groupBy("q_pm")
        .agg(
            F.min("bin").cast("long").alias("est_bin"),
            ((F.min("bin") + 1) * bin_w).cast("double").alias("est_upper"),
            F.min("total").cast("long").alias("n"),
        )
    )


@query(
    "stream_histogram_quantiles",
    oracle=f"""
        WITH hist AS (
            SELECT LEAST(GREATEST(CAST(floor(value / {HQE_BIN_W}) AS BIGINT), 0),
                         {HQE_NBINS - 1}) AS bin,
                   count(*) AS cnt
            FROM events GROUP BY 1
        ),
        cum AS (
            SELECT bin, cnt,
                   sum(cnt) OVER (ORDER BY bin
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum,
                   sum(cnt) OVER () AS total
            FROM hist
        ),
        qs AS (SELECT unnest([{", ".join(str(q) for q in HQ_QS_PM)}]) AS q_pm)
        SELECT qs.q_pm,
               CAST(min(cum.bin) AS BIGINT) AS est_bin,
               CAST((min(cum.bin) + 1) * {HQE_BIN_W} AS DOUBLE) AS est_upper,
               CAST(min(cum.total) AS BIGINT) AS n
        FROM qs JOIN cum
          ON cum.cum >= (qs.q_pm * cum.total + 999) // 1000
        GROUP BY qs.q_pm
    """,
    doc="The histogram-quantile sketch maintained BY A STREAM: each "
    f"event increments one of {HQE_NBINS} fixed bins over `value`, so "
    "the streaming state is the sketch — bounded at the bin count "
    "whatever the stream length (exact streaming percentiles would "
    "hold every value forever). The quantile read-off reuses the same "
    "integer ceil-rank rule as the batch sketch on the post-stream "
    "histogram; the streamed cells equal the batch histogram on the "
    "same events — the mergeability property, value-checked against "
    "the batch oracle.",
    tags=("sketch", "quantile", "streaming", "approx"),
)
def stream_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_hdfs_sql_integration_spark.streaming.windows import (
        events_stream,
        run_to_memory,
    )

    ev = events_stream(spark, sf_dir)
    b = F.least(
        F.greatest(F.floor(F.col("value") / HQE_BIN_W).cast("long"), F.lit(0)),
        F.lit(HQE_NBINS - 1),
    )
    hist = ev.select(b.alias("bin")).groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    return _quantile_readoff(run_to_memory(hist), HQ_QS_PM, HQE_BIN_W)


@query(
    "sketch_group_quantiles",
    oracle=f"""
        WITH hist AS (
            SELECT o_orderpriority,
                   LEAST(GREATEST(CAST(floor(o_totalprice / {HQ_BIN_W}) AS BIGINT),
                                  0), {HQ_NBINS - 1}) AS bin,
                   count(*) AS cnt
            FROM orders
            GROUP BY 1, 2
        ),
        cum AS (
            SELECT o_orderpriority, bin,
                   sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY bin
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum,
                   sum(cnt) OVER (PARTITION BY o_orderpriority) AS total
            FROM hist
        ),
        qs AS (SELECT unnest([500, 950]) AS q_pm)
        SELECT cum.o_orderpriority, qs.q_pm,
               CAST((min(cum.bin) + 1) * {HQ_BIN_W} AS DOUBLE) AS est_upper,
               CAST(min(cum.total) AS BIGINT) AS n
        FROM qs JOIN cum
          ON cum.cum >= (qs.q_pm * cum.total + 999) // 1000
        GROUP BY cum.o_orderpriority, qs.q_pm
    """,
    doc="GROUPED histogram quantiles: P50/P95 of order value per "
    "priority class from one (group, bin) aggregate — the groupwise "
    "percentile report at 100 TB, where a per-group exact sort is off "
    "the table and engine-native approx_percentile(GROUP BY) is not "
    "cross-engine value-checkable. The cumulative window partitions by "
    "group but still runs over at most n_bins rows per group, and the "
    "(group, bin) sketch relation remains mergeable by summing — the "
    "same contract as the global sketch, just keyed.",
    tags=("sketch", "quantile", "agg"),
)
def sketch_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_parallel(spark, sf_dir, "orders")
    b = F.least(
        F.greatest(F.floor(F.col("o_totalprice") / HQ_BIN_W).cast("long"), F.lit(0)),
        F.lit(HQ_NBINS - 1),
    )
    hist = (
        o.select(F.col("o_orderpriority"), b.alias("bin"))
        .groupBy("o_orderpriority", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cum = hist.select(
        "o_orderpriority",
        "bin",
        F.sum("cnt").over(
            Window.partitionBy("o_orderpriority").orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("o_orderpriority")).alias("total"),
    )
    qdf = spark.createDataFrame([(500,), (950,)], "q_pm bigint")
    return (
        cum.join(F.broadcast(qdf), F.col("cum") >= F.expr("(q_pm * total + 999) div 1000"))
        .groupBy("o_orderpriority", "q_pm")
        .agg(
            ((F.min("bin") + 1) * HQ_BIN_W).cast("double").alias("est_upper"),
            F.min("total").cast("long").alias("n"),
        )
    )


# ------------------------------------------------------------------ bloom
#: Bloom filter geometry: BLOOM_WORDS words of 62 usable bits (the
#: sign and top bit stay clear so `1 << pos` never wraps in either
#: engine — same 62-bit convention as the LSH signature words).
BLOOM_WORDS = 64
BLOOM_WORD_BITS = 62
BLOOM_BITS = BLOOM_WORDS * BLOOM_WORD_BITS
#: k independent hash functions (reuse the shared affine family).
BLOOM_K = 3


def _bloom_params() -> list[tuple[int, int]]:
    return tf.MINHASH_PARAMS[CMS_DEPTH : CMS_DEPTH + BLOOM_K]


def _sql_bloom_pos(key: str, a: int, b: int) -> str:
    return f"(({a} * {key} + {b}) % {tf.MOD}) % {BLOOM_BITS}"


def _bloom_word_mask(df: DataFrame) -> DataFrame:
    """Explode a keyed relation into its (k, word, mask) filter cells.

    pos = affine hash mod the bit width; word/mask derive via integer
    div and a 62-bit-safe shiftleft (SQL expr — the Python shiftleft
    binding takes only literal shift amounts).
    """
    pos_arr = F.array(
        *[((F.lit(a) * F.col("k") + F.lit(b)) % tf.MOD) % BLOOM_BITS for a, b in _bloom_params()]
    )
    return df.select("k", F.explode(pos_arr).alias("pos")).select(
        "k",
        F.expr(f"pos div {BLOOM_WORD_BITS}").alias("word"),
        F.expr(f"shiftleft(cast(1 as bigint), cast(pos % {BLOOM_WORD_BITS} as int))").alias("mask"),
    )


@query(
    "sketch_bloom_membership",
    oracle=f"""
        WITH members AS (
            SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
        ),
        setbits AS (
            {" UNION ALL ".join(
                f'''SELECT {_sql_bloom_pos('k', a, b)} // {BLOOM_WORD_BITS} AS word,
                           (CAST(1 AS BIGINT) << ({_sql_bloom_pos('k', a, b)} % {BLOOM_WORD_BITS})) AS mask
                    FROM members'''
                for a, b in _bloom_params()
            )}
        ),
        bloom AS (
            SELECT word, bit_or(mask) AS bits FROM setbits GROUP BY word
        ),
        probes AS (
            SELECT c.c_custkey AS k,
                   EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderstatus = 'F') AS exact_member
            FROM customer c
        ),
        checks AS (
            {" UNION ALL ".join(
                f'''SELECT k, {_sql_bloom_pos('k', a, b)} // {BLOOM_WORD_BITS} AS word,
                           (CAST(1 AS BIGINT) << ({_sql_bloom_pos('k', a, b)} % {BLOOM_WORD_BITS})) AS mask
                    FROM probes'''
                for a, b in _bloom_params()
            )}
        ),
        verdicts AS (
            SELECT ch.k,
                   min(CASE WHEN (bl.bits & ch.mask) <> 0 THEN 1 ELSE 0 END) AS all_set
            FROM checks ch LEFT JOIN bloom bl ON bl.word = ch.word
            GROUP BY ch.k
        )
        SELECT p.k AS custkey,
               (v.all_set = 1) AS bloom_positive,
               p.exact_member,
               (v.all_set = 1 AND NOT p.exact_member) AS false_positive
        FROM probes p JOIN verdicts v ON v.k = p.k
    """,
    doc="Deterministic Bloom-filter membership: the distinct custkeys "
    f"holding finalized ('F') orders are inserted into a {BLOOM_BITS}-bit filter "
    f"({BLOOM_WORDS} x {BLOOM_WORD_BITS}-bit BIGINT words, "
    f"{BLOOM_K} affine hashes from the shared family), then EVERY "
    "customer is probed — per-customer verdict (bloom_positive, "
    "exact_member, false_positive) against the exact semi-join truth. "
    "The filter build is one explode + bit_or groupBy (mergeable: "
    "filters from shards/days OR together), and the word geometry is "
    "sign-safe in both engines. The filter is deliberately undersized "
    "(load ~k*n/m) so false positives actually occur and their exact "
    "set is value-checked — 'deterministically approximate' like the "
    "count-min sketch. At 100 TB this is THE semi-join reduction tool: "
    "a few KiB broadcast to every scan task filters a fact table "
    "before the shuffle (the hand-rolled, cross-engine-checkable "
    "analog of Spark's runtime InBloomFilter pruning, which "
    "layout_bloom_join_pruning proves engages natively).",
    tags=("sketch", "approx", "join"),
)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import memo_persist

    # Plain scans: the per-row work here is 3 affine hashes — the
    # load_parallel repartition exchange costs more than the
    # parallelism it buys, and members' own distinct exchange already
    # spreads the build side. members feeds BOTH the filter build and
    # the probe-side exact check; persist it once.
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    members = memo_persist(
        spark,
        ("bloom_members", sf_dir),
        lambda: (
            orders.filter(F.col("o_orderstatus") == "F")
            .select(F.col("o_custkey").alias("k"))
            .distinct()
        ),
    )

    setbits = _bloom_word_mask(members)
    bloom = setbits.groupBy("word").agg(F.bit_or("mask").alias("bits"))

    probes = customer.select(F.col("c_custkey").alias("k")).join(
        members.withColumnRenamed("k", "mk"),
        F.col("k") == F.col("mk"),
        "left",
    ).select("k", F.col("mk").isNotNull().alias("exact_member"))

    # The whole filter is <= BLOOM_WORDS bigint words — fold it into ONE
    # map row, broadcast it, and evaluate all BLOOM_K probes as inline
    # expressions per customer. The previous shape exploded every probe
    # key BLOOM_K ways, shuffled the hits back into a per-key min, and
    # re-joined the verdicts onto probes — two exchanges and a join to
    # re-associate rows that never needed to leave their task (guide
    # §2.4: remove shuffles outright; the probe is a pure map). A
    # missing word reads as 0 bits via coalesce — identical to the old
    # left-join's null -> miss rule.
    bloom_map = bloom.agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("word", "bits")))
        ).alias("bm")
    )
    # Explicit crossJoin (ADVICE r12): this is an intentional 1-row
    # broadcast attach, not an accidental cartesian — crossJoin says so
    # and keeps working if spark.sql.crossJoin.enabled is ever tightened.
    probed = probes.crossJoin(F.broadcast(bloom_map))
    all_set = F.lit(True)
    for a, b in _bloom_params():
        pos = ((F.lit(a) * F.col("k") + F.lit(b)) % tf.MOD) % BLOOM_BITS
        probed = probed.withColumn("_pos", pos)
        bit_set = (
            F.coalesce(
                F.element_at(F.col("bm"), F.expr(f"_pos div {BLOOM_WORD_BITS}")),
                F.lit(0).cast("long"),
            ).bitwiseAND(
                F.expr(
                    f"shiftleft(cast(1 as bigint), cast(_pos % {BLOOM_WORD_BITS} as int))"
                )
            )
            != 0
        )
        probed = probed.withColumn("_hit_" + str(a), bit_set).drop("_pos")
        all_set = all_set & F.col("_hit_" + str(a))
    return probed.select(
        F.col("k").alias("custkey"),
        all_set.alias("bloom_positive"),
        "exact_member",
        (all_set & ~F.col("exact_member")).alias("false_positive"),
    )


# -------------------------------------------------------------------- KMV
#: k-minimum-values sketch: keep the k smallest distinct hash values;
#: estimate distinct count as (k-1) * HASH_RANGE / kth_min. Mergeable
#: by unioning k-min sets and re-truncating to k — shown below by
#: deriving the union estimate FROM the per-group sketches.
KMV_K = 64
#: Affine hash index 7 (count-min uses 0-3, the Bloom filter 4-6).
KMV_PARAM_IDX = 7


@query(
    "sketch_kmv_distinct",
    oracle=f"""
        WITH hashed AS (
            SELECT DISTINCT l_returnflag AS grp,
                   ({tf.MINHASH_PARAMS[KMV_PARAM_IDX][0]} * l_orderkey
                    + {tf.MINHASH_PARAMS[KMV_PARAM_IDX][1]}) % {tf.MOD} AS h
            FROM lineitem
        ),
        ranked AS (
            SELECT grp, h,
                   row_number() OVER (PARTITION BY grp ORDER BY h ASC) AS rn
            FROM hashed
        ),
        kmin AS (
            SELECT grp, h, rn FROM ranked WHERE rn <= {KMV_K}
        ),
        grp_est AS (
            SELECT grp,
                   CAST(({KMV_K} - 1) * CAST({tf.MOD} AS BIGINT) // h AS BIGINT)
                       AS kmv_estimate
            FROM kmin WHERE rn = {KMV_K}
        ),
        grp_exact AS (
            SELECT l_returnflag AS grp,
                   CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct
            FROM lineitem GROUP BY 1
        ),
        merged AS (
            SELECT h, row_number() OVER (ORDER BY h ASC) AS rn
            FROM (SELECT DISTINCT h FROM kmin)
        ),
        union_est AS (
            SELECT CAST(({KMV_K} - 1) * CAST({tf.MOD} AS BIGINT) // h AS BIGINT)
                       AS kmv_estimate
            FROM merged WHERE rn = {KMV_K}
        ),
        union_exact AS (
            SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct
            FROM lineitem
        )
        SELECT g.grp, g.kmv_estimate, x.exact_distinct
        FROM grp_est g JOIN grp_exact x USING (grp)
        UNION ALL
        SELECT '__union__' AS grp, u.kmv_estimate, x.exact_distinct
        FROM union_est u, union_exact x
    """,
    doc=f"K-minimum-values distinct sketch: per returnflag, the {KMV_K} "
    "smallest distinct affine-hash values of l_orderkey (whose range "
    "wraps the modulus many times, so ONE affine round is uniform "
    "enough — small-range keys need the chained rounds "
    "sketch_kmv_intersection uses); estimate = "
    f"(k-1)*RANGE/kth_min in exact BIGINTs. The '__union__' row is the "
    "point: its estimate is derived from the per-group SKETCHES alone "
    "(union the k-min sets, re-truncate to k, read the new kth min) — "
    "the mergeability that lets 1000 executors sketch their partitions "
    "independently and combine in O(k) per group, and the same "
    "algebra that gives set-INTERSECTION estimates (inclusion-"
    "exclusion over merged sketches), which HLL cannot do. Exact "
    "distinct counts ride alongside so the (deterministic, "
    "value-checked) error is visible. Scale: the sketch build is one "
    "distinct + one bounded window per group — the k-min set is "
    f"{KMV_K} longs per group regardless of cardinality; compare "
    "agg_approx_distinct (engine-native HLL, error-bound-checked "
    "only) and sketch_count_min_tokens (frequency, not cardinality).",
    tags=("sketch", "approx", "agg"),
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_parallel(spark, sf_dir, "lineitem")
    a, b = tf.MINHASH_PARAMS[KMV_PARAM_IDX]
    hashed = li.select(
        F.col("l_returnflag").alias("grp"),
        ((F.lit(a) * F.col("l_orderkey") + F.lit(b)) % tf.MOD).alias("h"),
    ).distinct()
    ranked = hashed.select(
        "grp", "h", F.row_number().over(Window.partitionBy("grp").orderBy(F.col("h").asc())).alias("rn")
    )
    kmin = ranked.filter(F.col("rn") <= KMV_K)
    est_expr = F.expr(f"CAST(({KMV_K} - 1) * CAST({tf.MOD} AS BIGINT) div h AS BIGINT)")
    grp_est = kmin.filter(F.col("rn") == KMV_K).select("grp", est_expr.alias("kmv_estimate"))
    grp_exact = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.countDistinct("l_orderkey").alias("exact_distinct")
    )
    # Union sketch = Kth-smallest of the merged (<= groups x K row)
    # hash sets — element_at over ONE sorted collect_list instead of a
    # row_number window (no unpartitioned WindowExec; the aggregate's
    # state is bounded by the sketch sizes). NULL when the merged set
    # holds fewer than K hashes, filtered to match the old empty result.
    union_kth = (
        kmin.select("h")
        .distinct()
        .agg(
            F.try_element_at(
                F.sort_array(F.collect_list("h")), F.lit(KMV_K)
            ).alias("h")
        )
    )
    union_est = union_kth.filter(F.col("h").isNotNull()).select(
        est_expr.alias("kmv_estimate")
    )
    union_exact = li.agg(F.countDistinct("l_orderkey").alias("exact_distinct"))
    return grp_est.join(grp_exact, "grp").unionAll(
        union_est.crossJoin(union_exact).select(
            F.lit("__union__").alias("grp"), "kmv_estimate", "exact_distinct"
        )
    )


@query(
    "sketch_kmv_intersection",
    oracle=f"""
        WITH hashed AS (
            -- Two chained affine rounds: user_id spans a tiny range, so
            -- one round never wraps the modulus (an arithmetic
            -- progression is NOT uniform); the second round's
            -- multiplication wraps many times and uniformizes.
            SELECT DISTINCT
                   CASE WHEN event_type = 'view' THEN 'A' ELSE 'B' END AS side,
                   ({tf.MINHASH_PARAMS[3][0]}
                    * (({tf.MINHASH_PARAMS[KMV_PARAM_IDX][0]} * user_id
                        + {tf.MINHASH_PARAMS[KMV_PARAM_IDX][1]}) % {tf.MOD})
                    + {tf.MINHASH_PARAMS[3][1]}) % {tf.MOD} AS h
            FROM events WHERE event_type IN ('view', 'purchase')
        ),
        kmin AS (
            SELECT side, h,
                   row_number() OVER (PARTITION BY side ORDER BY h ASC) AS rn
            FROM hashed
        ),
        sk AS (SELECT side, h FROM kmin WHERE rn <= {KMV_K}),
        est AS (
            -- n < k: the sketch holds the whole set, estimate = exact n
            -- (the standard KMV small-set rule).
            SELECT side,
                   coalesce(
                       CAST(({KMV_K} - 1) * CAST({tf.MOD} AS BIGINT)
                            // max(CASE WHEN rn = {KMV_K} THEN h END) AS BIGINT),
                       count(*)) AS e
            FROM kmin WHERE rn <= {KMV_K}
            GROUP BY side
        ),
        merged AS (
            SELECT h, row_number() OVER (ORDER BY h ASC) AS rn
            FROM (SELECT DISTINCT h FROM sk)
        ),
        uest AS (
            SELECT coalesce(
                       CAST(({KMV_K} - 1) * CAST({tf.MOD} AS BIGINT)
                            // max(CASE WHEN rn = {KMV_K} THEN h END) AS BIGINT),
                       count(*)) AS e
            FROM merged
        ),
        exact AS (
            SELECT CAST(count(DISTINCT CASE WHEN event_type = 'view'
                                            THEN user_id END) AS BIGINT) AS na,
                   CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
                                            THEN user_id END) AS BIGINT) AS nb,
                   CAST(count(DISTINCT CASE WHEN user_id IN (
                            SELECT user_id FROM events WHERE event_type = 'view')
                          AND user_id IN (
                            SELECT user_id FROM events WHERE event_type = 'purchase')
                        THEN user_id END) AS BIGINT) AS nab
            FROM events WHERE event_type IN ('view', 'purchase')
        )
        SELECT (SELECT e FROM est WHERE side = 'A') AS est_a,
               (SELECT e FROM est WHERE side = 'B') AS est_b,
               (SELECT e FROM uest) AS est_union,
               (SELECT e FROM est WHERE side = 'A')
               + (SELECT e FROM est WHERE side = 'B')
               - (SELECT e FROM uest) AS est_intersection,
               x.na AS exact_a, x.nb AS exact_b, x.nab AS exact_intersection
        FROM exact x
    """,
    doc="KMV set-INTERSECTION estimate by inclusion-exclusion over "
    "merged sketches: |A∩B| ≈ est(A) + est(B) - est(A∪B), where the "
    "union estimate comes purely from merging the two k-min sets — "
    "the algebra HLL cannot do (HLL unions losslessly but cannot "
    "subtract), and the reason KMV is the audience-overlap / "
    "cross-source-contamination sketch of choice. Exact distinct "
    "counts ride alongside so the (deterministic, value-checked) "
    "error is visible; all estimates are the same integer "
    "(k-1)*RANGE/kth_min rule as sketch_kmv_distinct. At 100 TB each "
    "source sketches independently (k longs), and ANY pairwise "
    "overlap question is answered from sketches alone — no joint "
    "scan of the two sources ever runs.",
    tags=("sketch", "approx", "agg"),
)
def sketch_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_parallel(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    a1, b1 = tf.MINHASH_PARAMS[KMV_PARAM_IDX]
    a2, b2 = tf.MINHASH_PARAMS[3]
    h1 = (F.lit(a1) * F.col("user_id") + F.lit(b1)) % tf.MOD
    hashed = ev.select(
        F.when(F.col("event_type") == "view", "A").otherwise("B").alias("side"),
        ((F.lit(a2) * h1 + F.lit(b2)) % tf.MOD).alias("h"),
    ).distinct()
    ranked = hashed.select(
        "side", "h", F.row_number().over(Window.partitionBy("side").orderBy(F.col("h").asc())).alias("rn")
    )
    sk = ranked.filter(F.col("rn") <= KMV_K)
    kth = F.max(F.when(F.col("rn") == KMV_K, F.col("h")))
    est_of_kth = F.expr(
        f"CAST(({KMV_K} - 1) * CAST({tf.MOD} AS BIGINT) div "
        f"max(CASE WHEN rn = {KMV_K} THEN h END) AS BIGINT)"
    )
    # n < k: the sketch holds the whole set, estimate = exact n.
    est = sk.groupBy("side").agg(
        F.coalesce(est_of_kth, F.count("*")).alias("e")
    )
    # Union estimate off the merged (<= 2K row) sketch: Kth-smallest
    # via element_at over one sorted collect_list — no unpartitioned
    # row_number window; n < K falls back to the exact merged count.
    uest = sk.select("h").distinct().agg(
        F.coalesce(
            F.expr(
                f"CAST(({KMV_K} - 1) * CAST({tf.MOD} AS BIGINT) div "
                f"try_element_at(sort_array(collect_list(h)), {KMV_K}) AS BIGINT)"
            ),
            F.count("*"),
        ).alias("e")
    )
    views = ev.filter(F.col("event_type") == "view").select("user_id").distinct()
    purch = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    exact = (
        views.agg(F.count("*").alias("exact_a"))
        .crossJoin(purch.agg(F.count("*").alias("exact_b")))
        .crossJoin(views.join(purch, "user_id").agg(F.count("*").alias("exact_intersection")))
    )
    ea = est.filter(F.col("side") == "A").select(F.col("e").alias("est_a"))
    eb = est.filter(F.col("side") == "B").select(F.col("e").alias("est_b"))
    eu = uest.select(F.col("e").alias("est_union"))
    return (
        ea.crossJoin(eb)
        .crossJoin(eu)
        .select(
            "est_a",
            "est_b",
            "est_union",
            (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias("est_intersection"),
        )
        .crossJoin(exact)
    )

"""Data-quality profiling: per-column statistics in long form.

The profile every ingestion pipeline runs before trusting a feed:
row/null/distinct counts and min/max per column, one output row per
column. Built from explicit aggregates (not df.summary(), whose
approximate quantiles are seed-dependent and un-oracle-able). All
columns profile in a single pass — one aggregate node computes every
(col × stat) cell, so the fact table is scanned once no matter how
wide the profile is.

String form for min/max keeps the row shape uniform across column
types; numerics go through DECIMAL so both engines print identical
text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import load
from data_pipeline_with_hdfs_sql_integration_spark.registry import query


@query(
    "profile_orders",
    oracle="""
        SELECT 'o_orderkey' AS col, count(*) AS n_rows,
               count(o_orderkey) AS n_present,
               count(DISTINCT o_orderkey) AS n_distinct,
               CAST(min(o_orderkey) AS VARCHAR) AS min_value,
               CAST(max(o_orderkey) AS VARCHAR) AS max_value
        FROM orders
        UNION ALL
        SELECT 'o_totalprice', count(*), count(o_totalprice),
               count(DISTINCT o_totalprice),
               CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR),
               CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderdate', count(*), count(o_orderdate),
               count(DISTINCT o_orderdate),
               CAST(min(o_orderdate) AS VARCHAR),
               CAST(max(o_orderdate) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', count(*), count(o_orderpriority),
               count(DISTINCT o_orderpriority),
               min(o_orderpriority), max(o_orderpriority)
        FROM orders
    """,
    doc="Per-column data-quality profile of orders (long form: one row "
    "per column with row/present/distinct counts and min/max as text). "
    "All four columns profile in ONE aggregate over ONE scan — the "
    "20-cell profile costs the same shuffle as a single count.",
    tags=("profiling", "quality"),
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    # min/max aggregate on the NATIVE type (numeric/timestamp order,
    # not lexicographic), then the one-row result is stringified.
    stringify: dict[str, object] = {
        "o_orderkey": lambda c: c.cast("string"),
        "o_totalprice": lambda c: c.cast("decimal(18,2)").cast("string"),
        "o_orderdate": lambda c: c.cast("string"),
        "o_orderpriority": lambda c: c,
    }
    specs = list(stringify.items())
    agg_cols: list[Column] = []
    for name, to_s in specs:
        agg_cols += [
            F.count("*").alias(f"{name}__n_rows"),
            F.count(name).alias(f"{name}__n_present"),
            F.countDistinct(name).alias(f"{name}__n_distinct"),
            to_s(F.min(name)).alias(f"{name}__min"),
            to_s(F.max(name)).alias(f"{name}__max"),
        ]
    wide = o.agg(*agg_cols)
    per_col = F.array(
        *[
            F.struct(
                F.lit(name).alias("col"),
                F.col(f"{name}__n_rows").alias("n_rows"),
                F.col(f"{name}__n_present").alias("n_present"),
                F.col(f"{name}__n_distinct").alias("n_distinct"),
                F.col(f"{name}__min").alias("min_value"),
                F.col(f"{name}__max").alias("max_value"),
            )
            for name, _ in specs
        ]
    )
    return wide.select(F.explode(per_col).alias("p")).select("p.*")


@query(
    "audit_referential_integrity",
    oracle="""
        SELECT 'lineitem->orders' AS relation,
               CAST((SELECT count(*) FROM lineitem l
                     WHERE NOT EXISTS (SELECT 1 FROM orders o
                                       WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS n_orphans
        UNION ALL
        SELECT 'orders->customer',
               CAST((SELECT count(*) FROM orders o
                     WHERE NOT EXISTS (SELECT 1 FROM customer c
                                       WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
        UNION ALL
        SELECT 'customer->nation',
               CAST((SELECT count(*) FROM customer c
                     WHERE NOT EXISTS (SELECT 1 FROM nation n
                                       WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
        UNION ALL
        SELECT 'nation->region',
               CAST((SELECT count(*) FROM nation n
                     WHERE NOT EXISTS (SELECT 1 FROM region r
                                       WHERE r.r_regionkey = n.n_regionkey)) AS BIGINT)
        UNION ALL
        SELECT 'lineitem->part',
               CAST((SELECT count(*) FROM lineitem l
                     WHERE NOT EXISTS (SELECT 1 FROM part p
                                       WHERE p.p_partkey = l.l_partkey)) AS BIGINT)
        UNION ALL
        SELECT 'lineitem->supplier',
               CAST((SELECT count(*) FROM lineitem l
                     WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                       WHERE s.s_suppkey = l.l_suppkey)) AS BIGINT)
        ORDER BY relation
    """,
    doc="Referential-integrity audit: orphan counts for every foreign-key "
    "edge of the star schema in one result. Each check is a LEFT ANTI "
    "join count; dimension parents broadcast explicitly, fact-sized "
    "parents (orders, customer) shuffle — AQE downgrades those to "
    "broadcast at small SF on its own. The data-quality guard an ETL "
    "pipeline runs after every load; the reference has no integrity "
    "checking at all (it trusts MySQL's dump, server.py:33-39).",
    tags=("profiling", "quality"),
)
def audit_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    def orphans(
        name: str,
        child: DataFrame,
        ckey: str,
        parent: DataFrame,
        pkey: str,
        small_parent: bool,
    ) -> DataFrame:
        # Broadcast only parents that stay small at any scale (the
        # dimension tables). Fact-sized parents (orders, customer)
        # must shuffle-anti-join — forcing a broadcast there would be
        # the classic does-not-survive-100TB bug; AQE still downgrades
        # to broadcast at small SF on its own.
        keys = parent.select(pkey)
        if small_parent:
            keys = F.broadcast(keys)
        n = child.join(keys, child[ckey] == F.col(pkey), "left_anti").agg(
            F.count(F.lit(1)).alias("n_orphans")
        )
        return n.select(F.lit(name).alias("relation"), "n_orphans")

    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    part = load(spark, sf_dir, "part")
    supplier = load(spark, sf_dir, "supplier")
    checks = [
        orphans("lineitem->orders", li, "l_orderkey", orders, "o_orderkey", False),
        orphans("orders->customer", orders, "o_custkey", customer, "c_custkey", False),
        orphans("customer->nation", customer, "c_nationkey", nation, "n_nationkey", True),
        orphans("nation->region", nation, "n_regionkey", region, "r_regionkey", True),
        orphans("lineitem->part", li, "l_partkey", part, "p_partkey", True),
        orphans("lineitem->supplier", li, "l_suppkey", supplier, "s_suppkey", True),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.orderBy("relation")


@query(
    "audit_table_checksums",
    oracle="""
        SELECT 'lineitem' AS table_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(((((l_orderkey * 31 + l_partkey) % 1000000007) * 31
                         + l_suppkey) % 1000000007) * 31 + l_linenumber)
                    % 1000000007 AS BIGINT) AS checksum
        FROM lineitem
        UNION ALL
        SELECT 'orders',
               CAST(count(*) AS BIGINT),
               CAST(sum(((o_orderkey * 31 + o_custkey) % 1000000007) * 31
                        + CAST(round(o_totalprice * 100) AS BIGINT))
                    % 1000000007 AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'events',
               CAST(count(*) AS BIGINT),
               CAST(sum(((event_id * 31 + user_id) % 1000000007) * 31
                        + epoch_us(ts) % 1000000007)
                    % 1000000007 AS BIGINT)
        FROM events
        UNION ALL
        SELECT 'customer',
               CAST(count(*) AS BIGINT),
               CAST(sum(((c_custkey * 31 + c_nationkey) % 1000000007) * 31
                        + CAST(round(c_acctbal * 100) AS BIGINT))
                    % 1000000007 AS BIGINT)
        FROM customer
    """,
    doc="Order-independent table checksums: each table reduces to "
    "(n_rows, sum of per-row polynomial digests over its key/value "
    "columns mod 1e9+7) — the migration-validation tool a user "
    "switching engines runs on both sides (this repo's whole oracle "
    "methodology, packaged as a query; doubles enter via exact cents/"
    "micros). Commutative addition makes the checksum partition-order "
    "independent, map-side combinable, and shard-mergeable: at 100 TB "
    "each executor digests its split and one number per table comes "
    "back; per-row digests stay < 2^35 so int64 sums hold to ~2^28 "
    "rows per task partial — beyond that widen the sum to "
    "DECIMAL(38,0), the formula is unchanged. Four scans, four 1-row "
    "aggregates, zero shuffle beyond the final union.",
    tags=("profiling", "maintenance", "agg"),
)
def audit_table_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    M = 1_000_000_007

    def digest(df: DataFrame, name: str, expr: Column) -> DataFrame:
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count("*").alias("n_rows"),
            (F.sum(expr) % M).alias("checksum"),
        )

    li = load(spark, sf_dir, "lineitem")
    od = load(spark, sf_dir, "orders")
    ev = load(spark, sf_dir, "events")
    cu = load(spark, sf_dir, "customer")
    parts = [
        digest(
            li,
            "lineitem",
            ((((F.col("l_orderkey") * 31 + F.col("l_partkey")) % M) * 31
              + F.col("l_suppkey")) % M) * 31 + F.col("l_linenumber"),
        ),
        digest(
            od,
            "orders",
            ((F.col("o_orderkey") * 31 + F.col("o_custkey")) % M) * 31
            + F.round(F.col("o_totalprice") * 100).cast("long"),
        ),
        digest(
            ev,
            "events",
            ((F.col("event_id") * 31 + F.col("user_id")) % M) * 31
            + F.unix_micros(F.col("ts")) % M,
        ),
        digest(
            cu,
            "customer",
            ((F.col("c_custkey") * 31 + F.col("c_nationkey")) % M) * 31
            + F.round(F.col("c_acctbal") * 100).cast("long"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@query(
    "stream_table_checksum",
    oracle="""
        SELECT 'events' AS table_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(((event_id * 31 + user_id) % 1000000007) * 31
                        + epoch_us(ts) % 1000000007)
                    % 1000000007 AS BIGINT) AS checksum
        FROM events
    """,
    doc="The events checksum from audit_table_checksums maintained BY "
    "A STREAM: because the digest is a commutative modular sum, it is "
    "a valid streaming aggregate — micro-batches contribute partial "
    "sums in any arrival order and the availableNow result equals the "
    "batch checksum exactly (the oracle IS the batch SQL). This is "
    "the continuous-integrity posture: a pipeline can carry a running "
    "checksum per table/day and reconcile against the source engine "
    "without re-scanning history. Streaming state is ONE row (count + "
    "running sum); the modular reduction keeps the sum bounded "
    "forever, which a raw int64 running sum would not be.",
    tags=("streaming", "profiling", "maintenance"),
)
def stream_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_hdfs_sql_integration_spark.streaming.windows import (
        events_stream,
        run_to_memory,
    )

    M = 1_000_000_007
    ev = events_stream(spark, sf_dir)
    digest = ((F.col("event_id") * 31 + F.col("user_id")) % M) * 31 + F.unix_micros(
        F.col("ts")
    ) % M
    agg = ev.agg(
        F.lit("events").alias("table_name"),
        F.count("*").alias("n_rows"),
        (F.sum(digest) % M).alias("checksum"),
    )
    return run_to_memory(agg)


@query(
    "stats_ks_two_sample",
    oracle="""
        WITH s AS (
            SELECT CAST(round(value * 100) AS BIGINT) AS cents,
                   CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_a
            FROM events WHERE event_type IN ('view', 'click')
        ),
        tot AS (
            SELECT CAST(sum(is_a) AS BIGINT) AS n1,
                   CAST(sum(1 - is_a) AS BIGINT) AS n2
            FROM s
        ),
        per_v AS (
            SELECT cents,
                   CAST(sum(is_a) AS BIGINT) AS c1,
                   CAST(sum(1 - is_a) AS BIGINT) AS c2
            FROM s GROUP BY cents
        ),
        cum AS (
            SELECT cents,
                   sum(c1) OVER (ORDER BY cents) AS f1,
                   sum(c2) OVER (ORDER BY cents) AS f2
            FROM per_v
        ),
        scored AS (
            SELECT cents, abs(f1 * t.n2 - f2 * t.n1) AS d, t.n1, t.n2
            FROM cum, tot t
        ),
        top AS (SELECT max(d) AS d_num FROM scored)
        SELECT s.n1, s.n2,
               CAST(m.d_num AS BIGINT) AS d_num,
               CAST(min(s.cents) AS BIGINT) AS d_at_cents
        FROM scored s, top m
        WHERE s.d = m.d_num
        GROUP BY s.n1, s.n2, m.d_num
    """,
    doc="Two-sample Kolmogorov-Smirnov distance between the value "
    "distributions of 'view' and 'click' events — the "
    "distribution-drift detector a data pipeline runs between "
    "snapshots/sources before a mixing step. The statistic is exact: "
    "D = max|F1 - F2| evaluated at every distinct value with the "
    "fractions CROSS-MULTIPLIED into BIGINTs (|cum1*n2 - cum2*n1|, "
    "denominator n1*n2 carried via n1, n2) — no float CDFs, no "
    "boundary flips; d_at_cents pins WHERE the sup is attained "
    "(min value on ties). Scale shape: one grouped count per distinct "
    "value (map-side combinable), then the cumulative counts via the "
    "TWO-PHASE global prefix sum (operators/global_rank.py: range-"
    "partitioned local windows + broadcast per-partition offsets) — "
    "no unpartitioned WindowExec anywhere, so the exact form itself "
    "survives an unbounded distinct-value relation; stats_ks_sketch "
    "remains the constant-state sibling (same cross-multiplied rule "
    f"over a fixed {1200}-bin histogram, one-bin error).",
    tags=("profiling", "stats", "anomaly"),
)
def stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_hdfs_sql_integration_spark.operators.global_rank import (
        global_prefix_sum,
    )

    ev = load(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("is_a"),
    )
    per_v = s.groupBy("cents").agg(
        F.sum("is_a").alias("c1"), F.sum(1 - F.col("is_a")).alias("c2")
    )
    # Two-phase global running sums (range-partitioned local windows +
    # broadcast partition offsets) — no unpartitioned WindowExec even
    # though the distinct-value relation is unbounded at web scale.
    cum = global_prefix_sum(
        per_v, [("cents", "asc")], {"f1": "c1", "f2": "c2"}
    ).select("cents", "f1", "f2")
    tot = s.agg(F.sum("is_a").alias("n1"), F.sum(1 - F.col("is_a")).alias("n2"))
    scored = cum.crossJoin(F.broadcast(tot)).select(
        "n1",
        "n2",
        "cents",
        F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1")).alias("d"),
    )
    # Sup and its location in ONE aggregate: max(d), then min cents
    # among rows attaining it via min_by on (d desc, cents asc) —
    # equivalently min_by(struct(-d, cents)).
    return scored.groupBy("n1", "n2").agg(
        F.max("d").alias("d_num"),
        F.min_by("cents", F.struct((-F.col("d")).alias("nd"), F.col("cents").alias("c"))).alias(
            "d_at_cents"
        ),
    )


#: Value bands for the chi-square contingency (event cents).
CHI2_BANDS = (2_000, 8_000)
#: 0.05 critical value for df = (5-1)*(3-1) = 8, in milli-units.
CHI2_CRIT_MILLI_DF8 = 15_507


@query(
    "stats_chi2_independence",
    oracle=f"""
        WITH cells AS (
            SELECT event_type AS et,
                   CASE WHEN CAST(round(value * 100) AS BIGINT) < {CHI2_BANDS[0]} THEN 'low'
                        WHEN CAST(round(value * 100) AS BIGINT) < {CHI2_BANDS[1]} THEN 'mid'
                        ELSE 'high' END AS band,
                   CAST(count(*) AS BIGINT) AS o
            FROM events GROUP BY 1, 2
        ),
        rows_t AS (SELECT et, sum(o) AS r FROM cells GROUP BY et),
        cols_t AS (SELECT band, sum(o) AS c FROM cells GROUP BY band),
        n_t AS (SELECT sum(o) AS n FROM cells),
        contrib AS (
            SELECT CAST(
                CAST(ce.o * n.n - rt.r * ct.c AS HUGEINT)
                * (ce.o * n.n - rt.r * ct.c)
                // (rt.r * ct.c) AS BIGINT) AS k
            FROM cells ce
            JOIN rows_t rt USING (et)
            JOIN cols_t ct USING (band)
            CROSS JOIN n_t n
        )
        SELECT CAST(8 AS BIGINT) AS df,
               CAST(1000 * sum(k) // n.n AS BIGINT) AS chi2_milli,
               (1000 * sum(k) // n.n >= {CHI2_CRIT_MILLI_DF8}) AS dependent
        FROM contrib, n_t n
        GROUP BY n.n
    """,
    doc="Chi-square test of independence between event_type and the "
    "value band (low/mid/high cents) — the categorical-association "
    "check a feature-audit runs before using a column pair in "
    "stratification or mixing. Exact integer end to end: per-cell "
    "contribution (o*N - r*c)^2 // (r*c) runs in 128-bit/decimal "
    "intermediates (BIGINT would overflow at (o*N)^2) and floors "
    "deterministically in both engines; chi2 emerges in milli-units "
    "with the df=8 verdict against the 0.05 critical value. The "
    "per-cell floor understates true chi-square by < cells/1000 "
    "milli-units — irrelevant to the test, essential to cross-engine "
    "bit equality. Scale: one grouped count builds the contingency "
    "(map-side combinable); everything after runs on the "
    "|types|x|bands| relation.",
    tags=("profiling", "stats", "agg"),
)
def stats_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    band = (
        F.when(cents < CHI2_BANDS[0], "low")
        .when(cents < CHI2_BANDS[1], "mid")
        .otherwise("high")
    )
    cells = ev.groupBy(F.col("event_type").alias("et"), band.alias("band")).agg(
        F.count("*").alias("o")
    )
    rows_t = cells.groupBy("et").agg(F.sum("o").alias("r"))
    cols_t = cells.groupBy("band").agg(F.sum("o").alias("c"))
    n_t = cells.agg(F.sum("o").alias("n"))
    contrib = (
        cells.join(rows_t, "et")
        .join(F.broadcast(cols_t), "band")
        .crossJoin(F.broadcast(n_t))
        .select(
            F.expr(
                "CAST(CAST(o * n - r * c AS DECIMAL(38,0)) "
                "* CAST(o * n - r * c AS DECIMAL(38,0)) div (r * c) AS BIGINT)"
            ).alias("k"),
            "n",
        )
    )
    return contrib.groupBy("n").agg(
        F.lit(8).cast("long").alias("df"),
        F.expr(f"CAST(1000 * sum(k) div n AS BIGINT)").alias("chi2_milli"),
        F.expr(f"1000 * sum(k) div n >= {CHI2_CRIT_MILLI_DF8}").alias("dependent"),
    ).drop("n")


@query(
    "stats_mann_whitney_u",
    oracle="""
        WITH s AS (
            SELECT CAST(round(value * 100) AS BIGINT) AS cents,
                   CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_a
            FROM events WHERE event_type IN ('view', 'click')
        ),
        per_v AS (
            SELECT cents,
                   CAST(sum(is_a) AS BIGINT) AS c1,
                   CAST(sum(1 - is_a) AS BIGINT) AS c2
            FROM s GROUP BY cents
        ),
        cum AS (
            SELECT cents, c1, c2,
                   coalesce(sum(c1) OVER (ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b1
            FROM per_v
        ),
        tot AS (
            SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
            FROM per_v
        )
        SELECT t.n1, t.n2,
               CAST(sum(c2 * (2 * b1 + c1)) AS BIGINT) AS u1_x2,
               CAST(2 * t.n1 * t.n2 - sum(c2 * (2 * b1 + c1)) AS BIGINT) AS u2_x2
        FROM cum, tot t
        GROUP BY t.n1, t.n2
    """,
    doc="Two-sample Mann-Whitney U between 'view' and 'click' value "
    "distributions — the rank-based location test that complements "
    "stats_ks_two_sample's shape test (KS sees any CDF gap, U asks "
    "specifically 'does one sample stochastically dominate'). Exact "
    "integers with ties handled by midranks: U1 = sum over distinct "
    "values of c2*(smaller-sample-1-count + ties/2), carried DOUBLED "
    "(u1_x2) so the half-tie term never touches floats; u1+u2 = "
    "n1*n2 is the built-in self-check. Same scale shape as KS: "
    "grouped counts per distinct value, below-count b1 via the "
    "TWO-PHASE global prefix sum (exclusive = inclusive - own count; "
    "operators/global_rank.py) — no unpartitioned window; "
    "stats_mwu_sketch remains the constant-state sibling (same "
    "doubled-midrank formula over the fixed histogram).",
    tags=("profiling", "stats", "anomaly"),
)
def stats_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_hdfs_sql_integration_spark.operators.global_rank import (
        global_prefix_sum,
    )

    ev = load(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("is_a"),
    )
    per_v = s.groupBy("cents").agg(
        F.sum("is_a").alias("c1"), F.sum(1 - F.col("is_a")).alias("c2")
    )
    # Exclusive running sum of c1 ("how many sample-1 values sit
    # strictly below this one") = two-phase inclusive prefix sum
    # minus the row's own count — no unpartitioned window.
    cum = global_prefix_sum(per_v, [("cents", "asc")], {"_i1": "c1"}).select(
        "c1",
        "c2",
        (F.col("_i1") - F.col("c1")).alias("b1"),
    )
    tot = per_v.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    scored = cum.crossJoin(F.broadcast(tot))
    return scored.groupBy("n1", "n2").agg(
        F.sum(F.col("c2") * (2 * F.col("b1") + F.col("c1"))).alias("u1_x2"),
        (
            2 * F.first("n1") * F.first("n2")
            - F.sum(F.col("c2") * (2 * F.col("b1") + F.col("c1")))
        ).alias("u2_x2"),
    )


#: Fixed-width bins for the sketch-path KS/MWU siblings: events cents
#: (round(value*100)) land in KS_NBINS bins of KS_BIN_C cents, top bin
#: clamped. Same machinery as anomaly_mad_sketch (linkage.MS_*): the
#: data passes are map-side-combinable grouped counts per bin, and the
#: only windows run over the <= KS_NBINS-row histogram — provably
#: bounded, never over the value domain.
KS_BIN_C = 50
KS_NBINS = 1200


@query(
    "stats_ks_sketch",
    oracle=f"""
        WITH s AS (
            SELECT LEAST(CAST(round(value * 100) AS BIGINT) // {KS_BIN_C},
                         {KS_NBINS - 1}) AS bin,
                   CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_a
            FROM events WHERE event_type IN ('view', 'click')
        ),
        per_b AS (
            SELECT bin,
                   CAST(sum(is_a) AS BIGINT) AS c1,
                   CAST(sum(1 - is_a) AS BIGINT) AS c2
            FROM s GROUP BY bin
        ),
        tot AS (
            SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
            FROM per_b
        ),
        cum AS (
            SELECT bin,
                   sum(c1) OVER (ORDER BY bin) AS f1,
                   sum(c2) OVER (ORDER BY bin) AS f2
            FROM per_b
        ),
        scored AS (
            SELECT bin, abs(f1 * t.n2 - f2 * t.n1) AS d, t.n1, t.n2
            FROM cum, tot t
        ),
        top AS (SELECT max(d) AS d_num FROM scored)
        SELECT s.n1, s.n2,
               CAST(m.d_num AS BIGINT) AS d_num,
               CAST(min(s.bin) * {KS_BIN_C} + {KS_BIN_C} - 1 AS BIGINT)
                   AS d_at_cents_ub
        FROM scored s, top m
        WHERE s.d = m.d_num
        GROUP BY s.n1, s.n2, m.d_num
    """,
    doc="SKETCH-PATH two-sample KS — the 100 TB sibling of "
    f"stats_ks_two_sample: values land in {KS_NBINS} fixed-width "
    f"{KS_BIN_C}-cent bins (map-side-combinable grouped counts), and "
    "D = max|F1-F2| is evaluated at bin BOUNDARIES with the same "
    "cross-multiplied BIGINT rule (|cum1*n2 - cum2*n1|). The CDF gap "
    "at a boundary is exact; the true sup can exceed the binned sup "
    "only by mass interior to one bin, so the error is bounded by "
    "one bin — the anomaly_mad_sketch contract applied to KS. The "
    "read-off is one HOF fold over the <= "
    f"{KS_NBINS}-bin histogram, never the value domain (no Window "
    "operator at all; the exact sibling's distinct-value relation is "
    "unbounded at web scale, this one is constant). d_at_cents_ub "
    "pins the upper edge of the first bin attaining the sup.",
    tags=("profiling", "stats", "anomaly", "sketch"),
)
def stats_ks_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.least(
            F.expr(f"CAST(round(value * 100) AS BIGINT) div {KS_BIN_C}"),
            F.lit(KS_NBINS - 1),
        ).alias("bin"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("is_a"),
    )
    per_b = s.groupBy("bin").agg(
        F.sum("is_a").alias("c1"), F.sum(1 - F.col("is_a")).alias("c2")
    )
    # The sketch read-off is ONE HOF fold over the collected
    # <= KS_NBINS-bin histogram (an aggregate merging constant-size
    # sketch state) — no Window operator, no single-partition sort.
    # The strict '>' keeps the FIRST (smallest) bin attaining the sup,
    # matching the oracle's min-on-ties rule.
    arr = per_b.agg(
        F.sort_array(
            F.collect_list(F.struct("bin", "c1", "c2"))
        ).alias("h")
    )
    tot = arr.select(
        "h",
        F.expr(
            "aggregate(h, cast(0 as bigint), (a, x) -> a + x.c1)"
        ).alias("n1"),
        F.expr(
            "aggregate(h, cast(0 as bigint), (a, x) -> a + x.c2)"
        ).alias("n2"),
    )
    fold = tot.select(
        "n1",
        "n2",
        F.expr(
            """
            aggregate(
                h,
                named_struct(
                    'f1', cast(0 as bigint), 'f2', cast(0 as bigint),
                    'best_d', cast(-1 as bigint),
                    'best_bin', cast(0 as bigint)),
                (acc, x) -> named_struct(
                    'f1', acc.f1 + x.c1,
                    'f2', acc.f2 + x.c2,
                    'best_d', CASE
                        WHEN abs((acc.f1 + x.c1) * n2 - (acc.f2 + x.c2) * n1)
                             > acc.best_d
                        THEN abs((acc.f1 + x.c1) * n2 - (acc.f2 + x.c2) * n1)
                        ELSE acc.best_d END,
                    'best_bin', CASE
                        WHEN abs((acc.f1 + x.c1) * n2 - (acc.f2 + x.c2) * n1)
                             > acc.best_d
                        THEN x.bin ELSE acc.best_bin END))
            """
        ).alias("st"),
    )
    # Empty-relation edge: the ungrouped fold emits ONE (0, 0, -1) row
    # where the exact windowed sibling emits ZERO rows — filter it so
    # both paths agree (and no caller ever reads the d_num=-1 sentinel).
    return fold.filter(F.col("n1") + F.col("n2") > 0).select(
        "n1",
        "n2",
        F.col("st.best_d").alias("d_num"),
        (F.col("st.best_bin") * KS_BIN_C + (KS_BIN_C - 1))
        .cast("long")
        .alias("d_at_cents_ub"),
    )


@query(
    "stats_mwu_sketch",
    oracle=f"""
        WITH s AS (
            SELECT LEAST(CAST(round(value * 100) AS BIGINT) // {KS_BIN_C},
                         {KS_NBINS - 1}) AS bin,
                   CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_a
            FROM events WHERE event_type IN ('view', 'click')
        ),
        per_b AS (
            SELECT bin,
                   CAST(sum(is_a) AS BIGINT) AS c1,
                   CAST(sum(1 - is_a) AS BIGINT) AS c2
            FROM s GROUP BY bin
        ),
        cum AS (
            SELECT bin, c1, c2,
                   coalesce(sum(c1) OVER (ORDER BY bin
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b1
            FROM per_b
        ),
        tot AS (
            SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
            FROM per_b
        )
        SELECT t.n1, t.n2,
               CAST(sum(c2 * (2 * b1 + c1)) AS BIGINT) AS u1_x2,
               CAST(2 * t.n1 * t.n2 - sum(c2 * (2 * b1 + c1)) AS BIGINT) AS u2_x2
        FROM cum, tot t
        GROUP BY t.n1, t.n2
    """,
    doc="SKETCH-PATH Mann-Whitney U — the 100 TB sibling of "
    "stats_mann_whitney_u: identical doubled-midrank formula, but "
    f"ranks are computed over the {KS_NBINS}-bin histogram (all "
    "values in a bin treated as tied at the bin, i.e. the midrank "
    "treatment applied at bin granularity). U shifts from the exact "
    "statistic by at most the within-bin discordant mass — bounded "
    "by one bin per distinct-value collision, the standard binned-"
    "rank contract. Data passes are map-side-combinable grouped "
    "counts; the read-off is one HOF fold over the <= "
    f"{KS_NBINS}-bin histogram (no Window operator at all). "
    "u1_x2 + u2_x2 = 2*n1*n2 remains the built-in self-check.",
    tags=("profiling", "stats", "anomaly", "sketch"),
)
def stats_mwu_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.least(
            F.expr(f"CAST(round(value * 100) AS BIGINT) div {KS_BIN_C}"),
            F.lit(KS_NBINS - 1),
        ).alias("bin"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("is_a"),
    )
    per_b = s.groupBy("bin").agg(
        F.sum("is_a").alias("c1"), F.sum(1 - F.col("is_a")).alias("c2")
    )
    # ONE HOF fold over the collected <= KS_NBINS-bin histogram: the
    # accumulator carries (below-count b1, running doubled-U) — no
    # Window operator, no single-partition sort (sketches.py pattern).
    arr = per_b.agg(
        F.sort_array(
            F.collect_list(F.struct("bin", "c1", "c2"))
        ).alias("h")
    )
    tot = arr.select(
        "h",
        F.expr(
            "aggregate(h, cast(0 as bigint), (a, x) -> a + x.c1)"
        ).alias("n1"),
        F.expr(
            "aggregate(h, cast(0 as bigint), (a, x) -> a + x.c2)"
        ).alias("n2"),
    )
    fold = tot.select(
        "n1",
        "n2",
        F.expr(
            """
            aggregate(
                h,
                named_struct('b1', cast(0 as bigint),
                             'u', cast(0 as bigint)),
                (acc, x) -> named_struct(
                    'b1', acc.b1 + x.c1,
                    'u', acc.u + x.c2 * (2 * acc.b1 + x.c1)))
            """
        ).alias("st"),
    )
    # Same empty-relation edge as stats_ks_sketch: zero rows, not one
    # all-zero row, when the filtered source is empty.
    return fold.filter(F.col("n1") + F.col("n2") > 0).select(
        "n1",
        "n2",
        F.col("st.u").alias("u1_x2"),
        (2 * F.col("n1") * F.col("n2") - F.col("st.u")).alias("u2_x2"),
    )


#: Benford expected first-digit frequencies, ppm: log10(1 + 1/d).
BENFORD_PPM = (301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757)


@query(
    "audit_benford_first_digit",
    oracle=f"""
        WITH d AS (
            SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                    AS VARCHAR), 1, 1) AS BIGINT) AS digit
            FROM orders WHERE o_totalprice > 0
        ),
        counts AS (
            SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit
        ),
        tot AS (SELECT sum(n) AS total FROM counts),
        exp_t AS (
            {" UNION ALL ".join(f"SELECT {i + 1} AS digit, {p} AS expected_ppm" for i, p in enumerate(BENFORD_PPM))}
        )
        SELECT e.digit,
               coalesce(c.n, 0) AS n,
               CAST(1000000 * coalesce(c.n, 0) // t.total AS BIGINT) AS observed_ppm,
               CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
               CAST(abs(1000000 * coalesce(c.n, 0) // t.total - e.expected_ppm)
                    AS BIGINT) AS dev_ppm
        FROM exp_t e LEFT JOIN counts c USING (digit), tot t
    """,
    doc="Benford first-digit audit of order totals: observed leading-"
    "digit frequencies (of the exact cents integer) against Benford's "
    "log10(1+1/d) expectation, deviations in integer ppm — the "
    "classic fabricated-data / truncation / unit-mix detector an "
    "ingest audit runs on monetary columns (synthetic uniform data "
    "deviates wildly, which is itself the point: the audit flags "
    "non-Benford sources either way). One map-side digit extraction "
    "+ a 9-row aggregate; the expected table is a literal. All "
    "arithmetic is integer division — engine-exact.",
    tags=("profiling", "stats", "maintenance"),
)
def audit_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
    ).cast("long")
    counts = (
        orders.filter(F.col("o_totalprice") > 0)
        .groupBy(digit.alias("digit"))
        .agg(F.count("*").alias("n"))
    )
    tot = counts.agg(F.sum("n").alias("total"))
    exp_rows = [(i + 1, p) for i, p in enumerate(BENFORD_PPM)]
    exp_t = spark.createDataFrame(exp_rows, "digit bigint, expected_ppm bigint")
    obs_ppm = F.expr("CAST(1000000 * coalesce(n, 0) div total AS BIGINT)")
    return (
        exp_t.join(counts, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).alias("n"),
            obs_ppm.alias("observed_ppm"),
            "expected_ppm",
            F.abs(obs_ppm - F.col("expected_ppm")).alias("dev_ppm"),
        )
    )


@query(
    "observe_scan_metrics",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_input,
               CAST(count(*) FILTER (o_totalprice >= 100000) AS BIGINT) AS n_kept,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    FILTER (o_totalprice >= 100000) AS BIGINT) AS kept_cents,
               CAST(count(*) FILTER (o_totalprice < 100000) AS BIGINT) AS n_filtered
        FROM orders
    """,
    doc="Job-piggybacked metrics via Observation/df.observe(): the "
    "scan-side audit counters (input rows, kept rows, kept value, "
    "filtered rows) are collected BY THE SAME JOB that runs the "
    "filter — no second pass over the data, which at 100 TB is the "
    "difference between free monitoring and doubling the pipeline "
    "cost. observe() attaches aggregate expressions to a plan node; "
    "the executor-side partial values merge exactly like any "
    "aggregate (exact integer cents, order-independent), and the "
    "driver reads them after the action. The query returns the "
    "observed metrics as a row, value-checked against the oracle "
    "recomputing them relationally — proving the monitoring channel "
    "reports the same truth the query engine computes.",
    tags=("profiling", "maintenance", "api"),
)
def observe_scan_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    orders = load(spark, sf_dir, "orders")
    obs_in = Observation("input")
    obs_kept = Observation("kept")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    observed = (
        orders.observe(obs_in, F.count(F.lit(1)).alias("n_input"))
        .filter(F.col("o_totalprice") >= 100000)
        .observe(
            obs_kept,
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(cents).alias("kept_cents"),
        )
    )
    # One action drives the whole plan; the metrics ride along.
    observed.write.format("noop").mode("overwrite").save()
    n_input = obs_in.get["n_input"]
    n_kept = obs_kept.get["n_kept"]
    kept_cents = obs_kept.get["kept_cents"]
    return spark.createDataFrame(
        [(n_input, n_kept, kept_cents, n_input - n_kept)],
        "n_input bigint, n_kept bigint, kept_cents bigint, n_filtered bigint",
    )

"""Additional aggregation shapes: histogram binning, FILTER-clause
conditional aggregates, array-column statistics, salted two-phase
aggregation, and a partition-pruned layout read.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import (
    deterministic_tmp_dir,
    load,
    load_parallel,
    publish_store,
    read_parquet,
    table_path,
)
from data_pipeline_with_hdfs_sql_integration_spark.functions import textfns as tf
from data_pipeline_with_hdfs_sql_integration_spark.operators.skew import salted_group_count
from data_pipeline_with_hdfs_sql_integration_spark.registry import query
from data_pipeline_with_hdfs_sql_integration_spark.session import child_session


@query(
    "agg_histogram_bins",
    oracle="""
        SELECT CASE WHEN o_totalprice < 0.0 THEN 0
                    WHEN o_totalprice >= 600000.0 THEN 13
                    ELSE CAST(floor(o_totalprice / 50000.0) AS INT) + 1 END AS bin,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS bin_total
        FROM orders
        GROUP BY 1
    """,
    doc="Histogram binning (width_bucket semantics written as explicit "
    "arithmetic so both engines share one formula): 12 equal-width "
    "price bins plus under/overflow, then a plain hash aggregate. Bin "
    "assignment is map-side arithmetic; the shuffle carries <=14 rows "
    "per task (12 bins + under/overflow).",
    tags=("agg", "histogram"),
)
def agg_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    bin_expr = (
        F.when(x < 0.0, 0)
        .when(x >= 600000.0, 13)
        .otherwise(F.floor(x / 50000.0).cast("int") + 1)
    )
    return (
        o.groupBy(bin_expr.alias("bin"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("bin_total"),
        )
    )


@query(
    "agg_filtered_counts",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_total,
               CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_finished,
               CAST(count(*) FILTER (o_totalprice > 200000.0) AS BIGINT) AS n_large,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                    FILTER (o_orderstatus = 'O') AS DOUBLE) AS open_total
        FROM orders
        GROUP BY o_orderpriority
    """,
    doc="Conditional aggregates (SQL FILTER clause): four differently-"
    "filtered aggregates in ONE pass over one scan — the idiom that "
    "replaces N self-joins or N scans in reporting queries. Spark "
    "expresses FILTER as when(cond, x) inside the aggregate; same "
    "partial-aggregation shape as any group-by.",
    tags=("agg", "filter"),
)
def agg_filtered_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_total"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
        F.count(F.when(F.col("o_totalprice") > 200000.0, 1)).alias("n_large"),
        F.sum(
            F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice").cast("decimal(18,2)"))
        )
        .cast("double")
        .alias("open_total"),
    )


@query(
    "emb_norm_stats",
    oracle=f"""
        WITH e AS (
            SELECT label,
                   round(sqrt({tf.sql_dot("list_transform(embedding, x -> CAST(x AS DOUBLE))",
                                          "list_transform(embedding, x -> CAST(x AS DOUBLE))")}), 6) AS nrm
            FROM embeddings
        )
        SELECT label,
               CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(min(nrm) AS DOUBLE) AS min_norm,
               CAST(max(nrm) AS DOUBLE) AS max_norm,
               CAST(CAST(sum(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS DOUBLE) AS avg_norm
        FROM e
        GROUP BY label
    """,
    doc="Array-column statistics: per-label L2-norm profile of the "
    "embedding corpus. The norm is a sequential HOF fold per row "
    "(deterministic FP), rounded then decimal-summed so the cross-row "
    "average is order-independent. The norm profile is the standard "
    "sanity gate before cosine math (zero/NaN vectors poison ANN "
    "indexes).",
    tags=("array", "embeddings"),
)
def emb_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").select(
        "label",
        F.round(tf.norm(F.transform("embedding", lambda x: x.cast("double"))), 6).alias("nrm"),
    )
    return e.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.min("nrm").alias("min_norm"),
        F.max("nrm").alias("max_norm"),
        (F.sum(F.col("nrm").cast("decimal(18,6)")).cast("double") / F.count("*")).alias(
            "avg_norm"
        ),
    )


@query(
    "agg_salted_counts",
    oracle="""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n
        FROM events
        GROUP BY event_type
    """,
    doc="Two-phase salted aggregation (operators/skew.py): counts per "
    "event_type computed as salted partials then an unsalted final sum. "
    "The oracle is the plain group-by — passing proves the salting "
    "rewrite is result-identical, which is the precondition for using "
    "it on genuinely hot keys (a key with P% of all rows combines on "
    "n_salts tasks instead of one).",
    tags=("agg", "skew"),
)
def agg_salted_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("event_type")
    return salted_group_count(ev, "event_type", n_salts=16)


def _day_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events partitioned by event day: the fact of both pruning
    queries, published once per source version. Keyed on the SOURCE
    file's content version (mtime+size): a regenerated fixture can
    never serve a stale partitioned copy."""
    path = deterministic_tmp_dir("layout_day", table_path(sf_dir, "events"))
    publish_store(
        path,
        lambda staged: load(spark, sf_dir, "events")
        .withColumn("event_day", F.to_date("ts"))
        .write.partitionBy("event_day")
        .parquet(staged),
    )
    return read_parquet(spark, path)


@query(
    "layout_partition_pruning",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
          AND ts <  TIMESTAMP '2024-01-11 00:00:00'
        GROUP BY event_type
    """,
    doc="Hive-partitioned layout + partition pruning: events are "
    "written once partitioned by event day (the 100 TB ingest layout), "
    "then a one-day query reads ONLY that day's directory — the scan's "
    "PartitionFilters prune 29/30 of the data before any IO (asserted "
    "in tests/test_plan_shape.py). Values re-checked against the "
    "unpartitioned oracle.",
    tags=("layout", "pruning"),
)
def layout_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    day = _day_layout(spark, sf_dir).filter(
        F.col("event_day") == F.lit("2024-01-10").cast("date")
    )
    return day.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


@query(
    "layout_bucketed_join",
    oracle="""
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    doc="Bucketed co-located join surfaced as a query (the API lives in "
    "operators/bucketing.py): both join sides are written ONCE bucketed "
    "by the join key (bucketBy + sortBy, external-path tables under the "
    "deterministic fixture dir), so the fact-dim join runs with ZERO "
    "exchange and zero sort on either side — bucket i joins bucket i "
    "where it already sits. At 100 TB this converts the biggest join "
    "cost (shuffling the fact) into a one-time write-layout decision; "
    "every later join/groupBy on the bucket key rides free. The merge "
    "hint pins SortMergeJoin WITHOUT touching session confs (at test "
    "scale Catalyst would otherwise broadcast the small dim and hide "
    "the bucket path; disabling autoBroadcastJoinThreshold would leak "
    "into other queries sharing the driver's session). Plan asserted: "
    "SelectedBucketsCount on both scans, the only Exchange is the "
    "final 5-row aggregate's.",
    tags=("layout", "bucketing", "join"),
)
def layout_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_hdfs_sql_integration_spark.operators.bucketing import (
        bucketed_join,
    )

    for tbl, key in (("orders", "o_custkey"), ("customer", "c_custkey")):
        path = deterministic_tmp_dir(f"bucketed_{tbl}", table_path(sf_dir, tbl))
        # Table identifier carries the same content-version digest as
        # the path: a regenerated source fixture gets a fresh name, and
        # two sf_dirs can coexist in one session's catalog.
        name = f"b_{tbl}_{os.path.basename(path).rsplit('_', 1)[-1]}"
        if not spark.catalog.tableExists(name):
            (
                load(spark, sf_dir, tbl)
                .write.mode("overwrite")
                .format("parquet")
                .option("path", path)
                .bucketBy(8, key)
                .sortBy(key)
                .saveAsTable(name)
            )
        if tbl == "orders":
            lt = name
        else:
            rt = name
    j = bucketed_join(spark, lt, rt, None, left_key="o_custkey", right_key="c_custkey")
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
    )


@query(
    "layout_dynamic_partition_pruning",
    oracle="""
        WITH days AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1
        ),
        tot AS (SELECT sum(n) AS s, count(*) AS k FROM days),
        hot AS (SELECT d FROM days, tot WHERE n * k > s)
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events e JOIN hot ON CAST(date_trunc('day', e.ts) AS DATE) = hot.d
        GROUP BY event_type
    """,
    doc="DYNAMIC partition pruning — the star-join counterpart of "
    "layout_partition_pruning's static prune: the fact is the same "
    "day-partitioned events layout, the dim is a materialized day "
    "dimension carrying a precomputed tier column ('hot' = day with "
    "above-mean traffic, decided by exact integer cross-multiplication "
    "at build time). The query filters the DIM on tier='hot' (a literal "
    "predicate on a non-join column — nothing Catalyst can statically "
    "transfer to the fact side), and Spark injects a "
    "dynamicpruningexpression subquery into the fact scan's "
    "PartitionFilters: only the hot days' directories are read, driven "
    "by the broadcast dim at runtime (asserted in "
    "tests/test_plan_shape.py). At 100 TB this is THE pattern for "
    "date-dim star joins — the alternative reads every partition of "
    "the fact before the join filter lands.",
    tags=("layout", "pruning", "join"),
)
def layout_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build_dim(staged: str) -> None:
        days = (
            load(spark, sf_dir, "events")
            .groupBy(F.to_date("ts").alias("d"))
            .agg(F.count("*").alias("n"))
        )
        tot = days.agg(F.sum("n").alias("s"), F.count("*").alias("k"))
        dim = days.crossJoin(F.broadcast(tot)).select(
            "d",
            F.col("n").alias("n_day_events"),
            F.when(F.col("n") * F.col("k") > F.col("s"), F.lit("hot"))
            .otherwise(F.lit("cold"))
            .alias("tier"),
        )
        dim.coalesce(1).write.parquet(staged)

    dim_path = deterministic_tmp_dir("day_dim_tier", table_path(sf_dir, "events"))
    publish_store(dim_path, build_dim)
    fact = _day_layout(spark, sf_dir)
    hot = read_parquet(spark, dim_path).filter(F.col("tier") == "hot").select("d")
    return (
        fact.join(hot, fact.event_day == hot.d)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )


@query(
    "agg_collect_sorted_lists",
    oracle="""
        SELECT c_nationkey,
               array_to_string(list_sort(list_distinct(array_agg(c_mktsegment))), '|')
                   AS segments,
               CAST(count(*) AS BIGINT) AS n_customers
        FROM customer
        GROUP BY c_nationkey
    """,
    doc="Nested (array) results: distinct market segments per nation as "
    "a SORTED list — collect_set alone is partition-order-dependent, "
    "so array_sort pins a canonical order (the only way list-valued "
    "results can be deterministic under distributed execution). "
    "The sorted list is serialized with array_join to a '|'-delimited "
    "scalar string so the driver's row-hash canonicalizer (which cannot "
    "hash array-typed cells) compares it as a plain value.",
    tags=("agg", "nested"),
)
def agg_collect_sorted_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.array_sort(F.collect_set("c_mktsegment")), "|").alias("segments"),
        F.count("*").alias("n_customers"),
    )


@query(
    "layout_zorder_pruning",
    oracle="""
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM lineitem
        WHERE l_partkey BETWEEN 10 AND 59
          AND l_suppkey BETWEEN 1 AND 5
        GROUP BY l_returnflag
    """,
    doc="Z-ordered layout + 2-D range pruning (operators/zorder.py): "
    "lineitem is written ONCE range-partitioned and sorted by the "
    "Morton interleave of (l_partkey, l_suppkey), so every parquet "
    "row group covers a contiguous Z range — a small 2-D box "
    "predicate overlaps only the few row groups whose min/max "
    "rectangles touch the box, instead of ALL of them as in the "
    "natural (shipdate-ish) order where each row group spans nearly "
    "the full partkey AND suppkey range. tests/test_plan_shape.py "
    "counts overlapping row groups from the parquet footers of both "
    "layouts and asserts the Z layout prunes strictly harder. "
    "Correctness never depends on the layout: the scan re-applies the "
    "pushed predicate, so even a dimension overflowing the 16-bit "
    "Morton mask (l_partkey >= 65536 at sf>~0.3) only costs locality, "
    "never rows — at that scale raise zorder.BITS or pre-scale the "
    "dimension. Values oracled against the unordered source table.",
    tags=("layout", "zorder", "pruning"),
)
def layout_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_hdfs_sql_integration_spark.operators.zorder import (
        scale_to_grid,
        zorder2,
    )

    # Keyed on the SOURCE file's content version (mtime+size) AND the
    # layout parameters (partition count): a regenerated fixture or a
    # re-tuned layout can never serve a stale z-ordered copy. 64 z-range
    # partitions ≈ a 3-level quadtree split, tight enough that each row
    # group's (partkey, suppkey) min/max rectangle is small.
    n_zparts = 64
    path = deterministic_tmp_dir(
        f"layout_zorder_p{n_zparts}_g256", table_path(sf_dir, "lineitem")
    )

    def build(staged: str) -> None:
        li = load(spark, sf_dir, "lineitem").select(
            "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_returnflag"
        )
        # One cheap bounds aggregate (4 scalars to the driver), then
        # both dimensions are normalized onto the full interleave grid
        # so Z cells are compact squares, not thin slivers.
        b = li.agg(
            F.min("l_partkey"), F.max("l_partkey"),
            F.min("l_suppkey"), F.max("l_suppkey"),
        ).first()
        z = zorder2(
            scale_to_grid(F.col("l_partkey"), b[0], b[1]),
            scale_to_grid(F.col("l_suppkey"), b[2], b[3]),
        )
        (
            li.withColumn("_z", z)
            .repartitionByRange(n_zparts, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
            .write.parquet(staged)
        )

    publish_store(path, build)
    box = read_parquet(spark, path).filter(
        F.col("l_partkey").between(10, 59) & F.col("l_suppkey").between(1, 5)
    )
    return box.groupBy("l_returnflag").agg(
        F.count("*").alias("n_items"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


@query(
    "layout_compaction",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY event_type
    """,
    doc="Small-file compaction (the OPTIMIZE maintenance primitive): a "
    "deliberately over-fragmented copy of events (64 tiny files — the "
    "classic streaming-ingest pathology; at 100 TB small files "
    "multiply NameNode/listing load and per-task overhead) is "
    "compacted by a size-targeted coalesce into a handful of "
    "right-sized files, and the query aggregates the COMPACTED copy "
    "against the raw-table oracle — proving compaction is "
    "content-lossless. The target file count derives from the "
    "driver-side listing's total bytes / 128MB (floored at 1), the "
    "same arithmetic a table service runs; coalesce (not repartition) "
    "merges without a shuffle. tests assert the file count actually "
    "shrank.",
    tags=("layout", "maintenance", "compaction"),
)
def layout_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    frag = deterministic_tmp_dir("layout_frag64", table_path(sf_dir, "events"))
    publish_store(
        frag,
        lambda staged: load(spark, sf_dir, "events").repartition(64).write.parquet(staged),
    )

    def build_compacted(staged: str) -> None:
        total_bytes = sum(
            os.path.getsize(f) for f in glob.glob(os.path.join(frag, "*.parquet"))
        )
        target = max(1, total_bytes // (128 * 1024 * 1024))
        read_parquet(spark, frag).coalesce(target).write.parquet(staged)

    compacted = deterministic_tmp_dir("layout_compacted", table_path(sf_dir, "events"))
    publish_store(compacted, build_compacted)
    return (
        read_parquet(spark, compacted)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )


@query(
    "agg_gini_concentration",
    oracle="""
        WITH per_c AS (
            SELECT o_custkey,
                   sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT cents,
                   row_number() OVER (ORDER BY cents ASC, o_custkey ASC) AS i
            FROM per_c
        ),
        agg AS (
            SELECT count(*) AS n, sum(cents) AS total,
                   sum(i * cents) AS weighted
            FROM ranked
        )
        SELECT CAST(n AS BIGINT) AS n_customers,
               CAST(total AS BIGINT) AS total_cents,
               CAST((2000000 * weighted) // (n * total)
                    - (1000000 * (n + 1)) // n AS BIGINT) AS gini_ppm
        FROM agg
    """,
    doc="Revenue concentration as an exact Gini coefficient over "
    "per-customer order totals: G = 2*sum(i*x_(i))/(n*sum(x)) - "
    "(n+1)/n on the ascending-sorted totals, evaluated entirely in "
    "BIGINTs scaled to ppm (one integer division per term, no float "
    "accumulation) — the whale-dependence metric behind account "
    "planning and the skew early-warning for key-salting decisions "
    "(a high Gini on a join key IS the skew the AQE/salting tooling "
    "exists for). Scale shape: the fact collapses to the per-"
    "customer relation first (map-side combinable), and the global "
    "rank over THAT is TWO-PHASE (the skyline treatment): "
    "repartitionByRange on (cents, custkey) so partition order IS "
    "sort order, per-partition row_number windows keyed on "
    "spark_partition_id, and the global rank = local rank + a "
    "per-partition offset cum-summed on the driver from the "
    "constant-size (one row per partition) count vector — no "
    "single-partition WindowExec anywhere, ~1e9 customers never "
    "funnel through one task. The offset pull is a bounded driver "
    "materialization, same legitimacy class as the k-means centroid "
    "pulls (similarity.py).",
    tags=("agg", "stats", "skew"),
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load(spark, sf_dir, "orders")
    per_c = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    # Two-phase global rank (operators/global_rank.py): range
    # partitioning makes partition-id order == sort order, local
    # row_number windows per partition, and the global rank is the
    # local rank + driver-cum-summed per-partition offsets — no
    # unpartitioned WindowExec anywhere.
    from data_pipeline_with_hdfs_sql_integration_spark.operators.global_rank import (
        global_row_number,
    )

    ranked = global_row_number(
        per_c, [("cents", "asc"), ("o_custkey", "asc")], alias="i"
    ).select("cents", "i")
    agg = ranked.agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("total"),
        # Widen BEFORE the sum: rank i reaches n_customers, so a BIGINT
        # running sum of i*cents overflows around ~1e9 customer rows
        # even though each term fits. DECIMAL(38,0) terms keep the whole
        # accumulation exact (DuckDB's sum() is already HUGEINT).
        F.sum(F.expr("CAST(i AS DECIMAL(38,0)) * cents")).alias("weighted"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("total").cast("long").alias("total_cents"),
        # n*total also tops int64 at scale — widen the divisor too.
        F.expr(
            "CAST((2000000 * weighted) div (CAST(n AS DECIMAL(38,0)) * total) "
            "- (1000000 * (n + 1)) div n AS BIGINT)"
        ).alias("gini_ppm"),
    )


@query(
    "agg_skyline_2d",
    oracle="""
        WITH pts AS (
            SELECT p_partkey,
                   CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
                   CAST(p_size AS BIGINT) AS size
            FROM part
        ),
        ranked AS (
            SELECT p_partkey, price_cents, size,
                   max(size) OVER (ORDER BY price_cents ASC, p_partkey ASC
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS best_size_cheaper
            FROM pts
        )
        SELECT p_partkey, price_cents, size
        FROM ranked
        WHERE best_size_cheaper IS NULL OR size > best_size_cheaper
    """,
    doc="Skyline / Pareto front (minimize price, maximize size) over "
    "part: a part survives iff nothing cheaper-or-equal offers more "
    "size — the dominance filter behind product-recommendation and "
    "multi-objective candidate pruning, and an operator family of "
    "its own (neither join nor aggregate expresses it directly). The "
    "2-D case collapses to ONE window: sort by price, keep rows "
    "beating the running size-max of all strictly-preceding "
    "(cheaper-or-tied, id-earlier) rows — O(n log n) where the "
    "textbook NOT-EXISTS formulation is a quadratic nested loop; "
    "ties resolve by the (price, partkey) total order so both "
    "engines pick identical survivors. Implemented as the REAL "
    "distributed two-phase: a local skyline keyed on "
    "spark_partition_id() kills dominated points map-side (locally "
    "dominated => globally dominated, so no answer is lost), and the "
    "global dominance check over the survivor union runs as a "
    "two-phase exclusive prefix max (operators/global_rank.py) — "
    "no single-partition window anywhere, even the survivor "
    "relation stays range-partitioned at 100 TB. The partition-id "
    "intermediate never affects the result (partition-invariance "
    "suite covers the family).",
    tags=("agg", "window", "analytics"),
)
def agg_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    part = load_parallel(spark, sf_dir, "part")
    pts = part.select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
        F.col("p_size").cast("long").alias("size"),
    )

    def skyline_pass(df: DataFrame, *partition_cols) -> DataFrame:
        w = Window.partitionBy(*partition_cols).orderBy(
            F.col("price_cents").asc(), F.col("p_partkey").asc()
        ).rowsBetween(Window.unboundedPreceding, -1)
        best = F.max("size").over(w)
        return (
            df.select("p_partkey", "price_cents", "size", best.alias("b"))
            .filter(F.col("b").isNull() | (F.col("size") > F.col("b")))
            .select("p_partkey", "price_cents", "size")
        )

    # Phase 1: LOCAL skylines keyed on the physical partition id —
    # dominated points die map-side before anything moves (a point
    # dominated within its partition is dominated globally, so this
    # only ever removes non-answers). Phase 2: the global dominance
    # check is an exclusive running MAX over the survivor union —
    # computed with the two-phase global_prefix_max scan
    # (range-partitioned local windows + greatest over broadcast
    # per-partition maxima), so even the survivor relation never
    # funnels through one task.
    from data_pipeline_with_hdfs_sql_integration_spark.operators.global_rank import (
        global_prefix_max,
    )

    local = skyline_pass(
        pts.withColumn("pid", F.spark_partition_id()), "pid"
    )
    scanned = global_prefix_max(
        local,
        [("price_cents", "asc"), ("p_partkey", "asc")],
        "size",
        "b",
        exclusive=True,
    )
    return (
        scanned.filter(F.col("b").isNull() | (F.col("size") > F.col("b")))
        .select("p_partkey", "price_cents", "size")
    )


@query(
    "layout_bloom_join_pruning",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_totalprice > 400000.0
        GROUP BY o_orderpriority
    """,
    doc="Runtime Bloom-filter join pruning, PROVEN to engage: a "
    "selective filter on orders (o_totalprice > 400000) joins a much "
    "larger lineitem, and Spark's InjectRuntimeFilter rule builds a "
    "bloom_filter_agg over the filtered build-side keys and injects "
    "might_contain(l_orderkey) into the probe-side scan — the fact "
    "table is pre-filtered BEFORE the shuffle, which at 100 TB is the "
    "difference between shuffling the whole fact and shuffling the "
    "~few-percent that can match. The rule is deliberately "
    "scale-activated (10 GB probe-scan threshold) and declines when "
    "the build side is broadcastable, so at test SFs the query pins "
    "the decision explicitly: applicationSideScanSizeThreshold=1 and "
    "broadcast disabled FOR THIS BUILD ONLY (on a child session, "
    "session.child_session, so the shared session never sees them), "
    "then asserts might_contain + bloom_filter_agg in the optimized "
    "plan and executes the join under those confs via an eager "
    "localCheckpoint. On a real cluster the same plan appears "
    "with default confs once the probe scan crosses the threshold. "
    "Bloom pruning is a pure optimization — values oracled against the "
    "plain join. Complements sketch_bloom_membership (the hand-rolled, "
    "cross-engine-checkable analog of this native rule).",
    tags=("layout", "pruning", "join", "bloom"),
)
def layout_bloom_join_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    tuned = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1",
        # The rule also declines when the BUILD side's size estimate
        # crosses creationSideThreshold (10 MB default — building the
        # filter costs a pass over the build side). Without column
        # stats the filtered orders relation keeps the full scan's
        # sizeInBytes, which crosses 10 MB by sf1, so pin the
        # threshold high enough for any test SF; on a real cluster
        # this is the same knob operators raise when the build side
        # is worth a bloom pass at 100 TB.
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "8GB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    tuned_spark = child_session(spark, tuned)
    o = load(tuned_spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    li = load(tuned_spark, sf_dir, "lineitem")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
    )
    opt = j._jdf.queryExecution().optimizedPlan().toString()
    assert "might_contain" in opt and "bloom_filter_agg" in opt, (
        "runtime bloom filter did not inject:\n" + opt
    )
    # Execute NOW, under the tuned confs, so the collected result really
    # ran the bloom-pruned plan; the returned frame is a scan of the
    # materialized (tiny) grouped output.
    return j.localCheckpoint(eager=True)

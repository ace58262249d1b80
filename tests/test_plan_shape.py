"""Physical-plan assertions: the 100 TB posture is only real if the
plans are right — filters reach the parquet scan, small dims broadcast,
projections prune the read schema, hot paths stay in whole-stage
codegen. `explain(formatted)` is the witness."""

from __future__ import annotations

from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_band_filter_pushed_to_parquet(spark):
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    df = all_queries()["o03_band_filter"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "GreaterThan(l_extendedprice" in plan
    assert "LessThan(l_extendedprice" in plan


def test_projection_prunes_read_schema(spark):
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    df = all_queries()["o04_projection"].fn(spark, SF_DIR)
    plan = _plan(df)
    # ReadSchema must carry only the two projected columns.
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "o_orderkey" in read_schema and "o_totalprice" in read_schema
    assert "o_orderdate" not in read_schema and "o_orderstatus" not in read_schema


def test_dimension_join_is_broadcast(spark):
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    df = all_queries()["o02_broadcast_join"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_flagship_agg_has_partial_aggregation(spark):
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    df = all_queries()["o09_avg_int_trunc"].fn(spark, SF_DIR)
    plan = _plan(df)
    # Two HashAggregate nodes: map-side partial + final after exchange.
    assert plan.count("HashAggregate") >= 2
    assert "BroadcastHashJoin" in plan


def test_timestamp_pushdown(spark):
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    df = all_queries()["o07_pushdown_scan"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters" in plan and "l_shipdate" in plan


def test_text_pipeline_stays_in_codegen(spark):
    """Text analysis must be JVM expressions (WholeStageCodegen), not
    Python UDFs (BatchEvalPython/ArrowEvalPython)."""
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    for name in ("text_token_stats", "text_fingerprint", "dedup_simhash"):
        df = all_queries()[name].fn(spark, SF_DIR)
        plan = _plan(df)
        # Higher-order functions run JVM-side but outside codegen; the
        # invariant that matters is: no Python-eval operator in the plan.
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_topk_uses_take_ordered(spark):
    """Global top-k must plan as TakeOrderedAndProject (distributed
    per-partition heaps), not a full global Sort."""
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    df = all_queries()["sim_cosine_topk"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan


def test_exists_becomes_semi_join(spark):
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    plan = _plan(all_queries()["subq_exists_priority"].fn(spark, SF_DIR))
    assert "LeftSemi" in plan
    # The high-quantity filter must reach the lineitem scan.
    assert "GreaterThanOrEqual(l_quantity,45" in plan.replace(" ", "").replace(".0", "")


def test_not_exists_becomes_anti_join(spark):
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    plan = _plan(all_queries()["subq_scalar_anti"].fn(spark, SF_DIR))
    assert "LeftAnti" in plan


def test_heavy_hitters_topk_no_global_sort(spark):
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    plan = _plan(all_queries()["text_heavy_hitters"].fn(spark, SF_DIR))
    # top-k must plan as per-partition heaps + driver merge, not a full sort.
    assert "TakeOrderedAndProject" in plan


def test_jvm_queries_have_no_python_eval(spark):
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    specs = all_queries()
    for name in ["fn_string_report", "fn_datetime_rollup", "sample_hash_bernoulli",
                 "rollup_hourly_to_daily", "text_bpe_token_count", "profile_orders"]:
        plan = _plan(specs[name].fn(spark, SF_DIR))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_merge_upsert_is_single_shuffle_outer_join(spark):
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    plan = _plan(all_queries()["merge_upsert_customers"].fn(spark, SF_DIR))
    assert "FullOuter" in plan


def test_day_layout_prunes_partitions(spark):
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    plan = _plan(all_queries()["layout_partition_pruning"].fn(spark, SF_DIR))
    after = plan.split("PartitionFilters", 1)
    assert len(after) == 2 and "event_day" in after[1][:300]


def test_bucketed_join_query_has_single_final_exchange(spark):
    import re

    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    plan = _plan(all_queries()["layout_bucketed_join"].fn(spark, SF_DIR))
    assert "SortMergeJoin" in plan
    assert plan.count("SelectedBucketsCount") == 2
    # Join sides read pre-bucketed and pre-sorted: the ONLY exchange in
    # the whole plan is the final 5-row aggregate's.
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_day_layout_dpp_subquery_on_fact_scan(spark):
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    plan = _plan(all_queries()["layout_dynamic_partition_pruning"].fn(spark, SF_DIR))
    # The fact scan must carry a runtime dynamicpruning subquery fed by
    # the tier='hot' dim — NOT a static partition predicate (the dim
    # filter is on a non-join column, so nothing is statically
    # transferable).
    assert "dynamicpruning" in plan.lower()


def test_cached_table_plans_inmemory_scan(spark):
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import load

    df = load(spark, SF_DIR, "nation")
    df.createOrReplaceTempView("nation_cache_probe")
    spark.catalog.cacheTable("nation_cache_probe")
    try:
        plan = _plan(spark.table("nation_cache_probe").groupBy("n_regionkey").count())
        assert "In-memory table" in plan or "InMemoryRelation" in plan
    finally:
        spark.catalog.uncacheTable("nation_cache_probe")


def test_broadcast_hint_overrides_planner(spark):
    """With auto-broadcast disabled the join must sort-merge; the
    explicit hint must force a broadcast anyway — the operator-level
    control knob for when statistics lie."""
    from pyspark.sql import functions as F

    from data_pipeline_with_hdfs_sql_integration_spark.catalog import load

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = load(spark, SF_DIR, "orders")
        cust = load(spark, SF_DIR, "customer")
        plain = orders.join(cust, orders.o_custkey == cust.c_custkey)
        assert "SortMergeJoin" in _plan(plain)
        hinted = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        p = _plan(hinted)
        assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_dedup_scan_skips_repartition_when_splits_suffice(spark, tmp_path):
    """_docs_parallel must NOT inject an Exchange when the documents scan
    already yields >= defaultParallelism splits — at 100 TB the scan has
    thousands of splits and an unconditional repartition would shuffle
    the whole corpus text before tokenization."""
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import load
    from data_pipeline_with_hdfs_sql_integration_spark.plans.dedup import _docs_parallel, _shingle_hashes

    par = spark.sparkContext.defaultParallelism
    wide_sf = str(tmp_path / "wide_sf")
    load(spark, SF_DIR, "documents").repartition(par).write.parquet(
        wide_sf + "/documents.parquet"
    )
    # Pin one-file-one-split so the precondition (splits >= parallelism)
    # holds regardless of Spark's small-file bin-packing.
    old = spark.conf.get("spark.sql.files.openCostInBytes", None)
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 30))
    try:
        docs = _docs_parallel(spark, wide_sf)
        assert docs.rdd.getNumPartitions() >= par
        assert "Exchange" not in _plan(docs)
        # and the full shingle pipeline stays exchange-free too
        assert "Exchange" not in _plan(_shingle_hashes(spark, wide_sf))
        # the small stock input (single file < cores) still repartitions
        assert "Exchange" in _plan(_docs_parallel(spark, SF_DIR))
    finally:
        if old is None:
            spark.conf.unset("spark.sql.files.openCostInBytes")
        else:
            spark.conf.set("spark.sql.files.openCostInBytes", old)


def test_token_hash_tables_have_materialization_barrier(spark):
    """The token-hash projections under the shingle/gram folds must sit
    behind a persist barrier: CollapseProject otherwise inlines the full
    char-level hash computation into every per-position array reference
    — O(k*n) re-hashes of the whole document, quadratic in doc length
    (measured 73 s vs 1.5 s cold at sf0.1). InMemoryRelation in the
    analyzed plan is the witness that the barrier exists."""
    from data_pipeline_with_hdfs_sql_integration_spark.plans.dedup import _shingle_hashes
    from data_pipeline_with_hdfs_sql_integration_spark.plans.training_prep import _gram_hashes

    for df in (_shingle_hashes(spark, SF_DIR), _gram_hashes(spark, SF_DIR)):
        # Cache substitution happens post-analysis: the optimized plan
        # shows InMemoryRelation where the persisted hash table sits.
        assert "InMemoryRelation" in str(df._jdf.queryExecution().optimizedPlan()), (
            "token-hash table lost its persist barrier"
        )


def test_scd2_windows_share_one_sort(spark):
    """Both window passes (lag change-points, lead interval-close) use
    the same (custkey, time) partitioning+ordering, so Catalyst plans
    exactly ONE exchange and ONE sort."""
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    import re

    plan = _plan(all_queries()["scd2_order_priority"].fn(spark, SF_DIR))
    # formatted output names each node twice (tree + detail) — count
    # the detail headers "(N) Exchange" / "(N) Sort".
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan
    assert len(re.findall(r"^\(\d+\) Sort", plan, re.M)) == 1, plan


def test_fuzzy_join_is_blocked_not_cartesian(spark):
    """The levenshtein verify must run INSIDE equi-join blocks — a plan
    with a cartesian/NL join would be the quadratic shape blocking
    exists to prevent."""
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    plan = _plan(all_queries()["fuzzy_match_partnames"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan  # broadcast or shuffled — an equi-join either way


def test_pagerank_rounds_have_persist_barriers(spark):
    """Each round's ranks persist (InMemoryRelation); without the
    barrier, lineage re-executes O(2^rounds)."""
    from data_pipeline_with_hdfs_sql_integration_spark.plans.graph import PR_ITERS
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    df = all_queries()["graph_pagerank"].fn(spark, SF_DIR)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("InMemoryRelation") >= PR_ITERS


def test_pq_adc_scan_broadcasts_lut(spark):
    """The asymmetric-distance scan joins the codes table against the
    (subspace, code) lookup table by BROADCAST — the LUT is 32 rows at
    any corpus size, so a shuffle there would be a scale bug."""
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    plan = _plan(all_queries()["sim_ann_pq"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_aqe_splits_skewed_join_partition(spark):
    """PROOF that AQE skew-join handling engages, next to the manual
    salting in operators/skew.py: a join whose hot key owns ~90% of the
    rows must show SortMergeJoin(skew=true) in the executed adaptive
    plan — the oversized shuffle partition was split into advisory-size
    reads instead of landing on one task.

    Two setup subtleties this test pins: (1) the consumer after the
    join must NOT require the join's hash distribution (a groupBy on
    the join key would forbid splitting — OptimizeSkewedJoin preserves
    required distributions); (2) broadcast must be off or the planner
    sidesteps the shuffle entirely.
    """
    import pyspark.sql.functions as F

    tuned = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Scale the size heuristics down to test-data magnitudes.
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        big = spark.range(300_000).select(
            F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id") % 1000).alias("k"),
            F.col("id").alias("payload"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("dim_pad"),
        )
        j = big.join(dim, "k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("payload").alias("s")
        )
        [row] = j.collect()
        # Every big row has a dim match, so the join must be lossless …
        assert row["n"] == 300_000
        assert row["s"] == sum(range(300_000))
        # … and the executed plan must show the skew split engaged.
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_zorder_layout_prunes_row_groups(spark):
    """The Z-ordered lineitem layout must let the 2-D box predicate
    skip most row groups, while the natural order skips (almost) none.
    Measured directly from the parquet footers: a row group can be
    skipped iff its [min,max] rectangle on (l_partkey, l_suppkey)
    misses the box — exactly the stats the reader's row-group filter
    uses, with no dependence on Spark internals."""
    import glob
    import os

    import pyarrow.parquet as pq

    from data_pipeline_with_hdfs_sql_integration_spark.catalog import (
        deterministic_tmp_dir,
        table_path,
    )
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    # Build (or reuse) the z-ordered layout via the query itself.
    all_queries()["layout_zorder_pruning"].fn(spark, SF_DIR).collect()
    zpath = deterministic_tmp_dir("layout_zorder_p64_g256", table_path(SF_DIR, "lineitem"))

    # Natural-order control: same columns, same 16-file split, no sort.
    from pyspark.sql import functions as F

    from data_pipeline_with_hdfs_sql_integration_spark.catalog import load

    npath = deterministic_tmp_dir("layout_zorder_ctrl", table_path(SF_DIR, "lineitem"))
    if not os.path.exists(os.path.join(npath, "_SUCCESS")):
        (
            load(spark, SF_DIR, "lineitem")
            .select("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_returnflag")
            .repartition(16)
            .write.mode("overwrite")
            .parquet(npath)
        )

    def overlap_stats(path):
        total = overlapping = 0
        for f in glob.glob(os.path.join(path, "*.parquet")):
            meta = pq.ParquetFile(f).metadata
            names = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
            for rg in range(meta.num_row_groups):
                g = meta.row_group(rg)
                pk = g.column(names["l_partkey"]).statistics
                sk = g.column(names["l_suppkey"]).statistics
                total += 1
                if pk.min <= 59 and pk.max >= 10 and sk.min <= 5 and sk.max >= 1:
                    overlapping += 1
        return total, overlapping

    z_total, z_hit = overlap_stats(zpath)
    n_total, n_hit = overlap_stats(npath)
    assert z_total >= 32 and n_total >= 8  # both layouts really split
    # Natural order: every row group spans nearly the full key range,
    # so NOTHING can be skipped.
    assert n_hit == n_total
    # Z order: only the quadtree cells actually touching the box
    # overlap — at most half the row groups even at sf0.001 where the
    # box is a large fraction of the key space, and far fewer as SF
    # grows and the box shrinks relative to the domain.
    assert z_hit / z_total <= 0.5 < n_hit / n_total + 0.5


def test_dedup_semantic_pair_join_is_equi(spark):
    """The SemDeDup pair search must be a cell-keyed equi-join, never a
    cartesian product (the entire point of clustering first)."""
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    df = all_queries()["dedup_semantic"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quality_lm_bigram_single_explode_pass(spark):
    """The LM scorer's three aggregates must all hang off the persisted
    per-doc bigram multiset (InMemoryTableScan), not three re-runs of
    the tokenize+explode lineage — and the whole pipeline stays JVM-side."""
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    # An earlier parity run of this query leaves its multiset cached;
    # CacheManager would then substitute that entry INSIDE the fresh
    # persist call and print two nested cached plans (two Generate
    # ids). Clear the cache so the assertion sees one build's plan.
    spark.catalog.clearCache()
    df = all_queries()["quality_lm_bigram"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "InMemoryTableScan" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # One Generate (the explode) in the whole tree: every
    # InMemoryTableScan prints the SAME cached plan, so all Generate
    # mentions must carry one shared node id — a second distinct id
    # would mean a re-run of the explode lineage outside the cache.
    import re

    gen_ids = set(re.findall(r"Generate \((\d+)\)", plan))
    assert len(gen_ids) == 1, gen_ids


def test_runtime_bloom_filter_injects_on_selective_shuffle_join(spark):
    """PROOF that Catalyst's runtime Bloom-filter join pruning engages
    (InjectRuntimeFilter): a selective filter on the dim side of a
    shuffle join must materialize as bloom_filter_agg on the creation
    side and a might_contain() pre-filter on the fact side — fact rows
    that cannot match are dropped BEFORE the join's shuffle.

    Two operational gates this test pins, because they decide when the
    feature actually fires at 100 TB: (1) the application-side scan
    must exceed `applicationSideScanSizeThreshold` (default 10GB — the
    rule is deliberately scale-activated, so toy scans need the knob
    lowered); (2) if the dim is broadcastable the rule declines —
    a broadcast hash join already prunes at the probe, so bloom would
    be pure overhead. With defaults at this SF the plan must therefore
    contain NO bloom filter."""
    import pyspark.sql.functions as F

    sf = SF_DIR

    def build():
        o = spark.read.parquet(f"{sf}/orders.parquet").filter(
            F.col("o_totalprice") > 400000.0
        )
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        return li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()

    # Default posture at toy scale: scan far below 10GB -> no injection.
    base = build()._jdf.queryExecution().optimizedPlan().toString()
    assert "might_contain" not in base

    tuned = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        j = build()
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt, opt
        assert "bloom_filter_agg" in opt, opt
        got = {r["o_orderpriority"]: r["count"] for r in j.collect()}
        for k, v in tuned.items():
            spark.conf.unset(k) if saved[k] is None else spark.conf.set(k, saved[k])
        want = {r["o_orderpriority"]: r["count"] for r in build().collect()}
        # Bloom pre-filtering is a pure optimization: results identical.
        assert got == want and sum(got.values()) > 0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_coalesces_overprovisioned_shuffle(spark):
    """PROOF that AQE partition coalescing engages: a small aggregate
    shuffled across the session's 8 (locally; 32+ on a cluster)
    partitions must execute with AQEShuffleRead(coalesced) — runtime
    reads merge the tiny map outputs instead of scheduling one task per
    configured partition. This is why SCALE.md says overshooting
    spark.sql.shuffle.partitions is safe: the coalesce is free and
    runtime-sized, while undershooting spills."""
    import pyspark.sql.functions as F

    df = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert len(df.collect()) == 5  # collect THIS plan (count() builds another)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "AQEShuffleRead" in plan and "coalesced" in plan, plan


def test_lateral_topk_decorrelates_to_window(spark):
    """The correlated LATERAL ... ORDER BY ... LIMIT must decorrelate:
    the physical plan is a Window + WindowGroupLimit (per-partition
    top-k pushdown) feeding a hash join — never a nested-loop executing
    one subquery per outer row."""
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    df = all_queries()["sql_lateral_topk"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "Window" in plan
    assert "WindowGroupLimit" in plan  # rank<=2 pushed below the window sort
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ohlc_is_single_aggregate_no_window(spark):
    """rollup_ohlc's open/close via min_by/max_by must plan as ONE hash
    aggregate pass — no Window operator, no per-group sort."""
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    df = all_queries()["rollup_ohlc"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "Window" not in plan
    # min_by/max_by over a struct ordering key plans as SortAggregate
    # (struct comparisons disable hash agg) — still ONE aggregate pass
    # with one (key, value) pair of state per group, sorted only by
    # the GROUP key, never per-group data sorts.
    assert "SortAggregate" in plan or "HashAggregate" in plan


def test_compaction_reduces_file_count(spark):
    """layout_compaction must actually merge the 64-file fragmented
    copy into (far) fewer files, losslessly (the oracle parity test
    checks values; this checks the operational claim)."""
    import glob
    import os

    from data_pipeline_with_hdfs_sql_integration_spark.catalog import (
        deterministic_tmp_dir,
        table_path,
    )
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    all_queries()["layout_compaction"].fn(spark, SF_DIR).collect()
    frag = deterministic_tmp_dir("layout_frag64", table_path(SF_DIR, "events"))
    compacted = deterministic_tmp_dir("layout_compacted", table_path(SF_DIR, "events"))
    n_frag = len(glob.glob(os.path.join(frag, "*.parquet")))
    n_comp = len(glob.glob(os.path.join(compacted, "*.parquet")))
    assert n_frag == 64
    assert 1 <= n_comp <= 4


def test_grid_join_no_cartesian(spark):
    """sim_grid_neighbors must plan as a cell-keyed equi-join: the
    radius predicate is a post-join filter, never a join strategy."""
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    df = all_queries()["sim_grid_neighbors"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_triangle_count_no_cartesian(spark):
    """graph_triangle_count: wedge and closing joins are equi-keyed."""
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    df = all_queries()["graph_triangle_count"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_winnowing_single_window_exchange(spark):
    """text_winnowing's lead/frame-min/count windows must all ride ONE
    hashpartitioning(doc_id) exchange (plus the small-input repartition
    guard) — a second per-window shuffle would double the dominant cost
    at 100 TB."""
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    df = all_queries()["text_winnowing"].fn(spark, SF_DIR)
    plan = _plan(df)
    import re

    doc_exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning(doc_id" in ln
    ]
    assert len(doc_exchanges) <= 1, plan


def test_cbo_stats_reach_the_plan(spark, tmp_path):
    """ANALYZE TABLE COMPUTE STATISTICS must surface rowCount/sizeInBytes
    stats that the cost-based optimizer can read — the prerequisite for
    stats-driven join ordering on a real warehouse."""
    import re

    loc = (tmp_path / "stats_t").as_posix()
    spark.sql("DROP TABLE IF EXISTS dps_stats_t")
    spark.read.parquet(f"{SF_DIR}/nation.parquet").write.option("path", loc).saveAsTable(
        "dps_stats_t"
    )
    before = spark.conf.get("spark.sql.cbo.enabled")
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.sql("ANALYZE TABLE dps_stats_t COMPUTE STATISTICS")
        cost = spark.sql("EXPLAIN COST SELECT * FROM dps_stats_t").collect()[0][0]
        assert re.search(r"rowCount=\d+", cost), cost[:500]
        assert "sizeInBytes" in cost
    finally:
        spark.conf.set("spark.sql.cbo.enabled", before)
        spark.sql("DROP TABLE IF EXISTS dps_stats_t")


def test_association_pairs_no_cartesian(spark):
    """mine_association_pairs' pair join must stay keyed on the basket
    (user, day) — never a cross product over items."""
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    df = all_queries()["mine_association_pairs"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_trigram_paths_topk_plan(spark):
    """events_trigram_paths' top-20 must plan as TakeOrderedAndProject
    (per-partition heaps), not a global sort."""
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    df = all_queries()["events_trigram_paths"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan


def test_skyline_two_phase_plan(spark):
    """agg_skyline_2d must show BOTH window passes: the local skyline
    partitioned by spark_partition_id() and the global one — the
    distributed two-phase structure, not a single global sort of the
    full table."""
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    df = all_queries()["agg_skyline_2d"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Window") >= 2, plan
    assert "SPARK_PARTITION_ID" in plan.upper()
    assert "CartesianProduct" not in plan
    # Phase 2 is the two-phase prefix max: every window in the plan is
    # partitioned (no empty partition spec = no single-task funnel).
    assert "], [], [" not in plan, "unpartitioned Window in skyline plan"
    assert "rangepartitioning(price_cents" in plan


def test_containment_prefix_no_cross_join(spark):
    """The scale-path containment query must generate candidates from
    the prefix-filtered posting-list EQUI-join — the round-5 gap was
    that only the bounded cross-join baseline existed. No cartesian,
    no broadcast-nested-loop anywhere in the plan."""
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    df = all_queries()["dedup_containment_prefix"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_containment_prefix_covers_baseline(spark):
    """Prefix filtering is recall-lossless at the exact threshold: every
    pair the bounded exact-all-pairs baseline flags must also be flagged
    (with the identical containment value) by the whole-corpus prefix
    query."""
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    qs = all_queries()
    base = {
        (r.contained_doc, r.container_doc): r.containment
        for r in qs["dedup_containment"].fn(spark, SF_DIR).collect()
    }
    full = {
        (r.contained_doc, r.container_doc): r.containment
        for r in qs["dedup_containment_prefix"].fn(spark, SF_DIR).collect()
    }
    assert base, "baseline found no pairs at the test SF"
    for pair, c in base.items():
        assert full.get(pair) == c, f"prefix path missed/differed on {pair}"


def test_mad_sketch_windows_over_sketch_only(spark):
    """anomaly_mad_sketch's cumulative windows must run over the
    histogram (<= MS_NBINS rows/segment), with the data passes as
    map-side-combined hash aggregates — and no per-segment sort of the
    raw data anywhere (that's the exact sibling's cost the sketch
    exists to avoid)."""
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    df = all_queries()["anomaly_mad_sketch"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # Both medians read off windows; both histogram builds are partial
    # (map-side) hash aggregates.
    assert plan.count("Window") >= 2
    assert "partial_count" in plan


def test_gini_rank_has_no_unpartitioned_window(spark):
    """agg_gini_concentration's global rank is two-phase (range
    repartition + per-pid local windows + driver-cum-summed offsets):
    the plan must contain NO unpartitioned window (empty partition
    spec renders as `], [], [` in the formatted Window arguments) and
    no single-partition sort of the per-customer relation — the shape
    that funnels ~1e9 customers through one task at 100 TB."""
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    df = all_queries()["agg_gini_concentration"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "Window" in plan  # the local rank is still a window
    assert "], [], [" not in plan, "unpartitioned Window in Gini plan"
    # The only SinglePartition exchange allowed is the final scalar
    # aggregate (1 row); the rank path itself is range-partitioned.
    assert "rangepartitioning(cents" in plan


def test_zipf_rank_has_no_unpartitioned_window(spark):
    """text_zipf_fit ranks the vocabulary with the two-phase global
    rank — no empty-partition-spec window, no single-partition sort
    of the vocab relation."""
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    df = all_queries()["text_zipf_fit"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "Window" in plan
    assert "], [], [" not in plan, "unpartitioned Window in Zipf plan"
    assert "rangepartitioning(freq" in plan


def test_ks_mwu_exact_have_no_unpartitioned_window(spark):
    """The EXACT KS/MWU baselines now compute their cumulative counts
    with the two-phase global prefix sum — range-partitioned local
    windows plus broadcast offsets — so even the exact forms carry no
    single-partition sort over the distinct-value relation."""
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    for name in ("stats_ks_two_sample", "stats_mann_whitney_u"):
        df = all_queries()[name].fn(spark, SF_DIR)
        plan = _plan(df)
        assert "Window" in plan, name  # the local cumsum is still a window
        assert "], [], [" not in plan, f"unpartitioned Window in {name}"
        assert "rangepartitioning(cents" in plan, name


def test_ks_mwu_sketch_have_no_window_at_all(spark):
    """The sketch KS/MWU siblings read off the bounded bin histogram
    with ONE HOF fold over a collected array (constant sketch state) —
    the data pass stays a partial (map-side) hash aggregate and the
    plan carries NO Window operator and no single-partition sort."""
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    for name in ("stats_ks_sketch", "stats_mwu_sketch"):
        df = all_queries()[name].fn(spark, SF_DIR)
        plan = _plan(df)
        assert "partial_count" in plan or "partial_sum" in plan, name
        assert "Window" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_contamination_semantic_is_broadcast_map_pass(spark):
    """The semantic-contamination pass must never shuffle the corpus:
    eval rows broadcast (nested-loop join against the corpus scan) and
    the nearest-neighbor pick partial-aggregates map-side, so the only
    exchange carries |eval| pre-reduced rows."""
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    df = all_queries()["contamination_semantic"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # partial_max before the exchange: the grouped max reduces per task.
    assert "partial_max" in plan


def test_warm_build_sends_no_origin_capture(spark, monkeypatch):
    """get_spark turns PySpark's per-call origin capture off, so a warm
    plan build sends no PySparkCurrentOrigin command (with it on, every
    Column and functions call sends about 8 more py4j commands). The
    second build runs on a new session, where the registry holds no
    prepared frame, so it really builds."""
    from data_pipeline_with_hdfs_sql_integration_spark import catalog
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    build = all_queries()["agg_pricing_summary"].fn
    build(spark, SF_DIR)
    fresh = spark.newSession()
    client = spark._jvm._gateway_client
    send, sent = client.send_command, []
    before = dict(catalog.PREPARED_COUNTS["agg_pricing_summary"])
    monkeypatch.setattr(client, "send_command",
                        lambda command, *args, **kw: (sent.append(command), send(command, *args, **kw))[1])
    build(fresh, SF_DIR)
    assert catalog.PREPARED_COUNTS["agg_pricing_summary"]["miss"] == before["miss"] + 1
    assert sent and not [c for c in sent if "PySparkCurrentOrigin" in c]


def test_serve_memo_hits_send_no_py4j_command(spark, tmp_path, monkeypatch):
    """On local paths a CalcAvgLoan answered from the reuse memo and a
    repeat BlockLocations send no py4j command at all."""
    from data_pipeline_with_hdfs_sql_integration_spark import catalog
    from data_pipeline_with_hdfs_sql_integration_spark.api import Pipeline

    pipe = Pipeline(spark, str(tmp_path / "main"), str(tmp_path / "cache"), "k", "v")
    pipe.db_to_store(spark.createDataFrame([(1, 10), (1, 21), (2, 5)], "k int, v long"),
                     attempts=1, sleep_s=0.0)
    assert [pipe.calc_avg(1).source for _ in range(2)] == ["create", "reuse"]
    blocks = pipe.block_report()
    client = spark._jvm._gateway_client
    send, sent = client.send_command, []
    monkeypatch.setattr(client, "send_command",
                        lambda command, *args, **kw: (sent.append(command), send(command, *args, **kw))[1])
    hits = catalog.CACHE_COUNTS["hit"]
    res = pipe.calc_avg(1)
    assert (res.avg, res.source, catalog.CACHE_COUNTS["hit"]) == (15, "reuse", hits + 1)
    assert pipe.block_report() == blocks
    assert sent == []

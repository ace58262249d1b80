"""Inter-query concurrency parity: the reference serves up to 10
concurrent RPC handler threads over one process (server.py:151,
``ThreadPoolExecutor(max_workers=10)``) — SURVEY.md §3 calls this the
reference's only parallelism model. The Spark engine must likewise
serve concurrent queries from ONE SparkSession (thread-safe driver,
independent jobs) and return exactly the results each query returns
when run alone."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from tests.conftest import SF_DIR, SF_DIR_MID


def _q(name):
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    return all_queries()[name]


# A mix of shapes: scan-agg, broadcast join, window, cache read, text.
_NAMES = [
    "o09_avg_int_trunc",
    "o02_broadcast_join",
    "window_topk_per_group",
    "agg_pricing_summary",
    "text_token_stats",
    "join_region_revenue",
    "o03_band_filter",
    "agg_filtered_counts",
]


def _rows(spark, name, sf_dir=SF_DIR):
    df = _q(name).fn(spark, sf_dir)
    return sorted(tuple(str(x) for x in r) for r in df.select(*sorted(df.columns)).collect())


def test_concurrent_queries_match_solo_results(spark):
    solo = {n: _rows(spark, n) for n in _NAMES}
    # 8 queries x 2 waves on 10 threads — deliberately oversubscribed
    # like the reference's handler pool.
    with ThreadPoolExecutor(max_workers=10) as pool:
        futures = [(n, pool.submit(_rows, spark, n)) for n in _NAMES * 2]
        for n, fut in futures:
            assert fut.result(timeout=300) == solo[n], n


# Every body that reads its tables through SQL text or needs tuned
# confs: the shapes that could leak one call's session state into
# another's.
_SESSION_STATE_NAMES = [
    "sql_interface_region_revenue",
    "sql_interface_tpch_q1",
    "sql_lateral_topk",
    "sql_scripting_threshold",
    "sql_parameterized",
    "fn_collation_ci",
    "recursive_hierarchy_rollup",
    "agg_grouping_sets",
    "subq_not_in_null_aware",
    "udtf_word_positions",
    "udtf_session_stats",
    "layout_bloom_join_pruning",
]
# The confs layout_bloom_join_pruning and the TWS stateful query tune.
_TUNED_KEYS = [
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.autoBroadcastJoinThreshold",
    "spark.sql.streaming.stateStore.providerClass",
]


def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _mid_with_half_documents(tmp_path):
    """SF_DIR_MID with every other document: the full sf0.001 and sf0.01
    documents tables give udtf_word_positions the same counts."""
    import pyarrow.parquet as pq

    from data_pipeline_with_hdfs_sql_integration_spark.catalog import TABLES

    for t in TABLES:
        src = f"{SF_DIR_MID}/{t}.parquet"
        if t == "documents":
            docs = pq.read_table(src)
            pq.write_table(docs.take(list(range(0, docs.num_rows, 2))), tmp_path / f"{t}.parquet")
        else:
            (tmp_path / f"{t}.parquet").symlink_to(src)
    return str(tmp_path)


def test_two_datasets_on_one_session_match_solo_results(spark, tmp_path):
    """Concurrent calls on two datasets through one session each get
    their own dataset's answer, and leave the session's confs and
    temp views as they were."""
    from data_pipeline_with_hdfs_sql_integration_spark.session import RUNTIME_CONFS, tws_ready

    names = list(_SESSION_STATE_NAMES)
    if tws_ready(spark):
        names.append("stream_stateful_user_totals_tws")
    keys = [*RUNTIME_CONFS, *_TUNED_KEYS]
    confs_before = {k: spark.conf.get(k, None) for k in keys}
    views_before = _temp_views(spark)
    datasets = (SF_DIR, _mid_with_half_documents(tmp_path))
    calls = [(n, d) for n in names for d in datasets]
    solo = {c: _rows(spark, *c) for c in calls}
    for n in names:
        # Else a wrong-dataset answer could not show.
        assert solo[(n, datasets[0])] != solo[(n, datasets[1])], n
    with ThreadPoolExecutor(max_workers=8) as pool:
        futures = [(c, pool.submit(_rows, spark, *c)) for c in calls * 2]
        wrong = [c for c, fut in futures if fut.result(timeout=600) != solo[c]]
    assert wrong == []
    assert {k: spark.conf.get(k, None) for k in keys} == confs_before
    assert _temp_views(spark) - views_before == set()


def test_streaming_queries_leave_no_memory_sink_view(spark):
    """A memory-sink query hands back a frame resolved to the sink and
    drops the sink's temp view: repeat calls leave no stream_out_* or
    stream_pyds_* entry in the session's catalog, and each call's rows
    stay readable."""
    solo = [_rows(spark, "stream_tumbling_counts") for _ in range(3)]
    assert solo[0] and solo[0] == solo[1] == solo[2]
    pyds = [_rows(spark, "stream_python_datasource") for _ in range(2)]
    assert pyds[0] and pyds[0] == pyds[1]
    assert [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith(("stream_out_", "stream_pyds_"))
    ] == []

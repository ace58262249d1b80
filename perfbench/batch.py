"""``batch_sf0.05``: a fixed query list run pass after pass by one client.

Each run, after set-up, clears the dataset's derived stores and runs a
cold pass in the fresh session (every query built, executed and its
rows fetched as Arrow; those rows are checked against the query's
DuckDB oracle). Warm passes follow, each query built and materialised
with the ``noop`` sink, in one seeded order per run: at least
``MIN_WARM_PASSES``, more only while another fits in the run's seconds.
"""

from __future__ import annotations

import sys
import time

import numpy as np

from harness import PER_LAYER_UNITS, Session, metric, process_age_s, quantile, self_hwm_mb

SCALE = 0.05
#: Star-schema SQL plans, then curation operators: hashing kernels and a
#: derived index store (dedup_minhash_lsh), a memo_persist base
#: (text_tfidf_topterm) and the Arrow/Python worker (multimodal_y4m_frames).
QUERIES = (
    "o02_broadcast_join", "o07_pushdown_scan", "agg_pricing_summary",
    "join_revenue_topk", "window_topk_per_group", "subq_in_having",
    "join_region_revenue", "rollup_hourly_to_daily",
    "dedup_exact", "dedup_minhash_lsh", "text_tfidf_topterm", "multimodal_y4m_frames",
)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
MIN_WARM_PASSES = 3


def _order(names, seed: int) -> list[str]:
    perm = np.random.default_rng([seed, 11]).permutation(len(names))
    return [names[i] for i in perm]


def run(run, t_excluded: float) -> dict:
    data, t_gen = run.inputs(SCALE, TABLES)
    t_excluded += t_gen
    from data_pipeline_with_hdfs_sql_integration_spark import catalog
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries
    from data_pipeline_with_hdfs_sql_integration_spark.session import get_spark

    layer: dict[str, float] = {}
    t = time.perf_counter()
    sess = Session(get_spark("perfbench-batch"))
    layer["session.get_spark_s"] = time.perf_counter() - t
    t = time.perf_counter()
    specs = all_queries()
    layer["registry.load_s"] = time.perf_counter() - t
    try:
        catalog.clear_derived_stores(data)
        return _passes(run, sess, specs, _order(QUERIES, run.seed), data, TABLES, layer,
                       t_excluded)
    finally:
        sess.stop()


def _one(spark, spec, data, sink: str, tracer=None, tag: str = "") -> dict:
    """Build and execute one query; returns timings (and Arrow rows for
    the ``arrow`` sink)."""
    from contextlib import nullcontext

    span = tracer.span(f"op.{tag}", group=True, query=spec.name) if tracer else nullcontext({})
    with span as attrs:
        t0 = time.perf_counter()
        df = spec.fn(spark, data)
        t1 = time.perf_counter()
        if sink == "arrow":
            rows = df.toArrow()
        else:
            rows = None
            df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        attrs.update(build_ms=(t1 - t0) * 1e3, exec_ms=(t2 - t1) * 1e3)
    return {"query": spec.name, "ms": (t2 - t0) * 1e3, "rows": rows}


def _passes(run, sess, specs, order, data, tables, layer, t_excluded) -> dict:
    from data_pipeline_with_hdfs_sql_integration_spark import catalog

    from check import digest, oracle_digests

    spark = sess.spark
    tracer = None
    if run.trace:
        from tracing import Tracer

        tracer = Tracer(spark.sparkContext)
    setup_s = process_age_s() - t_excluded
    attempted = failed = 0
    digests: dict[str, str] = {}

    t_cold = time.perf_counter()
    for name in order:
        attempted += 1
        try:
            r = _one(spark, specs[name], data, "arrow", tracer, "cold")
        except Exception as exc:  # noqa: BLE001 -- a failed op is counted, not fatal
            failed += 1
            print(f"{name}: cold pass failed: {exc}", file=sys.stderr)
            continue
        pause = time.perf_counter()
        digests[name] = digest(r.pop("rows"))
        t_cold += time.perf_counter() - pause  # digesting is not the engine's time
    cold_s = time.perf_counter() - t_cold

    # Warm passes: at least MIN_WARM_PASSES, more only while another
    # pass fits in the run's seconds. The traced run makes exactly three
    # (untraced, traced, untraced), so warm-up drift cancels out of the
    # tracing overhead.
    warm: list[dict] = []
    plain_passes, traced_passes = [], []
    t_start = time.perf_counter()
    n_pass, last = 0, 0.0
    while (n_pass < 3 if tracer else
           n_pass < MIN_WARM_PASSES or time.perf_counter() - t_start + last <= run.seconds):
        traced = tracer is not None and n_pass == 1
        t_pass = time.perf_counter()
        for name in order:
            attempted += 1
            try:
                r = _one(spark, specs[name], data, "noop", tracer if traced else None, "warm")
            except Exception as exc:  # noqa: BLE001
                failed += 1
                print(f"{name}: warm pass failed: {exc}", file=sys.stderr)
                continue
            if not traced:
                warm.append(r)
        last = time.perf_counter() - t_pass
        (traced_passes if traced else plain_passes).append(last)
        n_pass += 1
    rss = sess.jvm_hwm_mb() + self_hwm_mb()

    expected = oracle_digests(data, tables, specs, order)
    wrong = [n for n in order if n in digests and digests[n] != expected[n]]
    for n in wrong:
        print(f"{n}: result digest differs from its DuckDB oracle", file=sys.stderr)
    failed += len(wrong)
    print(f"{run.workload}: cold {cold_s:.2f}s, warm passes {[round(p, 2) for p in plain_passes]}"
          f", {len(wrong)} wrong", file=sys.stderr)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    warm_ms = [r["ms"] for r in warm]
    if tracer is None:
        # Per-query medians over the passes: a burst of outside load
        # during one pass does not move the pass estimate.
        per_query = [quantile([r["ms"] for r in warm if r["query"] == n], 0.5) for n in order]
        result["metrics"] = {
            "setup_s": metric(setup_s, "s"),
            "ops_per_s": metric(len(order) * 1e3 / sum(per_query), "1/s"),
            "warm_p50_ms": metric(quantile(warm_ms, 0.5), "ms"),
            "warm_p90_ms": metric(quantile(warm_ms, 0.9), "ms"),
            # The cold pass as a whole: which query pays a shared
            # compilation or store build depends on the seeded order.
            "cold_op_ms": metric(cold_s * 1e3 / len(order), "ms"),
        }
        return result

    tracer.resolve_spark_counts()
    summary = _batch_summary(tracer, layer, setup_s)
    summary["catalog.store_build_s"] = sum(catalog.STORE_BUILD_TIMES.values())
    summary["peak_rss_mb"] = rss
    summary["tracing.overhead_pct"] = 100.0 * (
        traced_passes[0] / float(np.mean(plain_passes)) - 1.0)
    tracer.dump(str(run.trace_path()), summary)
    result["metrics"] = {k: metric(summary[k], u) for k, u in PER_LAYER_UNITS.items()}
    return result


def _batch_summary(tracer, layer, setup_s) -> dict:
    out = dict(layer)
    out["setup.rest_s"] = setup_s - layer["session.get_spark_s"] - layer["registry.load_s"]
    for tag in ("warm", "cold"):
        spans = tracer.by_name(f"op.{tag}")
        out[f"spark.jobs_per_{tag}_op"] = float(np.mean([s["jobs"] for s in spans]))
        out[f"spark.tasks_per_{tag}_op"] = float(np.mean([s["tasks"] for s in spans]))
        out[f"op.exec_{tag}_ms"] = quantile([s["attrs"]["exec_ms"] for s in spans], 0.5)
        # The per-query layer metrics, named as in the README's map.
        for s in spans:
            q, a = s["attrs"]["query"], s["attrs"]
            out[f"plans.{q}.{tag}_build_ms"] = a["build_ms"]
            out[f"exec.{q}.{tag}_ms"] = a["exec_ms"]
            out[f"exec.{q}.{tag}_jobs"] = s["jobs"]
            out[f"exec.{q}.{tag}_tasks"] = s["tasks"]
    out["op.build_ms"] = quantile(
        [s["attrs"]["build_ms"] for s in tracer.by_name("op.warm")], 0.5)
    return out

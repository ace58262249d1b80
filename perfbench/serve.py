"""``serve_zipf``: the reference's request path as a closed loop.

Set-up runs DbToHdfs (``Pipeline.db_to_store``: orders joined with
customer, band-filtered on the order price) and starts the lender
service. Each run then invalidates the partition cache and 3 client
threads each send CalcAvgLoan over ``application/x-protobuf``, the next
request only after the previous reply. Keys are drawn Zipf over the 25
``c_nationkey`` values (rank order from the seed), and about one
request in 25 is a BlockLocations call.

Cache-miss race: the partition cache answers "no rows" when a request
reads a key whose partition another request is still writing (the
directory exists before its files are committed). Operations of a
workload must not fail, so the clients take turns on a key's first
request after an invalidate: a client that draws a key whose first
request is still in flight waits (untimed) for it. The traced run
measures the race itself with a separate probe of simultaneous first
requests (``race.*`` in the trace summary).
"""

from __future__ import annotations

import sys
import threading
import time

import numpy as np

from harness import PER_LAYER_UNITS, Session, metric, process_age_s, quantile, self_hwm_mb

SCALE = 0.35  # 525 K orders -> ~420 K rows in main, the reference's 427 K
CLIENTS = 3
N_KEYS = 25
ZIPF_S = 1.1
BLOCK_EVERY = 25
BAND = (100000.0, 800000.0)  # keeps ~80 % of orders
KEY_COL, VALUE_COL = "c_nationkey", "o_totalprice"
TABLES = ("customer", "orders")
RACE_ROUNDS = 4
WARMUP_KEYS = 3


def _key_probs(seed: int) -> tuple[np.ndarray, np.ndarray]:
    ranks = np.random.default_rng([seed, 7]).permutation(N_KEYS)
    p = 1.0 / np.arange(1, N_KEYS + 1) ** ZIPF_S
    return ranks, p / p.sum()


def _op_stream(seed: int, client: int):
    """The client's seeded request sequence: ("block", None) or
    ("avg", key)."""
    rng = np.random.default_rng([seed, 1000 + client])
    keys, p = _key_probs(seed)
    while True:
        if rng.random() < 1.0 / BLOCK_EVERY:
            yield "block", None
        else:
            yield "avg", int(keys[rng.choice(N_KEYS, p=p)])


class FirstRequestGate:
    """Lets one client at a time send a key's first request after an
    invalidate; the others wait for its reply before sending theirs."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._done: set[int] = set()
        self._inflight: dict[int, threading.Event] = {}

    def enter(self, key: int) -> bool:
        """Block until the key may be sent; True if this is its first."""
        with self._lock:
            if key in self._done:
                return False
            ev = self._inflight.get(key)
            if ev is None:
                self._inflight[key] = threading.Event()
                return True
        ev.wait()
        return False

    def leave(self, key: int) -> None:
        with self._lock:
            self._done.add(key)
            self._inflight.pop(key).set()


def _closed_loop(port: int, seed: int, seconds: float, salt: int) -> tuple[list[dict], float]:
    """Run the clients for ``seconds``; returns (samples, elapsed)."""
    from data_pipeline_with_hdfs_sql_integration_spark.service import LenderHttpClient

    gate = FirstRequestGate()
    samples: list[dict] = []
    lock = threading.Lock()
    t0 = time.perf_counter()
    deadline = t0 + seconds
    errors: list[BaseException] = []

    def client(i: int) -> None:
        cl = LenderHttpClient(port, wire="proto", timeout_s=120.0)
        ops = _op_stream(seed + salt, i)
        mine = []
        try:
            while time.perf_counter() < deadline:
                kind, key = next(ops)
                first = kind == "avg" and gate.enter(key)
                s = time.perf_counter()
                try:
                    resp = cl.block_locations() if kind == "block" else cl.calc_avg_loan(key)
                except Exception as exc:  # a transport failure is a failed op
                    resp = {"error": f"{type(exc).__name__}: {exc}"}
                e = time.perf_counter()
                if first:
                    gate.leave(key)
                mine.append({"kind": kind, "key": key, "start": s, "end": e, "resp": resp})
        except BaseException as exc:  # surfaced after join
            errors.append(exc)
        with lock:
            samples.extend(mine)

    threads = [threading.Thread(target=client, args=(i,)) for i in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    elapsed = max(s["end"] for s in samples) - t0
    return samples, elapsed


def _race_probe(port: int, pipeline, expected: dict[int, int]) -> dict:
    """Simultaneous first requests for one key from every client, after
    an invalidate; counts wrong answers and repeated creates."""
    from data_pipeline_with_hdfs_sql_integration_spark.service import LenderHttpClient

    attempted = failed = redundant = 0
    for r in range(RACE_ROUNDS):
        pipeline.invalidate_cache()
        key = r * 5
        barrier = threading.Barrier(CLIENTS)
        out: list[dict] = []

        def hit() -> None:
            cl = LenderHttpClient(port, wire="proto", timeout_s=120.0)
            barrier.wait()
            out.append(cl.calc_avg_loan(key))

        threads = [threading.Thread(target=hit) for _ in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        attempted += len(out)
        failed += sum(1 for o in out if o.get("error") or o.get("avg_loan") != expected[key])
        redundant += max(0, sum(1 for o in out if o.get("source") == "create") - 1)
    return {"race.attempted": attempted, "race.failed_share": failed / max(1, attempted),
            "race.redundant_creates": redundant}


def _judge(samples: list[dict], expected: dict[int, int], blocks: dict) -> int:
    """Mark each sample ok/wrong; returns the number failed."""
    failed = 0
    for s in samples:
        r = s["resp"]
        if s["kind"] == "block":
            ok = not r.get("error") and r.get("block_entries") == blocks
        else:
            ok = (not r.get("error") and r.get("source") in ("create", "reuse", "recreate")
                  and r.get("avg_loan") == expected.get(s["key"]))
        s["ok"] = ok
        failed += not ok
    return failed


def _latencies(samples: list[dict], source: str) -> list[float]:
    return [(s["end"] - s["start"]) * 1000.0 for s in samples
            if s["ok"] and s["kind"] == "avg" and s["resp"].get("source") == source]


def run(run, t_excluded: float) -> dict:
    from pyspark.sql import functions as F

    data, t_gen = run.inputs(SCALE, TABLES)
    t_excluded += t_gen
    from data_pipeline_with_hdfs_sql_integration_spark import catalog, lender_pb
    from data_pipeline_with_hdfs_sql_integration_spark.api import Pipeline
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries
    from data_pipeline_with_hdfs_sql_integration_spark.service import LenderHttpService
    from data_pipeline_with_hdfs_sql_integration_spark.session import get_spark

    layer: dict[str, float] = {}
    t = time.perf_counter()
    sess = Session(get_spark("perfbench-serve"))
    spark = sess.spark
    layer["session.get_spark_s"] = time.perf_counter() - t
    t = time.perf_counter()
    all_queries()
    layer["registry.load_s"] = time.perf_counter() - t
    try:
        t = time.perf_counter()
        orders = catalog.load(spark, data, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        cust = catalog.load(spark, data, "customer").select("c_custkey", KEY_COL)
        pipeline = Pipeline(spark, str(run.scratch / "main"), str(run.scratch / "cache"),
                            KEY_COL, VALUE_COL)
        status = pipeline.db_to_store(
            orders, band_col=VALUE_COL, band=BAND, dim=cust,
            join_on=F.col("o_custkey") == F.col("c_custkey"), attempts=1)
        layer["api.db_to_store_s"] = time.perf_counter() - t
        service = LenderHttpService(pipeline)
        port = service.start()
        try:
            # Work-around: LenderHttpClient(wire="proto") imports
            # google.protobuf before the package's vendored shim, which
            # fails in a fresh process; resolving the shim first fixes it.
            if not lender_pb.protobuf_available():
                raise RuntimeError("no protobuf runtime for the proto wire")
            return _serve(run, sess, pipeline, port, status, layer, t_excluded)
        finally:
            service.stop()
    finally:
        sess.stop()


def _serve(run, sess, pipeline, port, status, layer, t_excluded) -> dict:
    from data_pipeline_with_hdfs_sql_integration_spark.service import LenderHttpClient

    from check import expected_averages

    # Warm-up: JIT and codegen of the create, reuse and block paths.
    warm = LenderHttpClient(port, wire="proto", timeout_s=120.0)
    for key in range(WARMUP_KEYS):
        warm.calc_avg_loan(key)
        warm.calc_avg_loan(key)
    warm.block_locations()
    pipeline.invalidate_cache()
    setup_s = process_age_s() - t_excluded

    tracer = None
    if run.trace:
        # Untraced, traced, untraced thirds (each after an invalidate):
        # the traced third's throughput against the mean of the other
        # two is the tracing overhead, with warm-up drift cancelled.
        third = run.seconds / 3
        plain, plain_s = _closed_loop(port, run.seed, third, salt=0)
        pipeline.invalidate_cache()
        tracer = _install_tracer(sess.spark, pipeline)
        samples, elapsed = _closed_loop(port, run.seed, third, salt=1)
        tracer.unpatch()
        pipeline.invalidate_cache()
        plain2, plain2_s = _closed_loop(port, run.seed, third, salt=2)
        plain, plain_s = plain + plain2, plain_s + plain2_s
    else:
        samples, elapsed = _closed_loop(port, run.seed, run.seconds, salt=0)
    rss = sess.jvm_hwm_mb() + self_hwm_mb()

    expected = expected_averages(pipeline.main_path, KEY_COL, VALUE_COL)
    blocks = pipeline.block_report()
    failed = _judge(samples, expected, blocks)
    reuse, create = _latencies(samples, "reuse"), _latencies(samples, "create")
    ops_per_s = len(samples) / elapsed
    print(f"serve_zipf: {status}; {len(samples)} ops in {elapsed:.2f}s, "
          f"{len(reuse)} reuse, {len(create)} create, {failed} failed", file=sys.stderr)
    result = {
        "correct": failed == 0 and len(expected) == N_KEYS,
        "attempted": len(samples),
        "failed": failed,
    }
    if tracer is None:
        result["metrics"] = {
            "setup_s": metric(setup_s, "s"),
            "ops_per_s": metric(ops_per_s, "1/s"),
            "warm_p50_ms": metric(quantile(reuse, 0.5), "ms"),
            "warm_p90_ms": metric(quantile(reuse, 0.9), "ms"),
            "cold_op_ms": metric(quantile(create, 0.5), "ms"),
        }
        return result
    plain_failed = _judge(plain, expected, blocks)
    result["attempted"] += len(plain)
    result["failed"] += plain_failed
    result["correct"] = result["correct"] and plain_failed == 0
    race = _race_probe(port, pipeline, expected)
    tracer.resolve_spark_counts()
    summary = _serve_summary(tracer, samples, layer, setup_s)
    summary.update(race, peak_rss_mb=rss)
    summary["tracing.overhead_pct"] = 100.0 * (len(plain) / plain_s / ops_per_s - 1.0)
    summary["ops_per_s.traced"] = ops_per_s
    tracer.dump(str(run.trace_path()), summary)
    result["metrics"] = {k: metric(summary[k], u) for k, u in PER_LAYER_UNITS.items()}
    return result


def _install_tracer(spark, pipeline):
    import os

    from data_pipeline_with_hdfs_sql_integration_spark import api, service
    from data_pipeline_with_hdfs_sql_integration_spark.operators import partition_cache

    from tracing import Tracer

    tracer = Tracer(spark.sparkContext)

    def cache_result(attrs, args, res) -> None:
        cache, key = args[0], args[1]
        attrs.update(key=key, source=res.source, error=res.error)
        if res.source == "create":
            path = cache.partition_path(key)
            attrs["bytes_written"] = sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(path) for f in fs)

    tracer.patch(service.LenderHttpService, "calc_avg_loan", "service.calc_avg_loan",
                 on_result=lambda a, args, r: a.update(key=args[1]))
    tracer.patch(api.Pipeline, "calc_avg", "api.calc_avg")
    tracer.patch(partition_cache.PartitionCache, "calc_avg", "partition_cache.calc_avg",
                 group=True, on_result=cache_result)
    tracer.patch(api.Pipeline, "block_report", "block_locations.block_report")
    return tracer


def _median(xs) -> float:
    return quantile(xs, 0.5) if xs else float("nan")


def _mean(xs) -> float:
    return float(np.mean(xs)) if xs else float("nan")


def _serve_summary(tracer, samples, layer, setup_s) -> dict:
    from tracing import ms

    caches = tracer.by_name("partition_cache.calc_avg")
    apis = tracer.by_name("api.calc_avg")
    handlers = tracer.by_name("service.calc_avg_loan")
    reuse = [c for c in caches if c["attrs"].get("source") == "reuse"]
    create = [c for c in caches if c["attrs"].get("source") == "create"]
    # api.open_cache: Pipeline.calc_avg minus the PartitionCache.calc_avg
    # it caused (the per-request spark.read.parquet(main)).
    child_ms = {c["parent"]: ms(c) for c in caches}
    open_cache = [ms(a) - child_ms[a["id"]] for a in apis if a["id"] in child_ms]
    # service.transport: client round trip minus the handler span it
    # caused, matched by key and containment.
    transport = []
    for s in samples:
        if s["kind"] != "avg":
            continue
        inside = [h for h in handlers if h["attrs"].get("key") == s["key"]
                  and s["start"] <= h["start"] and h["end"] <= s["end"]]
        if len(inside) == 1:
            transport.append((s["end"] - s["start"]) * 1000.0 - ms(inside[0]))
    created_keys: dict = {}
    for c in sorted(create, key=lambda c: c["start"]):
        created_keys[c["attrs"]["key"]] = created_keys.get(c["attrs"]["key"], 0) + 1
    blocks = tracer.by_name("block_locations.block_report")
    out = dict(layer)
    out["setup.rest_s"] = setup_s - layer["session.get_spark_s"] - layer["registry.load_s"]
    out.update({
        "op.build_ms": _median(open_cache),
        "op.exec_warm_ms": _median([ms(c) for c in reuse]),
        "op.exec_cold_ms": _median([ms(c) for c in create]),
        "spark.jobs_per_warm_op": _mean([c["jobs"] for c in reuse]),
        "spark.tasks_per_warm_op": _mean([c["tasks"] for c in reuse]),
        "spark.jobs_per_cold_op": _mean([c["jobs"] for c in create]),
        "spark.tasks_per_cold_op": _mean([c["tasks"] for c in create]),
        # Names of the layer metrics in the serve path's own terms.
        "service.transport_ms": _median(transport),
        "api.open_cache_ms": _median(open_cache),
        "partition_cache.reuse_ms": _median([ms(c) for c in reuse]),
        "partition_cache.create_ms": _median([ms(c) for c in create]),
        "partition_cache.hit_ratio": len(reuse) / max(1, len(caches)),
        "partition_cache.redundant_creates": sum(n - 1 for n in created_keys.values()),
        "partition_cache.bytes_written_per_create": _mean(
            [c["attrs"]["bytes_written"] for c in create]),
        "block_locations.ms": _median([ms(b) for b in blocks]),
    })
    return out

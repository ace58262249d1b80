"""Unit tests for the engine operators outside the oracle gate: the
partition-cache state machine, retry wrapper, block locations, and the
Pipeline facade (the reference's three verbs)."""

from __future__ import annotations

import glob
import os
import tempfile
import time

import pytest

from tests.conftest import SF_DIR


@pytest.fixture()
def cache(spark):
    from data_pipeline_with_hdfs_sql_integration_spark.plans.cache_queries import build_cache

    return build_cache(spark, SF_DIR, tempfile.mkdtemp(prefix="dps_test_cache_"))


def test_cache_create_then_reuse(cache):
    first = cache.calc_avg(5)
    second = cache.calc_avg(5)
    assert first.source == "create" and second.source == "reuse"
    assert first.avg == second.avg and first.error == "" == second.error


def test_cache_recreate_on_corruption(cache):
    first = cache.calc_avg(10)
    for f in glob.glob(cache.partition_path(10) + "/*.parquet"):
        with open(f, "wb") as fh:
            fh.write(b"garbage")
    third = cache.calc_avg(10)
    fourth = cache.calc_avg(10)
    assert third.source == "recreate" and fourth.source == "reuse"
    assert third.avg == first.avg == fourth.avg


def test_cache_concurrent_first_requests_create_once(cache):
    """Simultaneous first requests for one key: one create, the rest
    wait for it and reuse — never a read of the half-written partition."""
    import sys
    import threading
    from concurrent.futures import ThreadPoolExecutor

    barrier = threading.Barrier(6, timeout=60)

    def hit(_):
        barrier.wait()
        return cache.calc_avg(7)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=6) as pool:
            results = list(pool.map(hit, range(6), timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert [r.error for r in results] == [""] * 6
    assert len({r.avg for r in results}) == 1
    assert sorted(r.source for r in results) == ["create"] + ["reuse"] * 5


def test_cache_empty_key_is_error_not_null(cache):
    # Reference: int(NaN) raises -> error response (server.py:145-147).
    r = cache.calc_avg(424242)
    assert r.error != "" and r.avg == 0 and r.source == ""


def test_cache_invalidate(cache):
    cache.calc_avg(5)
    cache.invalidate()
    assert cache.calc_avg(5).source == "create"


def test_avg_truncates_toward_zero(cache):
    # int() truncation parity with reference server.py:109.
    res = cache.calc_avg(5)
    main = cache.main
    row = (
        main.filter(main[cache.key_col] == 5)
        .agg({cache.value_col: "avg"})
        .collect()[0][0]
    )
    assert res.avg == int(row)


def test_retry_succeeds_after_failures():
    from data_pipeline_with_hdfs_sql_integration_spark.operators.retry import with_retry

    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise OSError("transient")
        return "ok"

    t0 = time.monotonic()
    assert with_retry(flaky, attempts=5, sleep_s=0.01) == "ok"
    assert calls["n"] == 3 and time.monotonic() - t0 < 5


def test_retry_exhausts_and_raises():
    from data_pipeline_with_hdfs_sql_integration_spark.operators.retry import with_retry

    with pytest.raises(ValueError):
        with_retry(lambda: (_ for _ in ()).throw(ValueError("boom")), attempts=2, sleep_s=0.0)


def test_block_locations_local_fs(spark):
    from data_pipeline_with_hdfs_sql_integration_spark.operators.block_locations import (
        block_histogram_dict,
        block_locations,
    )

    blocks = block_locations(spark, f"{SF_DIR}/lineitem.parquet")
    assert blocks and all(b["length"] > 0 for b in blocks)
    hist = block_histogram_dict(spark, f"{SF_DIR}/lineitem.parquet")
    assert sum(hist.values()) == len(blocks)


def test_host_counts_one_per_replica_host():
    from data_pipeline_with_hdfs_sql_integration_spark.operators.block_locations import (
        host_counts,
    )

    assert host_counts([{"hosts": ["a", "b"]}, {"hosts": ["a"]}]) == {"a": 2, "b": 1}
    assert host_counts([]) == {}


def test_block_histogram_starts_no_spark_job(spark):
    from data_pipeline_with_hdfs_sql_integration_spark.operators.block_locations import (
        block_histogram_dict,
    )

    from tests.test_catalog import _jobs_started

    hist, jobs = _jobs_started(
        spark, lambda: block_histogram_dict(spark, f"{SF_DIR}/lineitem.parquet")
    )
    assert hist and jobs == 0


def test_o13_rows_equal_histogram_dict(spark):
    from data_pipeline_with_hdfs_sql_integration_spark.operators.block_locations import (
        block_histogram_dict,
    )
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    df = all_queries()["o13_block_locations"].fn(spark, SF_DIR)
    assert df.schema.simpleString() == "struct<host:string,n_blocks:bigint>"
    rows = {r["host"]: r["n_blocks"] for r in df.collect()}
    assert rows == block_histogram_dict(spark, f"{SF_DIR}/lineitem.parquet")


def test_invalidate_before_first_store_does_not_read_main(spark, tmp_path):
    from data_pipeline_with_hdfs_sql_integration_spark.api import Pipeline

    pipe = Pipeline(spark, str(tmp_path / "main"), str(tmp_path / "cache"), "k", "v")
    pipe.invalidate_cache()  # no main yet
    pipe.db_to_store(
        spark.createDataFrame([(1, 10), (1, 21), (2, 5)], "k int, v long"),
        attempts=1, sleep_s=0.0,
    )
    first, second = pipe.calc_avg(1), pipe.calc_avg(1)
    assert (first.avg, first.source) == (15, "create")
    assert (second.avg, second.source) == (15, "reuse")


def test_pipeline_facade_end_to_end(spark):
    from pyspark.sql import functions as F

    from data_pipeline_with_hdfs_sql_integration_spark.api import Pipeline
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import load

    root = tempfile.mkdtemp(prefix="dps_pipe_")
    pipe = Pipeline(
        spark=spark,
        main_path=os.path.join(root, "main.parquet"),
        cache_root=os.path.join(root, "partitions"),
        key_col="c_nationkey",
        value_col="o_totalprice",
    )
    orders = load(spark, SF_DIR, "orders")
    cust = load(spark, SF_DIR, "customer").select("c_custkey", "c_nationkey")
    status = pipe.db_to_store(
        orders,
        band_col="o_totalprice",
        band=(1000.0, 400000.0),
        dim=cust,
        join_on=orders.o_custkey == cust.c_custkey,
        attempts=1,
        sleep_s=0.0,
    )
    assert status.startswith("Imported ") and "rows" in status
    res = pipe.calc_avg(5)
    assert res.source == "create" and res.avg > 0
    assert pipe.calc_avg(5).source == "reuse"
    hist = pipe.block_report()
    assert sum(hist.values()) >= 1


def _stored_pipeline(spark, tmp_path):
    """A Pipeline over a stored main with a column beside key and value."""
    from data_pipeline_with_hdfs_sql_integration_spark.api import Pipeline

    pipe = Pipeline(spark, str(tmp_path / "main"), str(tmp_path / "cache"), "k", "v")
    pipe.db_to_store(
        spark.createDataFrame([(1, 10, "a"), (1, 21, "b"), (2, 5, "c")], "k int, v long, tag string"),
        attempts=1, sleep_s=0.0,
    )
    return pipe


def test_pipeline_reuse_reads_only_the_partition(spark, tmp_path, monkeypatch):
    """On local paths a create publishes its partition whole and a reuse
    opens no Spark relation and starts no Spark job. On the Spark engine
    (any other scheme) a reuse opens one relation, the partition; main
    is opened only to create."""
    from tests.test_catalog import _jobs_started, _parquet_opens

    pipe = _stored_pipeline(spark, tmp_path)
    paths = _parquet_opens(monkeypatch)
    created, create_jobs = _jobs_started(spark, lambda: pipe.calc_avg(1))
    assert (created.avg, created.source, create_jobs) == (15, "create", 0)
    assert glob.glob(str(tmp_path / "cache" / "*.build-*")) == []
    assert os.path.exists(tmp_path / "cache" / "k=1" / "_SUCCESS")
    res, jobs = _jobs_started(spark, lambda: pipe.calc_avg(1))
    assert (res.avg, res.source) == (15, "reuse")
    assert paths == [] and jobs == 0

    monkeypatch.setattr(pipe.cache, "_local", False)
    pipe.invalidate_cache()
    assert pipe.calc_avg(1).source == "create"
    paths.clear()
    res = pipe.calc_avg(1)
    assert (res.avg, res.source) == (15, "reuse")
    assert paths == [str(tmp_path / "cache" / "k=1")]


def test_pipeline_partition_stores_only_the_value_column(spark, tmp_path):
    import pyarrow.parquet as pq

    pipe = _stored_pipeline(spark, tmp_path)
    assert pipe.calc_avg(1).source == "create"
    files = glob.glob(str(tmp_path / "cache" / "k=1" / "*.parquet"))
    assert files
    assert {tuple(pq.read_schema(f).names) for f in files} == {("v",)}


def test_exists_probe_racing_a_deletion_still_creates(spark, tmp_path, monkeypatch):
    """The partition vanishes between the exists probe and the read:
    the read's path-missing error maps to create, not recreate."""
    from data_pipeline_with_hdfs_sql_integration_spark.operators.partition_cache import (
        PartitionCache,
    )

    pipe = _stored_pipeline(spark, tmp_path)
    monkeypatch.setattr(PartitionCache, "_exists", lambda self, path: True)
    res = pipe.calc_avg(2)
    assert (res.avg, res.source, res.error) == (5, "create", "")


def _generated_main(spark, path, vtype, layout):
    """A main of (k int, v vtype) over 8 keys written by Spark, flat or
    Hive-partitioned by k. Key 6 is 14.99, 15.00, 15.00 (x100 for the
    integral types) and key 7 averages -1.5 in every type."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(7)
    integral = vtype in ("int", "bigint")
    cents = {k: [rng.randint(-100000, 100000) for _ in range(rng.randint(1, 40))] for k in range(6)}
    cents.update({6: [1499, 1500, 1500], 7: [-1, -2] if integral else [-100, -200]})
    rows = [(k, str(c) if integral else f"{c / 100:.2f}") for k, cs in cents.items() for c in cs]
    df = spark.createDataFrame(rows, "k int, v string").select("k", F.col("v").cast(vtype).alias("v"))
    writer = df.write.partitionBy("k") if layout == "hive" else df.write
    writer.parquet(path)
    return sorted(cents)


@pytest.mark.parametrize("layout", ["flat", "hive"])
@pytest.mark.parametrize("vtype", ["int", "bigint", "double", "decimal(10,2)"])
def test_arrow_engine_matches_spark_avg_on_every_key(spark, tmp_path, vtype, layout, monkeypatch):
    """The local (Arrow) engine answers Spark's avg, truncated, on every
    key: on create, reuse and recreate of a garbage partition file, and
    on reuse of a Spark-written partition (two part files, `_SUCCESS`,
    `.crc` siblings). A partition with no data file recreates, and one
    deleted after the exists probe creates. An empty key is an in-band
    error that publishes nothing."""
    import shutil

    from pyspark.sql import functions as F

    from data_pipeline_with_hdfs_sql_integration_spark.operators.partition_cache import (
        PartitionCache,
    )

    keys = _generated_main(spark, str(tmp_path / "main"), vtype, layout)
    cache = PartitionCache(spark, str(tmp_path / "main"), "k", "v", str(tmp_path / "cache"))

    def spark_avg(k):
        subset = cache.main.filter(F.col("k") == k).select("v")
        return cache._observed_avg(subset, lambda df: df.write.format("noop").mode("overwrite").save())

    want = {k: spark_avg(k) for k in keys}
    assert None not in want.values()
    if vtype == "decimal(10,2)":
        assert want[6] == 14  # Arrow's pc.mean would give 15.00, so 15
    assert want[7] == -1
    for k in keys:
        assert [(r.avg, r.source) for r in (cache.calc_avg(k), cache.calc_avg(k))] == [
            (want[k], "create"), (want[k], "reuse")]
    for f in glob.glob(cache.partition_path(6) + "/*.parquet"):
        with open(f, "wb") as fh:
            fh.write(b"garbage")
    assert [(r.avg, r.source) for r in (cache.calc_avg(6), cache.calc_avg(6))] == [
        (want[6], "recreate"), (want[6], "reuse")]
    cache.main.filter(F.col("k") == 6).select("v").repartition(2).write.mode("overwrite").parquet(
        cache.partition_path(6))
    names = os.listdir(cache.partition_path(6))
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    assert len(glob.glob(cache.partition_path(6) + "/*.parquet")) == 2
    res = cache.calc_avg(6)
    assert (res.avg, res.source) == (want[6], "reuse")
    for f in glob.glob(cache.partition_path(7) + "/*.parquet"):
        os.remove(f)
    assert [(r.avg, r.source) for r in (cache.calc_avg(7), cache.calc_avg(7))] == [
        (want[7], "recreate"), (want[7], "reuse")]
    shutil.rmtree(cache.partition_path(5))
    with monkeypatch.context() as m:
        m.setattr(PartitionCache, "_exists", lambda self, path: True)
        res = cache.calc_avg(5)
    assert (res.avg, res.source) == (want[5], "create")
    assert spark_avg(99) is None
    empty = cache.calc_avg(99)
    assert (empty.avg, empty.source) == (0, "") and empty.error
    assert not os.path.exists(cache.partition_path(99))


def test_calc_avg_many_matches_sequential_and_fault_paths(spark, tmp_path):
    """calc_avg_many = N independent calc_avg state machines, 3 in
    flight: same sources, same averages, input order preserved —
    including the recreate-on-corruption and empty-key fault paths."""
    import glob

    from data_pipeline_with_hdfs_sql_integration_spark.plans.cache_queries import (
        CACHE_KEYS,
        build_cache,
    )

    cache = build_cache(spark, SF_DIR, str(tmp_path / "cache"))
    keys = list(CACHE_KEYS) + [9999]  # last key has no rows
    first = cache.calc_avg_many(keys)
    assert [r.key for r in first] == keys
    assert [r.source for r in first] == ["create"] * len(CACHE_KEYS) + [""]
    assert first[-1].avg == 0 and first[-1].error
    second = cache.calc_avg_many(keys)
    assert [r.source for r in second] == ["reuse"] * len(CACHE_KEYS) + [""]
    assert [r.avg for r in second] == [r.avg for r in first]
    # sequential reference
    seq = [cache.calc_avg(k) for k in keys]
    assert [r.avg for r in seq] == [r.avg for r in first]
    # corrupt one key's partition: that key recreates, others reuse
    bad = CACHE_KEYS[1]
    for p in glob.glob(cache.partition_path(bad) + "/*.parquet"):
        with open(p, "wb") as fh:
            fh.write(b"garbage")
    third = cache.calc_avg_many(keys)
    want = ["reuse", "recreate"] + ["reuse"] * (len(CACHE_KEYS) - 2) + [""]
    assert [r.source for r in third] == want
    assert [r.avg for r in third] == [r.avg for r in first]


def test_salted_join_equals_plain_join(spark):
    from pyspark.sql import functions as F

    from data_pipeline_with_hdfs_sql_integration_spark.catalog import load
    from data_pipeline_with_hdfs_sql_integration_spark.operators.skew import salted_join

    orders = load(spark, SF_DIR, "orders").withColumnRenamed("o_custkey", "c_custkey")
    cust = load(spark, SF_DIR, "customer")
    plain = orders.join(cust, "c_custkey", "inner").select("o_orderkey", "c_nationkey")
    salted = salted_join(orders, cust, "c_custkey", n_salts=8).select("o_orderkey", "c_nationkey")
    assert plain.count() == salted.count()
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_salted_group_count_equals_plain(spark):
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import load
    from data_pipeline_with_hdfs_sql_integration_spark.operators.skew import salted_group_count

    cust = load(spark, SF_DIR, "customer")
    plain = {r["c_nationkey"]: r["count"] for r in cust.groupBy("c_nationkey").count().collect()}
    salted = {r["c_nationkey"]: r["n"] for r in salted_group_count(cust, "c_nationkey").collect()}
    assert plain == salted


def test_approx_distinct_within_error_bound(spark):
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import load
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    import pyspark.sql.functions as F

    rows = all_queries()["agg_approx_distinct"].fn(spark, SF_DIR).collect()
    truth = {
        r["o_orderstatus"]: r["n"]
        for r in load(spark, SF_DIR, "orders")
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert rows and len(rows) == len(truth)
    for r in rows:
        assert r["exact_customers"] == truth[r["o_orderstatus"]]
        assert r["hll_within_5pct"] is True, r


class _RecordingFS:
    """Hadoop FileSystem proxy that records setReplication calls."""

    def __init__(self, fs, calls):
        self._fs, self._calls = fs, calls

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def setReplication(self, path, n):
        self._calls[path.toUri().getPath()] = n
        return self._fs.setReplication(path, n)


def _data_files(root):
    return {os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs if not f.startswith(".")}


def test_replication_reaches_every_main_and_partition_file(spark, tmp_path, monkeypatch):
    """db_to_store stores main at main_replication (reference 2x,
    server.py:49) and each create sets cache_replication on the files
    nested under key=*/, not only on the layout root."""
    from data_pipeline_with_hdfs_sql_integration_spark.api import Pipeline
    from data_pipeline_with_hdfs_sql_integration_spark.operators import block_locations

    calls = {}
    real = block_locations.hadoop_fs

    def recording(s, path):
        fs, hpath = real(s, path)
        return _RecordingFS(fs, calls), hpath

    monkeypatch.setattr(block_locations, "hadoop_fs", recording)
    pipe = Pipeline(
        spark, str(tmp_path / "main"), str(tmp_path / "cache"), "k", "v", cache_replication=3
    )
    pipe.db_to_store(
        spark.createDataFrame([(1, 10), (2, 5), (2, 7)], "k int, v long"),
        attempts=1, sleep_s=0.0,
    )
    main_files = _data_files(tmp_path / "main")
    assert main_files and calls == dict.fromkeys(main_files, 2)
    calls.clear()
    assert [pipe.calc_avg(k).source for k in (1, 2)] == ["create", "create"]
    cache_files = _data_files(tmp_path / "cache")
    assert any(f"{os.sep}k=" in f for f in cache_files)
    assert calls == dict.fromkeys(cache_files, 3)


def _final_epoch(spark, out_root):
    """The latest epoch dir a complete-mode epoch write left: the whole
    result."""
    epochs = [int(d.split("=")[1]) for d in os.listdir(out_root) if d.startswith("epoch=")]
    return spark.read.parquet(f"{out_root}/epoch={max(epochs)}")


def test_connected_components_known_graph(spark):
    from data_pipeline_with_hdfs_sql_integration_spark.plans.clustering import connected_components

    # Components: {1,2,3,4} (chain), {10,11}, {20} absent (no edges -> not a node)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "a long, b long"
    )
    got = {
        (r["node"], r["cluster_id"])
        for r in connected_components(pairs, "a", "b").collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_streaming_checkpoint_resume_is_idempotent(spark):
    """Re-running a checkpointed availableNow query over an unchanged
    source must not duplicate or alter results (exactly-once resume).
    Each epoch overwrites its own directory, so a replayed epoch is
    idempotent too; the last epoch holds the whole batch result."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from data_pipeline_with_hdfs_sql_integration_spark.catalog import load
    from data_pipeline_with_hdfs_sql_integration_spark.streaming.windows import events_stream

    root = tempfile.mkdtemp(prefix="dps_resume_")

    def write_epoch(batch_df, epoch_id):
        batch_df.write.mode("overwrite").parquet(f"{root}/out/epoch={epoch_id}")

    def run():
        agg = events_stream(spark, SF_DIR).groupBy("event_type").agg(F.count("*").alias("n"))
        (
            agg.writeStream.outputMode("complete")
            .foreachBatch(write_epoch)
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run()
    first = {r["event_type"]: r["n"] for r in _final_epoch(spark, f"{root}/out").collect()}
    epochs_before = sorted(os.listdir(f"{root}/out"))
    events = load(spark, SF_DIR, "events").groupBy("event_type").agg(F.count("*").alias("n"))
    assert first == {r["event_type"]: r["n"] for r in events.collect()}

    # Same checkpoint, same (exhausted) source: a resumed run must be a no-op.
    run()
    second = {r["event_type"]: r["n"] for r in _final_epoch(spark, f"{root}/out").collect()}
    assert first == second
    assert sorted(os.listdir(f"{root}/out")) == epochs_before


def test_zorder_colocates_2d_neighbours(spark):
    """Rows near in (x, y) must land near in z; a z-range window around
    a point must cover its 2D neighbourhood (the pruning property)."""
    from pyspark.sql import functions as F

    from data_pipeline_with_hdfs_sql_integration_spark.operators.zorder import zorder2

    df = spark.range(0, 64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    rows = {(r["x"], r["y"]): r["z"] for r in df.withColumn("z", zorder2(F.col("x"), F.col("y"))).collect()}
    # Python reference for a few points.
    def morton(x, y):
        z = 0
        for j in range(16):
            z += ((x >> j) & 1) << (2 * j)
            z += ((y >> j) & 1) << (2 * j + 1)
        return z
    for p in [(0, 0), (1, 0), (0, 1), (63, 63), (17, 42)]:
        assert rows[p] == morton(*p), p
    # Locality: a 4x4 tile occupies exactly 16 consecutive codes.
    tile = sorted(rows[(x, y)] for x in range(8, 12) for y in range(24, 28))
    assert tile == list(range(tile[0], tile[0] + 16))


def test_ignore_corrupt_files_resilience(spark):
    """A torn/corrupt parquet part must be skippable without failing the
    whole scan (the storage-fault analog of the cache recreate path)."""
    import glob
    import tempfile

    import pytest
    from py4j.protocol import Py4JJavaError

    path = tempfile.mkdtemp(prefix="dps_corrupt_")
    source = spark.range(0, 1000).repartition(4)
    source.write.mode("overwrite").parquet(path)
    schema = source.schema
    victim = sorted(glob.glob(f"{path}/part-*.parquet"))[0]
    with open(victim, "wb") as f:
        f.write(b"not a parquet file")

    with pytest.raises(Exception):
        spark.read.schema(schema).parquet(path).count()  # default: fatal

    # Schema pinned (inference would read the corrupt footer before the
    # option applies); the scan then skips the torn part.
    n = (
        spark.read.schema(schema)
        .option("ignoreCorruptFiles", "true")
        .parquet(path)
        .count()
    )
    assert 0 < n < 1000 and n % 250 == 0  # lost exactly the victim's rows


def test_exact_duplicates_are_found_by_minhash(spark, tmp_path):
    """Cross-operator invariant: byte-identical documents MUST surface
    as MinHash-LSH pairs with est_jaccard = 1.0 (identical text ⇒
    identical signatures ⇒ same buckets), and unrelated documents must
    not pair. Runs on a crafted corpus staged as a documents table."""
    from pyspark.sql import Row

    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    texts = {
        0: "the quick brown fox jumps over the lazy dog",
        1: "the quick brown fox jumps over the lazy dog",   # dup of 0
        2: "completely unrelated text about spark shuffles and parquet",
        3: "completely unrelated text about spark shuffles and parquet",  # dup of 2
        4: "a third different document mentioning watermarks and joins",
    }
    rows = [
        Row(doc_id=i, text=t, lang="en", source="unit", n_chars=len(t))
        for i, t in texts.items()
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(rows).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    pairs = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in all_queries()["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    }
    assert pairs.get((0, 1)) == 1.0
    assert pairs.get((2, 3)) == 1.0
    for bad in [(0, 2), (0, 4), (2, 4), (1, 3)]:
        assert bad not in pairs

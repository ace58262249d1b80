"""Unit tests for round-4 helpers: dtype-adaptive events loading,
scale-aware embedding-LSH banding, the signature-hamming gate, and the
listing-based scan-split estimate."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from data_pipeline_with_hdfs_sql_integration_spark.catalog import (
    _conf_bytes,
    _estimated_scan_splits,
    normalize_events_ts,
    table_path,
)
from data_pipeline_with_hdfs_sql_integration_spark.plans.dedup import (
    EMB_LSH_MAX_BITS,
    EMB_LSH_MIN_BITS,
    EMB_LSH_TARGET_BUCKET,
    _emb_lsh_ham_max,
    emb_lsh_band_bits,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


# --------------------------------------------------- normalize_events_ts
def test_normalize_long_ts_exact_nanos(spark):
    # 2021-03-02T12:34:56.789123456Z as epoch nanos: micros survive,
    # sub-micro truncates (exact integer division, no double rounding).
    nanos = 1614688496_789123456
    df = spark.createDataFrame([(nanos,)], "ts long")
    out = normalize_events_ts(df)
    assert isinstance(out.schema["ts"].dataType, TimestampType)
    got = out.select(F.unix_micros("ts").alias("us")).collect()[0].us
    assert got == nanos // 1000


def test_normalize_ntz_ts_is_utc_value_preserving(spark):
    df = spark.createDataFrame([("2021-03-02 12:34:56.789123",)], "s string").select(
        F.to_timestamp_ntz("s").alias("ts")
    )
    out = normalize_events_ts(df)
    assert isinstance(out.schema["ts"].dataType, TimestampType)
    got = out.select(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("f")).collect()[0].f
    assert got == "2021-03-02 12:34:56.789123"


def test_normalize_timestamp_passthrough(spark):
    df = spark.createDataFrame([("2021-03-02 12:34:56",)], "s string").select(
        F.to_timestamp("s").alias("ts")
    )
    assert normalize_events_ts(df) is df


# --------------------------------------------------- emb_lsh_band_bits
def test_band_bits_rule():
    T = EMB_LSH_TARGET_BUCKET
    assert emb_lsh_band_bits(1) == EMB_LSH_MIN_BITS
    assert emb_lsh_band_bits(T * 16) == EMB_LSH_MIN_BITS  # ceil-log2(16)=4
    assert emb_lsh_band_bits(T * 16 + 1) == 5  # first count past the 2^4 boundary
    assert emb_lsh_band_bits(2000) == 6  # the sf0.1 corpus
    assert emb_lsh_band_bits(10**12) == EMB_LSH_MAX_BITS  # clamped at scale


def test_band_bits_monotone_nondecreasing():
    prev = 0
    for n in [1, 10, 100, 500, 2000, 10_000, 10**5, 10**6, 10**7, 10**9]:
        w = emb_lsh_band_bits(n)
        assert w >= prev, n
        prev = w


def test_band_bits_holds_bucket_population_bounded():
    """The whole point of the rule: expected vectors per bucket
    (N / 2^w) stays within ~2x of the target until the clamp."""
    for n in [64, 1000, 50_000, 10**6, 10**7]:
        w = emb_lsh_band_bits(n)
        if w < EMB_LSH_MAX_BITS:
            assert n / (1 << w) <= 2 * EMB_LSH_TARGET_BUCKET, n


def test_ham_max_between_threshold_mean_and_random_mean():
    from data_pipeline_with_hdfs_sql_integration_spark.plans import similarity as sim

    h = _emb_lsh_ham_max()
    # Above the at-threshold expectation, below the uncorrelated mean
    # (P/2) — otherwise the gate would cut true pairs or nothing.
    assert 46 <= h < sim.LSH_PLANES // 2
    assert h == 56  # pinned: the oracle SQL embeds this literal


# --------------------------------------------------- scan-split estimate
def test_conf_bytes_parses_forms(spark):
    spark.conf.set("x.test.bytes", "134217728b")
    assert _conf_bytes(spark, "x.test.bytes", 0) == 128 << 20
    spark.conf.set("x.test.bytes", "128MB")
    assert _conf_bytes(spark, "x.test.bytes", 0) == 128 << 20
    spark.conf.set("x.test.bytes", "1g")
    assert _conf_bytes(spark, "x.test.bytes", 0) == 1 << 30
    assert _conf_bytes(spark, "x.test.nonexistent", 42) == 42


def test_estimated_splits_matches_spark_small_file(spark):
    # One small file = one split, and Spark agrees.
    path = table_path(SF_DIR, "nation")
    est = _estimated_scan_splits(spark, path)
    actual = spark.read.parquet(path).rdd.getNumPartitions()
    assert est == actual == 1


def test_estimated_splits_scales_with_bytes(spark, tmp_path):
    # Force 1 MiB splits over a multi-MiB multi-file dir: the estimate
    # must exceed the single-file count and never undercount Spark's
    # packing by more than the open-cost surcharge allows.
    out = str(tmp_path / "many")
    spark.read.parquet(table_path(SF_DIR, "lineitem")).repartition(4).write.parquet(out)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 20))
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        est = _estimated_scan_splits(spark, out)
        actual = spark.read.parquet(out).rdd.getNumPartitions()
        assert est >= 1 and actual >= 1
        # same order of magnitude: the estimate exists to answer
        # "are there at least `parallelism` splits", not to be exact.
        assert abs(est - actual) <= max(4, actual)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        spark.conf.set("spark.sql.files.openCostInBytes", str(4 << 20))


def test_estimated_splits_nonlocal_sentinel(spark):
    assert _estimated_scan_splits(spark, "hdfs://nowhere/x.parquet") == -1


# --------------------------------------------------- publish_store
def test_publish_store_builds_once_and_survives_races(tmp_path):
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import publish_store

    store = str(tmp_path / "store")
    calls = []

    def build(staging):
        calls.append(staging)
        os.makedirs(staging)
        open(os.path.join(staging, "part-0"), "w").write("data")
        open(os.path.join(staging, "_SUCCESS"), "w").close()

    publish_store(store, build)
    assert os.path.exists(os.path.join(store, "_SUCCESS")) and len(calls) == 1
    # Second call: already published — builder not invoked.
    publish_store(store, build)
    assert len(calls) == 1
    # Losing a race: store appears between build and rename — the
    # staging copy is discarded, the published store is untouched.
    marker = os.path.join(store, "part-0")
    before = open(marker).read()

    def racing_build(staging):
        calls.append(staging)
        os.makedirs(staging)
        open(os.path.join(staging, "part-0"), "w").write("other")
        open(os.path.join(staging, "_SUCCESS"), "w").close()

    # Simulate a partial (crashed) store: no _SUCCESS → rebuilt.
    os.remove(os.path.join(store, "_SUCCESS"))
    publish_store(store, racing_build)
    assert os.path.exists(os.path.join(store, "_SUCCESS"))
    assert open(marker).read() == "other"  # partial store was replaced
    assert sorted(os.listdir(tmp_path)) == ["store"]  # no build dir leaked
    assert before == "data"

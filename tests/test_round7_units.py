"""Round-7 unit pins: ADVICE fixes + new scale-path siblings."""

import json
import os

import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------------------ txlog
def test_txlog_replays_past_eight_digit_versions(spark, tmp_path):
    """The commit-name filter must accept 9+ digit versions (the writer
    formats {version:08d}, which widens at 10^8) and order them
    NUMERICALLY — lexicographic order would put 100000000 before
    99999999 and cap latest_version forever."""
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import TxTable

    t = TxTable(str(tmp_path / "tbl"))
    t.append(spark.range(2).withColumnRenamed("id", "n"))
    # Simulate a table that crossed the 10^8-version boundary: hand-place
    # an 8-digit and a 9-digit commit with the same shape as real ones.
    base = json.load(open(os.path.join(t.log_dir, "00000000.json")))
    for v in (99999999, 100000000):
        with open(os.path.join(t.log_dir, f"{v:08d}.json"), "w") as f:
            json.dump(base, f)
    assert t.latest_version() == 100000000
    names = t._commits()
    assert names[-1] == "100000000.json" and names[-2] == "99999999.json"
    # And the next append lands AFTER the 9-digit version.
    v = t.append(spark.range(1).withColumnRenamed("id", "n"))
    assert v == 100000001


# ------------------------------------------------- sketch KS / MWU bounds
def test_ks_sketch_within_one_bin_of_exact(spark):
    """Contract: the binned sup is a maximum over a SUBSET (bin
    boundaries) of the exact sup's candidate points, so d_sketch <=
    d_exact; and any interior point's CDF gap exceeds the nearest
    boundary's by at most one bin's cross-multiplied mass, so the
    deficit is bounded by max_bin(c1*n2 + c2*n1). Both sides come from
    the REGISTERED queries, not a Python re-implementation."""
    from data_pipeline_with_hdfs_sql_integration_spark.plans.profiling import (
        KS_BIN_C,
        KS_NBINS,
    )
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    from tests.conftest import SF_DIR

    qs = all_queries()
    ex = qs["stats_ks_two_sample"].fn(spark, SF_DIR).collect()[0]
    sk = qs["stats_ks_sketch"].fn(spark, SF_DIR).collect()[0]
    assert (sk["n1"], sk["n2"]) == (ex["n1"], ex["n2"])
    assert sk["d_num"] <= ex["d_num"]
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").filter(
        F.col("event_type").isin("view", "click")
    )
    per_b = (
        ev.select(
            F.least(
                F.expr(f"CAST(round(value * 100) AS BIGINT) div {KS_BIN_C}"),
                F.lit(KS_NBINS - 1),
            ).alias("bin"),
            F.when(F.col("event_type") == "view", 1).otherwise(0).alias("is_a"),
        )
        .groupBy("bin")
        .agg(F.sum("is_a").alias("c1"), F.sum(1 - F.col("is_a")).alias("c2"))
    )
    bound = per_b.select(
        F.max(F.col("c1") * ex["n2"] + F.col("c2") * ex["n1"]).alias("m")
    ).collect()[0]["m"]
    assert ex["d_num"] - sk["d_num"] <= bound


def test_mwu_sketch_within_tie_mass_of_exact(spark):
    """Contract: pairs in different bins contribute identically; a
    same-bin cross-sample pair's doubled contribution moves by at most
    1 when collapsed to a bin-tie, so |u1_x2 diff| <= sum_b c1_b*c2_b.
    The self-check u1+u2 = 2*n1*n2 must hold exactly."""
    from data_pipeline_with_hdfs_sql_integration_spark.plans.profiling import (
        KS_BIN_C,
        KS_NBINS,
    )
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    from tests.conftest import SF_DIR

    qs = all_queries()
    ex = qs["stats_mann_whitney_u"].fn(spark, SF_DIR).collect()[0]
    sk = qs["stats_mwu_sketch"].fn(spark, SF_DIR).collect()[0]
    assert sk["u1_x2"] + sk["u2_x2"] == 2 * sk["n1"] * sk["n2"]
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").filter(
        F.col("event_type").isin("view", "click")
    )
    tie_mass = (
        ev.select(
            F.least(
                F.expr(f"CAST(round(value * 100) AS BIGINT) div {KS_BIN_C}"),
                F.lit(KS_NBINS - 1),
            ).alias("bin"),
            F.when(F.col("event_type") == "view", 1).otherwise(0).alias("is_a"),
        )
        .groupBy("bin")
        .agg(F.sum("is_a").alias("c1"), F.sum(1 - F.col("is_a")).alias("c2"))
        .select(F.sum(F.col("c1") * F.col("c2")).alias("t"))
        .collect()[0]["t"]
    )
    assert abs(sk["u1_x2"] - ex["u1_x2"]) <= tie_mass


# ------------------------------------------------ transformWithState port
def test_tws_and_apply_in_pandas_state_agree(spark):
    """The two custom-stateful-operator APIs (applyInPandasWithState and
    Spark 4's transformWithStateInPandas) must produce identical final
    per-user totals on the bounded replay — same semantics, different
    state plumbing (GroupState vs StatefulProcessor value handles on
    RocksDB column families)."""
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    qs = all_queries()
    sf = "/root/testdata/sf0.001"
    old = sorted(
        tuple(r) for r in qs["stream_stateful_user_totals"].fn(spark, sf).collect()
    )
    new = sorted(
        tuple(r)
        for r in qs["stream_stateful_user_totals_tws"].fn(spark, sf).collect()
    )
    assert old == new
    assert len(new) > 0

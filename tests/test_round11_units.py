"""Round-11 unit pins.

1. TxTable.column_range: metadata-only column spans from the commit
   log's per-file stats (the scan-free replacement for the full-table
   min/max aggregate format_txlog_zorder ran inside its timed query —
   round-10 ADVICE), including the None fallbacks a caller must treat
   as "go scan".
"""
from __future__ import annotations

from tests.conftest import SF_DIR


def _mk_table(tmp_path, spark, rows, schema="k long, v string"):
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import TxTable

    t = TxTable(str(tmp_path / "tbl"))
    t.append(spark.createDataFrame(rows, schema))
    return t


def test_column_range_unions_per_file_stats(spark, tmp_path):
    t = _mk_table(tmp_path, spark, [(3, "a"), (7, "b")])
    t.append(spark.createDataFrame([(1, "c"), (9, "d")], "k long, v string"))
    assert t.column_range("k") == (1, 9)
    # Version pinning: v0 saw only the first file's span.
    assert t.column_range("k", version=0) == (3, 7)


def test_column_range_none_when_stats_unusable(spark, tmp_path):
    t = _mk_table(tmp_path, spark, [(3, "a")])
    # Unknown column: no live file carries stats for it -> None, the
    # caller must scan (a partial union would be a WRONG range).
    assert t.column_range("nope") is None
    # All-null column: footer min/max are absent/meaningless.
    tn = _mk_table(
        tmp_path / "n", spark,
        [(1, None)], "k long, ts timestamp",
    )
    assert tn.column_range("ts") is None


def test_column_range_ignores_empty_files(spark, tmp_path):
    t = _mk_table(tmp_path, spark, [(5, "a")])
    t.append(
        spark.createDataFrame([], "k long, v string")
    )
    assert t.column_range("k") == (5, 5)


def test_salted_cell_pair_join_equals_plain_on_skew(spark):
    """With test SFs now gating salting OFF (max fine-cell occupancy
    124/226 << SALT_CAP), the salted path must stay pinned by a
    fixture that actually trips it: one fine cell above SALT_CAP gets
    replicated/split, and the pair multiset must equal the plain
    fine-cell equi-join's exactly (every pair meets exactly once)."""
    from pyspark.sql import functions as F

    from data_pipeline_with_hdfs_sql_integration_spark.plans.dedup import (
        SALT_CAP,
        _salted_cell_pair_join,
    )

    n_hot = SALT_CAP + 300  # _nsalt = 2 for the hot cell
    rows = [(i, 1, 1) for i in range(n_hot)] + [(10_000 + i, 2, 1) for i in range(7)]
    df = spark.createDataFrame(rows, "vec_id long, cell_id int, sub_id int")
    a = df.select("cell_id", "sub_id", F.col("vec_id").alias("id_a"))
    b = df.select("cell_id", "sub_id", F.col("vec_id").alias("id_b"))
    plain = a.join(b, ["cell_id", "sub_id"]).select("id_a", "id_b")
    salted = _salted_cell_pair_join(a, b, "id_a", occ_rows=df).select("id_a", "id_b")
    assert salted.count() == plain.count() == n_hot * n_hot + 49
    assert salted.exceptAll(plain).isEmpty()
    assert plain.exceptAll(salted).isEmpty()


def test_ivf2_max_occupancy_gate(spark, tmp_path, monkeypatch):
    """The build-time skew statistic gates salting: test SFs sit far
    below SALT_CAP (salting off), and a store without metadata must
    count as infinitely skewed — never skip salting on absent
    evidence."""
    from data_pipeline_with_hdfs_sql_integration_spark.plans import similarity as sim
    from data_pipeline_with_hdfs_sql_integration_spark.plans.dedup import SALT_CAP

    occ = sim.ivf2_max_occupancy(spark, SF_DIR)
    assert 0 < occ <= SALT_CAP
    monkeypatch.setattr(sim, "ivf2_index_store", lambda *_: str(tmp_path))
    assert sim.ivf2_max_occupancy(spark, SF_DIR) > SALT_CAP


def test_quantizer_refresh_policy_threshold():
    """quantizer_refresh_due: fires only past REQUANT_FACTOR x the
    design occupancy probes_per_vec*sqrt(N/cells) — integer-exact."""
    from data_pipeline_with_hdfs_sql_integration_spark.plans.dedup import (
        REQUANT_FACTOR,
        quantizer_refresh_due,
    )

    # N=20_000, 16 cells -> isqrt(1250)=35; design occ = 4*35 = 140.
    limit = REQUANT_FACTOR * 4 * 35
    assert not quantizer_refresh_due(limit, 20_000, 4, 16)
    assert quantizer_refresh_due(limit + 1, 20_000, 4, 16)
    # Fresh two-level builds sit WELL under the trigger (measured max
    # fine-cell occupancy 124 @ sf0.01 / 226 @ sf0.1 vs limits 272+).
    assert not quantizer_refresh_due(226, 20_000, 4, 16)
    # Degenerate corpora never underflow the target.
    assert quantizer_refresh_due(REQUANT_FACTOR + 1, 1, 1, 16)


def test_maybe_requantize_commits_only_when_due(spark, tmp_path):
    """Not-due: no commit, store version unchanged. Due: one OVERWRITE
    commit whose snapshot is the fresh probe table and whose previous
    version stays time-travelable."""
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import TxTable
    from data_pipeline_with_hdfs_sql_integration_spark.plans.dedup import (
        maybe_requantize,
    )

    schema = "vec_id long, rn int, cell_id long, sub_id long, srn int"
    flat = spark.createDataFrame(
        [(i, 1, i % 2, 0, 1) for i in range(40)], schema
    )
    fresh = spark.createDataFrame(
        [(i, 1, i % 2, i % 5, 1) for i in range(40)], schema
    )
    t = TxTable(str(tmp_path / "probes"))
    t.append(flat)
    # 40 vectors over 16 cells -> design occ = 1*isqrt(2)=1, limit 4;
    # hottest flat cell holds 20 rows -> due.
    assert maybe_requantize(spark, t, fresh, n_vectors=40, probes_per_vec=1)
    assert t.latest_version() == 1
    assert t.snapshot(spark).exceptAll(fresh).isEmpty()
    assert t.snapshot(spark, 0).count() == 40  # history intact
    # Already refreshed: hottest cell now 4 rows == limit -> not due.
    assert not maybe_requantize(spark, t, fresh, n_vectors=40, probes_per_vec=1)
    assert t.latest_version() == 1


def test_identity_partition_keys_direct_placement(spark):
    """k_i must satisfy pmod(murmur3(k_i), n) == i, and driving
    repartition(n, key) with key = k[bucket] must put every bucket in
    ITS OWN partition (partition id == bucket id) — the deterministic,
    sampling-free file placement format_txlog_zorder relies on for its
    tile-aligned pruning bound."""
    from pyspark.sql import functions as F

    from data_pipeline_with_hdfs_sql_integration_spark.operators.zorder import (
        identity_partition_keys,
    )

    n = 16
    keys = identity_partition_keys(spark, n)
    assert len(set(keys)) == n
    checked = (
        spark.createDataFrame([(i, k) for i, k in enumerate(keys)], "i int, k long")
        .filter(F.pmod(F.hash(F.col("k")), F.lit(n)) != F.col("i"))
        .count()
    )
    assert checked == 0
    df = spark.range(0, 4096).withColumn("bucket", (F.col("id") % n).cast("int"))
    key = F.element_at(
        F.array(*[F.lit(k).cast("long") for k in keys]), F.col("bucket") + 1
    )
    placed = (
        df.withColumn("_k", key)
        .repartition(n, "_k")
        .withColumn("pid", F.spark_partition_id())
        .filter(F.col("pid") != F.col("bucket"))
        .count()
    )
    assert placed == 0

"""Round-10 unit pins.

1. txlog concurrent-writer conflict rules grown this round (the Delta
   optimistic-concurrency matrix): MetadataChanged (schema computed
   before a racing evolve), ConcurrentAppend (merge/overwrite racing an
   append that their full-table read never saw), and the session-
   timezone normalization of timestamp pruning bounds.
2. graph query cache hygiene: a sweep-length session must not accrete
   persisted relations — every persist in plans/graph.py is either
   released per Pregel round or registered in the pin registry that
   bench/sweep loops drain between queries.
"""
from __future__ import annotations

import datetime

import pytest

from tests.conftest import SF_DIR


def _mk_table(tmp_path, spark, rows, schema="k long, v string"):
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import TxTable

    t = TxTable(str(tmp_path / "tbl"))
    t.append(spark.createDataFrame(rows, schema))
    return t


# ------------------------------------------------------------ txlog races
def test_merge_racing_append_conflicts(spark, tmp_path, monkeypatch):
    """A merge whose full-table read missed a racer's appended file must
    raise ConcurrentWriteConflict (Delta's ConcurrentAppendException),
    not retry into duplicate keys."""
    from data_pipeline_with_hdfs_sql_integration_spark.operators import txlog
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
        ConcurrentWriteConflict,
        TxTable,
    )

    t = _mk_table(tmp_path, spark, [(1, "a"), (2, "b")])
    orig = txlog.TxTable._write_files
    raced = []

    def hooked(self, df):
        # Inject the race exactly once, between the merge's snapshot
        # read and its commit: a second writer appends a file whose
        # rows the merge never matched against.
        if self is t and not raced:
            raced.append(1)
            TxTable(t.root).append(spark.createDataFrame([(9, "z")], "k long, v string"))
        return orig(self, df)

    monkeypatch.setattr(txlog.TxTable, "_write_files", hooked)
    with pytest.raises(ConcurrentWriteConflict, match="appended"):
        t.merge(spark, spark.createDataFrame([(1, "A")], "k long, v string"), "k")
    # The loser committed nothing: the racer's row is intact, no upsert.
    assert sorted(r["k"] for r in t.snapshot(spark).collect()) == [1, 2, 9]


def test_overwrite_racing_append_conflicts(spark, tmp_path, monkeypatch):
    from data_pipeline_with_hdfs_sql_integration_spark.operators import txlog
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
        ConcurrentWriteConflict,
        TxTable,
    )

    t = _mk_table(tmp_path, spark, [(1, "a")])
    orig = txlog.TxTable._write_files
    raced = []

    def hooked(self, df):
        if self is t and not raced:
            raced.append(1)
            TxTable(t.root).append(spark.createDataFrame([(9, "z")], "k long, v string"))
        return orig(self, df)

    monkeypatch.setattr(txlog.TxTable, "_write_files", hooked)
    with pytest.raises(ConcurrentWriteConflict, match="appended"):
        t.overwrite(spark.createDataFrame([(5, "e")], "k long, v string"))
    assert sorted(r["k"] for r in t.snapshot(spark).collect()) == [1, 9]


def test_append_racing_schema_evolution_conflicts(spark, tmp_path, monkeypatch):
    """Two concurrent evolve=True appends adding DIFFERENT columns: the
    loser's metaData was computed from the pre-race schema, so letting
    it commit would silently drop the winner's column from the tracked
    schema (invisible data on read). It must raise instead — Delta's
    MetadataChangedException."""
    from data_pipeline_with_hdfs_sql_integration_spark.operators import txlog
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
        ConcurrentWriteConflict,
        TxTable,
    )

    t = _mk_table(tmp_path, spark, [(1, "a")])
    orig = txlog.TxTable._write_files
    raced = []

    def hooked(self, df):
        if self is t and not raced:
            raced.append(1)
            TxTable(t.root).append(
                spark.createDataFrame([(7, "w", 1.5)], "k long, v string, colb double"),
                evolve=True,
            )
        return orig(self, df)

    monkeypatch.setattr(txlog.TxTable, "_write_files", hooked)
    with pytest.raises(ConcurrentWriteConflict, match="schema"):
        t.append(
            spark.createDataFrame([(3, "c", 42)], "k long, v string, cola long"),
            evolve=True,
        )
    # Winner's column survives in the tracked schema.
    assert "colb" in [f.name for f in t.table_schema().fields]


def test_append_same_schema_race_still_retries(spark, tmp_path, monkeypatch):
    """Plain appends (no schema change) racing each other must BOTH
    commit — the optimistic retry that round-5 pinned must survive the
    new conflict checks."""
    from data_pipeline_with_hdfs_sql_integration_spark.operators import txlog
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import TxTable

    t = _mk_table(tmp_path, spark, [(1, "a")])
    orig = txlog.TxTable._write_files
    raced = []

    def hooked(self, df):
        if self is t and not raced:
            raced.append(1)
            TxTable(t.root).append(spark.createDataFrame([(9, "z")], "k long, v string"))
        return orig(self, df)

    monkeypatch.setattr(txlog.TxTable, "_write_files", hooked)
    t.append(spark.createDataFrame([(2, "b")], "k long, v string"))
    assert sorted(r["k"] for r in t.snapshot(spark).collect()) == [1, 2, 9]


def test_delete_range_timestamp_bounds_session_tz(spark, tmp_path):
    """Naive datetime bounds are session-tz wall time (how Spark reads
    the F.lit predicate); pruning must interpret them identically or a
    non-UTC session silently under-deletes (file wrongly pruned)."""
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import TxTable

    key = "spark.sql.session.timeZone"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "America/Los_Angeles")
        t = TxTable(str(tmp_path / "tz"))
        rows = [
            (1, datetime.datetime(2024, 1, 15, 12, 0)),  # LA noon = 20:00 UTC
            (2, datetime.datetime(2024, 1, 15, 3, 0)),
        ]
        t.append(spark.createDataFrame(rows, "k long, ts timestamp"))
        version, rewritten, total = t.delete_range(
            spark,
            "ts",
            datetime.datetime(2024, 1, 15, 11, 0),
            datetime.datetime(2024, 1, 15, 13, 0),
        )
        # Without the session-tz normalization, prune compares the naive
        # 11:00-13:00 bound against the footer's 20:00 UTC stats, prunes
        # the file, and the delete silently matches nothing.
        assert rewritten == 1
        assert [r["k"] for r in t.snapshot(spark).collect()] == [2]
    finally:
        spark.conf.set(key, saved)


def test_skipping_snapshot_timestamp_bounds_session_tz(spark, tmp_path):
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import TxTable

    key = "spark.sql.session.timeZone"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "America/Los_Angeles")
        t = TxTable(str(tmp_path / "tz2"))
        t.append(
            spark.createDataFrame(
                [(1, datetime.datetime(2024, 1, 15, 12, 0))], "k long, ts timestamp"
            )
        )
        got = t.skipping_snapshot(
            spark,
            "ts",
            datetime.datetime(2024, 1, 15, 11, 0),
            datetime.datetime(2024, 1, 15, 13, 0),
        ).count()
        assert got == 1  # superset: the one file must be kept, not pruned
    finally:
        spark.conf.set(key, saved)


# ------------------------------------------- two-level IVF oracle parity
def test_duckdb_native_inner_product_matches_fold(duck):
    """The level-2 quantizer oracles use DuckDB's NATIVE
    list_inner_product in their hot pair paths (similarity._sql_ip).
    The cross-engine contract is Spark's sequential fold == that
    native dot, which holds only while DuckDB accumulates left to
    right in double — this pin fails loudly if a DuckDB upgrade ever
    changes the accumulation order."""
    from data_pipeline_with_hdfs_sql_integration_spark.functions import textfns as tf

    diff, total = duck.execute(
        f"""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        p AS (SELECT a.v AS va, b.v AS vb
              FROM e a JOIN e b ON (a.vec_id * 7919) % 500 = b.vec_id % 500)
        SELECT count(*) FILTER (WHERE list_inner_product(va, vb) <> {tf.sql_dot('va', 'vb')}),
               count(*)
        FROM p
        """
    ).fetchone()
    assert total > 0 and diff == 0, f"{diff}/{total} native-vs-fold dot mismatches"


def test_ivf2_fine_cells_scale_with_corpus(spark):
    """The level-2 refinement must actually grow the fine cell count
    ~sqrt(N) (the round-9 scale finding was a FIXED 16-cell quantizer):
    fine cells = sum over level-1 cells of floor(sqrt(n_cell)) >> 16
    already at the 500-vector fixture, and every vector's primary fine
    cell is one of its stored fine probes (rn=1, srn=1)."""
    import os

    from data_pipeline_with_hdfs_sql_integration_spark.plans import similarity as sim

    store = sim.ivf2_index_store(spark, SF_DIR)
    sub = spark.read.parquet(os.path.join(store, "subcentroids"))
    n_fine = sub.count()
    assert n_fine > 16, f"level-2 refinement degenerated to {n_fine} cells"
    fine = spark.read.parquet(os.path.join(store, "fine"))  # (vec_id, cell_id, sub_id)
    fp = sim.ivf2_fine_probes(spark, SF_DIR)
    n = fine.count()
    joined = fine.join(
        fp.filter((fp.rn == 1) & (fp.srn == 1)).select("vec_id", "cell_id", "sub_id"),
        ["vec_id", "cell_id", "sub_id"],
    ).count()
    assert n == joined and n > 0


# ---------------------------------------------------- graph cache hygiene
def test_graph_queries_release_all_persists(spark):
    """A sweep-length session shows no monotone growth in persisted
    relations: after consuming each graph query and draining the pin
    registry (what bench.py / full_sweep.py do between queries), the
    JVM's persistent-RDD map returns to its baseline."""
    from data_pipeline_with_hdfs_sql_integration_spark.operators.global_rank import (
        release_pins,
    )
    from data_pipeline_with_hdfs_sql_integration_spark.plans.graph import (
        graph_pagerank,
        graph_triangle_count,
    )

    def n_persisted() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    release_pins()
    spark.catalog.clearCache()
    base = n_persisted()
    for fn in (graph_pagerank, graph_triangle_count):
        name = fn.__name__
        fn(spark, SF_DIR).collect()
        # Mid-flight accounting for the Pregel chain: per-round release
        # keeps cached generations O(1), never O(PR_ITERS) + O(queries).
        assert n_persisted() - base <= 4, f"{name} accreted persisted RDDs"
        release_pins()
    assert n_persisted() <= base


# ------------------------------------------------- restore / CDF / vacuum
def test_restore_is_metadata_only_and_undoable(spark, tmp_path):
    """RESTORE reinstates the target version's file set by reference
    (no rewrite), lands as a NEW commit, and is itself restorable —
    the mistake and its fix both stay in history."""
    t = _mk_table(tmp_path, spark, [(1, "a"), (2, "b"), (3, "c")])
    t.overwrite(spark.createDataFrame([(9, "z")], "k long, v string"))
    v = t.restore(0)
    assert v == 2
    assert set(t.live_files(2)) == set(t.live_files(0))
    assert sorted(r["k"] for r in t.snapshot(spark).collect()) == [1, 2, 3]
    # The overwritten intermediate is still time-travelable...
    assert [r["k"] for r in t.snapshot(spark, version=1).collect()] == [9]
    # ...and the restore can be undone by restoring to it.
    t.restore(1)
    assert [r["k"] for r in t.snapshot(spark).collect()] == [9]


def test_restore_rejects_bad_version_and_vacuumed_target(spark, tmp_path):
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import vacuum

    t = _mk_table(tmp_path, spark, [(1, "a")])
    with pytest.raises(ValueError, match="outside"):
        t.restore(5)
    t.overwrite(spark.createDataFrame([(2, "b")], "k long, v string"))
    vacuum(t, keep_versions=1)  # v0's file is gone
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        t.restore(0)
    # Nothing was committed by the failed restore.
    assert t.latest_version() == 1


def test_restore_conflicts_with_racing_append(spark, tmp_path, monkeypatch):
    """A restore whose snapshot read missed a racer's append must
    conflict, not silently drop the racer's committed rows."""
    from data_pipeline_with_hdfs_sql_integration_spark.operators import txlog
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
        ConcurrentWriteConflict,
        TxTable,
    )

    t = _mk_table(tmp_path, spark, [(1, "a")])
    t.overwrite(spark.createDataFrame([(2, "b")], "k long, v string"))
    orig = txlog.TxTable._replay_state
    raced = []

    def hooked(self, version=None):
        out = orig(self, version)
        # Inject the race once, after restore() reads the CURRENT state
        # (its first replay call) but before its commit re-checks.
        if self is t and version is None and not raced:
            raced.append(1)
            TxTable(t.root).append(
                spark.createDataFrame([(7, "r")], "k long, v string")
            )
        return out

    monkeypatch.setattr(txlog.TxTable, "_replay_state", hooked)
    with pytest.raises(ConcurrentWriteConflict):
        t.restore(0)
    assert sorted(r["k"] for r in t.snapshot(spark).collect()) == [2, 7]


def test_cdf_classifies_all_four_change_types(spark, tmp_path):
    """COW-diff CDF: an upsert's unmatched-but-rewritten rows cancel;
    matched keys yield pre+post images, new keys inserts, and a
    delete's rows before-images only."""
    t = _mk_table(
        tmp_path, spark, [(1, "a"), (2, "b"), (3, "c")]
    )
    # v1: merge updates k=1, inserts k=4; k=2,3 rewritten unchanged.
    t.merge(
        spark,
        spark.createDataFrame([(1, "A"), (4, "d")], "k long, v string"),
        "k",
    )
    rows = {
        (r["k"], r["_change_type"], r["_commit_version"], r["v"])
        for r in t.changes(spark, 1, "k").collect()
    }
    assert rows == {
        (1, "update_preimage", 1, "a"),
        (1, "update_postimage", 1, "A"),
        (4, "insert", 1, "d"),
    }
    # v0 (pure append): every row is an insert.
    v0 = t.changes(spark, 0, "k")
    assert sorted(
        (r["k"], r["_change_type"]) for r in v0.collect()
    ) == [(1, "insert"), (2, "insert"), (3, "insert")]
    # v2 (delete k<=2): deletes only, the kept rewrite rows cancel.
    t.delete_range(spark, "k", 0, 2)
    v2 = t.changes(spark, 2, "k")
    assert sorted(
        (r["k"], r["_change_type"]) for r in v2.collect()
    ) == [(1, "delete"), (2, "delete")]


def test_cdf_metadata_only_commit_raises(spark, tmp_path):
    t = _mk_table(tmp_path, spark, [(1, "a")])
    t.set_constraint("pos", "k > 0")
    with pytest.raises(ValueError, match="metadata-only"):
        t.changes(spark, 1, "k")
    with pytest.raises(ValueError, match="no commit"):
        t.changes(spark, 9, "k")


def test_cdf_identical_rewrite_is_not_a_change(spark, tmp_path):
    """A merge that rewrites a row to an identical value produces NO
    feed entry for it (multiset cancellation) — Delta's COW-diff
    answer."""
    t = _mk_table(tmp_path, spark, [(1, "a"), (2, "b")])
    t.merge(
        spark,
        spark.createDataFrame([(1, "a"), (3, "c")], "k long, v string"),
        "k",
    )
    rows = {
        (r["k"], r["_change_type"]) for r in t.changes(spark, 1, "k").collect()
    }
    assert rows == {(3, "insert")}


def test_vacuum_keeps_retained_versions_readable(spark, tmp_path):
    import os

    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import vacuum

    t = _mk_table(tmp_path, spark, [(1, "a"), (2, "b")])
    t.append(spark.createDataFrame([(3, "c")], "k long, v string"))
    t.overwrite(spark.createDataFrame([(9, "z")], "k long, v string"))
    doomed = vacuum(t, keep_versions=2)  # retain v1 and v2
    # v0's file is still LIVE at retained v1 (appends accrete), so
    # nothing is deletable yet — vacuum never touches retained data.
    assert doomed == []
    assert sorted(r["k"] for r in t.snapshot(spark, version=1).collect()) == [
        1,
        2,
        3,
    ]
    assert [r["k"] for r in t.snapshot(spark).collect()] == [9]
    # Disk holds exactly the union of the retained versions' live sets.
    keep = set(t.live_files(1)) | set(t.live_files(2))
    on_disk = {
        os.path.join(t.data_dir, g, f)
        for g in os.listdir(t.data_dir)
        for f in os.listdir(os.path.join(t.data_dir, g))
        if f.endswith(".parquet")
    }
    assert on_disk == keep


class TestVersionedIvf2ProbeStore:
    """Round-9 verdict stretch item 9: the semantic (IVF) family's
    incremental store rides the same txlog-versioned pattern as the
    MinHash signature store."""

    def test_increment_appends_and_equals_monolithic(self, spark):
        import hashlib

        from data_pipeline_with_hdfs_sql_integration_spark.plans import (
            similarity as sim,
        )
        from data_pipeline_with_hdfs_sql_integration_spark.plans.dedup import (
            versioned_ivf2_probe_store,
        )

        sf = "/root/testdata/sf0.001"
        t = versioned_ivf2_probe_store(spark, sf)
        assert t.latest_version() == 2
        v0, v1, v2 = (t.live_files(v) for v in (0, 1, 2))
        # Append-only file reuse, byte-identical (txlog never rewrites).
        assert set(v0) <= set(v1) <= set(v2)
        h = lambda fs: {  # noqa: E731
            f: hashlib.sha256(open(f, "rb").read()).hexdigest() for f in fs
        }
        assert h(v1) == {f: d for f, d in h(v2).items() if f in set(v1)}
        # store@v2 == monolithic fprobes build, row-for-row: probe rows
        # are pure per-vector functions of the frozen quantizer.
        mono = sim.ivf2_fine_probes(spark, sf)
        snap2 = t.snapshot(spark, 2).select(*mono.columns)
        assert snap2.exceptAll(mono).isEmpty()
        assert mono.exceptAll(snap2).isEmpty()

    def test_versions_verdicts_match_monolithic(self, spark):
        from collections import Counter

        from data_pipeline_with_hdfs_sql_integration_spark.registry import (
            all_queries,
        )

        qs = all_queries()
        sf = "/root/testdata/sf0.001"
        mono = Counter(
            r["verdict"]
            for r in qs["dedup_incremental_semantic"].fn(spark, sf).collect()
        )
        vers = {
            r["metric"]: r["value"]
            for r in qs["dedup_incremental_semantic_versions"].fn(spark, sf).collect()
        }
        assert vers["n_dup_of_index"] == mono.get("dup_of_index", 0)
        assert vers["n_dup_in_batch"] == mono.get("dup_in_batch", 0)
        assert vers["n_unique"] == mono.get("unique", 0)
        assert vers["n_new_vecs"] == sum(mono.values())
        assert vers["v2_equals_monolithic_rebuild"] == 1

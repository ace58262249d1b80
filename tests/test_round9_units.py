"""Round-9 unit pins: atomic build-once publication for derived txlog
tables, root-relative (relocatable) log entries, the global-rank pin
registry, sketch empty-relation edges, and the sweep digest's
length-prefixed value hashing — the round-8 VERDICT/ADVICE items."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


class TestTxlogRelocatable:
    def test_log_entries_are_root_relative(self, spark, tmp_path):
        from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
            TxTable,
        )

        t = TxTable(str(tmp_path / "tx"))
        t.append(spark.range(5).selectExpr("id"))
        import json

        entry = json.load(
            open(os.path.join(t.log_dir, t._commits()[0]))
        )
        assert entry["add"], "commit must add files"
        assert all(not os.path.isabs(p) for p in entry["add"])
        # Readers still get absolute, existing paths.
        assert all(os.path.isabs(p) and os.path.exists(p) for p in t.live_files())

    def test_whole_table_rename_keeps_snapshots(self, spark, tmp_path):
        """The property build_once relies on: moving the table dir moves
        data + log together and every snapshot still resolves."""
        from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
            TxTable,
        )

        src = str(tmp_path / "tx_src")
        t = TxTable(src)
        t.append(spark.range(0, 4).selectExpr("id"))
        t.append(spark.range(4, 9).selectExpr("id"))
        dst = str(tmp_path / "tx_dst")
        os.rename(src, dst)
        t2 = TxTable(dst)
        assert sorted(r["id"] for r in t2.snapshot(spark, 0).collect()) == [0, 1, 2, 3]
        assert t2.snapshot(spark, 1).count() == 9

    def test_legacy_absolute_entries_still_resolve(self, spark, tmp_path):
        """Pre-round-9 tables logged absolute paths; _resolve must pass
        them through unchanged."""
        import json

        from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
            TxTable,
        )

        t = TxTable(str(tmp_path / "tx"))
        t.append(spark.range(3).selectExpr("id"))
        # Rewrite the commit to the legacy absolute form.
        name = t._commits()[0]
        p = os.path.join(t.log_dir, name)
        entry = json.load(open(p))
        entry["add"] = [os.path.join(t.root, f) for f in entry["add"]]
        with open(p, "w") as f:
            json.dump(entry, f)
        assert t.snapshot(spark).count() == 3

    def test_overwrite_removes_relative_entries(self, spark, tmp_path):
        from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
            TxTable,
        )

        t = TxTable(str(tmp_path / "tx"))
        t.append(spark.range(5).selectExpr("id"))
        t.overwrite(spark.range(100, 102).selectExpr("id"))
        assert sorted(r["id"] for r in t.snapshot(spark).collect()) == [100, 101]
        # v0 history still time-travels.
        assert t.snapshot(spark, 0).count() == 5


class TestBuildOnce:
    def _builder(self, spark, rows):
        def build(t):
            t.append(spark.range(rows).selectExpr("id"))
            t.append(spark.range(rows, rows * 2).selectExpr("id"))

        return build

    def test_builds_then_reuses(self, spark, tmp_path):
        from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
            build_once,
        )

        src = str(tmp_path / "fixture.parquet")
        spark.range(1).write.parquet(src)
        t1 = build_once("t9_reuse", src, 1, self._builder(spark, 4))
        files1 = t1.live_files()
        calls = []

        def failing_builder(t):  # must NOT run on reuse
            calls.append(1)
            raise AssertionError("rebuilt despite complete table")

        t2 = build_once("t9_reuse", src, 1, failing_builder)
        assert calls == []
        assert t2.live_files() == files1
        assert t2.snapshot(spark).count() == 8

    def test_loser_discards_and_reads_winner(self, spark, tmp_path, monkeypatch):
        """Simulate losing the publish race: the initial probe sees no
        table (so a build starts), but by publish time a racer's
        complete table exists — the losing build is discarded and the
        winner's table returned, never displaced."""
        import glob

        from data_pipeline_with_hdfs_sql_integration_spark.operators import txlog

        src = str(tmp_path / "fixture2.parquet")
        spark.range(1).write.parquet(src)
        winner = txlog.build_once("t9_race", src, 1, self._builder(spark, 3))
        winner_files = winner.live_files()

        real_probe = txlog._probe_latest
        calls = {"n": 0}

        def stale_then_real(root):
            calls["n"] += 1
            return -1 if calls["n"] == 1 else real_probe(root)

        monkeypatch.setattr(txlog, "_probe_latest", stale_then_real)
        t = txlog.build_once("t9_race", src, 1, self._builder(spark, 3))
        assert calls["n"] >= 2, "publish loop must re-probe"
        assert t.live_files() == winner_files  # winner untouched
        assert glob.glob(f"{winner.root}*") == [winner.root], "losing build must be discarded"

    def test_builder_failure_leaks_no_build_dir(self, spark, tmp_path):
        import glob

        import pytest

        from data_pipeline_with_hdfs_sql_integration_spark.catalog import (
            deterministic_tmp_dir,
        )
        from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
            build_once,
        )

        src = str(tmp_path / "fixture4.parquet")
        spark.range(1).write.parquet(src)

        def boom(t):
            t.append(spark.range(2).selectExpr("id"))
            raise RuntimeError("mid-build crash")

        with pytest.raises(RuntimeError, match="mid-build crash"):
            build_once("t9_crash", src, 1, boom)
        root = deterministic_tmp_dir("txtable_t9_crash", src)
        assert not glob.glob(f"{root}*"), "crashed build tree leaked"

    def test_short_build_raises(self, spark, tmp_path):
        import pytest

        from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
            build_once,
        )

        src = str(tmp_path / "fixture3.parquet")
        spark.range(1).write.parquet(src)
        with pytest.raises(ValueError, match="stopped at version"):
            build_once(
                "t9_short", src, 5, lambda t: t.append(spark.range(2).selectExpr("id"))
            )


class TestCheckpointBestEffort:
    def test_checkpoint_failure_never_fails_the_commit(self, spark, tmp_path, monkeypatch):
        """ADVICE round 9: a crashing _maybe_checkpoint must not raise
        out of append() — the commit link already landed."""
        from data_pipeline_with_hdfs_sql_integration_spark.operators import txlog

        t = txlog.TxTable(str(tmp_path / "tx"))

        def boom(version):
            raise OSError("disk full")

        monkeypatch.setattr(t, "_maybe_checkpoint", boom)
        for i in range(12):  # crosses the interval boundary at v10
            v = t.append(spark.range(i, i + 2).selectExpr("id"))
        assert v == 11
        assert t.snapshot(spark).count() == 24
        assert t._checkpoints() == []  # checkpoint lost, data intact


class TestGlobalRankPins:
    def test_release_pins_unpersists(self, spark):
        from data_pipeline_with_hdfs_sql_integration_spark.operators import (
            global_rank as gr,
        )

        gr.release_pins()  # drain anything left by other tests
        df = spark.range(100).selectExpr("id", "id % 7 as v")
        ranked = gr.global_row_number(df, [("v", "asc"), ("id", "asc")])
        assert ranked.count() == 100
        assert len(gr._PINS) == 1
        assert gr._PINS[0].storageLevel.useMemory
        pinned = gr._PINS[0]
        assert gr.release_pins() == 1
        assert gr._PINS == []
        assert not pinned.storageLevel.useMemory  # StorageLevel.NONE
        # Pins from the other two operators register too.
        gr.global_prefix_sum(df, [("id", "asc")], {"cum_v": "v"}).count()
        gr.global_prefix_max(df, [("id", "asc")], "v", "run_max").count()
        assert gr.release_pins() == 2

    def test_rank_correct_after_release(self, spark):
        """release_pins between queries must not change results."""
        from data_pipeline_with_hdfs_sql_integration_spark.operators import (
            global_rank as gr,
        )

        df = spark.range(50).selectExpr("id", "(id * 37) % 50 as v")
        got = {
            r["v"]: r["i"]
            for r in gr.global_row_number(df, [("v", "asc")]).collect()
        }
        gr.release_pins()
        assert got == {v: v + 1 for v in range(50)}


class TestSketchEmptyEdges:
    def test_ks_mwu_sketch_empty_relation_emits_zero_rows(self, spark, tmp_path):
        """ADVICE round 9: the ungrouped HOF fold must not emit a
        (0, 0, -1) row where the windowed exact siblings emit none."""
        from data_pipeline_with_hdfs_sql_integration_spark.plans.profiling import (
            stats_ks_sketch,
            stats_mwu_sketch,
        )

        sf = str(tmp_path / "sf_empty")
        os.makedirs(sf)
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        # No view/click rows at all -> both sketches see an empty input.
        ev.filter(~F.col("event_type").isin("view", "click")).write.parquet(
            os.path.join(sf, "events.parquet")
        )
        assert stats_ks_sketch(spark, sf).count() == 0
        assert stats_mwu_sketch(spark, sf).count() == 0

    def test_quantile_readoff_empty_histogram(self, spark):
        from data_pipeline_with_hdfs_sql_integration_spark.plans.sketches import (
            HQ_QS_PM,
            _quantile_readoff,
        )

        empty = spark.createDataFrame([], "bin long, cnt long")
        # ANSI element_at(-1) on the empty cums array used to throw.
        assert _quantile_readoff(empty, HQ_QS_PM, 10.0).count() == 0


class TestVersionedSignatureStore:
    def _hash_files(self, files):
        import hashlib

        return {f: hashlib.sha256(open(f, "rb").read()).hexdigest() for f in files}

    def test_increment_reuses_prior_files_byte_identically(self, spark, tmp_path):
        """Round-8 verdict item 5's 'done' bar: two successive
        increments must reuse the previous version's store files
        byte-identically — append-only index maintenance."""
        from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
            TxTable,
        )
        from data_pipeline_with_hdfs_sql_integration_spark.plans.dedup import (
            INCR_NEW_MOD,
            minhash_signature_store,
        )

        sigs = minhash_signature_store(spark, "/root/testdata/sf0.001")
        gen = (F.col("doc_id") % INCR_NEW_MOD)
        t = TxTable(str(tmp_path / "sigstore"))
        t.append(sigs.filter(gen.isin(1, 2, 3)))  # v0: base corpus
        t.append(sigs.filter(gen == 4))  # v1: first increment
        v1_files = t.live_files(1)
        v1_hashes = self._hash_files(v1_files)
        t.append(sigs.filter(gen == 0))  # v2: second increment
        assert set(v1_files) <= set(t.live_files(2))
        assert self._hash_files(v1_files) == v1_hashes
        # And v0's files are themselves a reused subset of v1's.
        assert set(t.live_files(0)) <= set(v1_files)

    def test_store_versions_verdicts_match_monolithic(self, spark):
        """store@v1 + batch must yield the same verdict counts as the
        monolithic single-table dedup_incremental_minhash."""
        from collections import Counter

        from data_pipeline_with_hdfs_sql_integration_spark.plans.dedup import (
            dedup_incremental_minhash,
            dedup_incremental_store_versions,
        )

        sf = "/root/testdata/sf0.001"
        got = {
            r["metric"]: r["value"]
            for r in dedup_incremental_store_versions(spark, sf).collect()
        }
        mono = Counter(
            r["verdict"] for r in dedup_incremental_minhash(spark, sf).collect()
        )
        assert got["n_new_docs"] == sum(mono.values())
        assert got["n_dup_of_index"] == mono.get("dup_of_index", 0)
        assert got["n_dup_in_batch"] == mono.get("dup_in_batch", 0)
        assert got["n_unique"] == mono.get("unique", 0)
        assert got["store_latest_version"] == 2
        assert got["v0_files_reused_in_v1"] == 1
        assert got["v1_files_reused_in_v2"] == 1


class TestTxlogMerge:
    def _base(self, spark, tmp_path):
        from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
            TxTable,
        )

        t = TxTable(str(tmp_path / "tx"))
        # Range-partitioned: ids 0..99 across 4 file groups.
        t.append(
            spark.range(100)
            .selectExpr("id", "id * 10 as v")
            .repartitionByRange(4, "id")
        )
        return t

    def test_merge_updates_inserts_and_carries_files(self, spark, tmp_path):
        from pyspark.sql import functions as F

        t = self._base(spark, tmp_path)
        v0_files = set(t.live_files(0))
        # Upsert: update ids 0..9, insert ids 100..104 — touches only
        # the low-range file group(s).
        src = spark.range(0, 10).union(spark.range(100, 105)).selectExpr(
            "id", "id * 10 + 1 as v"
        )
        v = t.merge(spark, src, "id")
        assert v == 1
        got = {r["id"]: r["v"] for r in t.snapshot(spark).collect()}
        assert len(got) == 105
        assert all(got[i] == i * 10 + 1 for i in range(10))  # updated
        assert all(got[i] == i * 10 + 1 for i in range(100, 105))  # inserted
        assert all(got[i] == i * 10 for i in range(10, 100))  # untouched
        carried = v0_files & set(t.live_files(1))
        assert carried, "COW must carry untouched file groups by reference"
        # Pre-merge snapshot is intact (time travel over row updates).
        old = {r["id"]: r["v"] for r in t.snapshot(spark, 0).collect()}
        assert len(old) == 100 and old[3] == 30

    def test_merge_into_empty_table_is_append(self, spark, tmp_path):
        from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
            TxTable,
        )

        t = TxTable(str(tmp_path / "tx"))
        v = t.merge(spark, spark.range(5).selectExpr("id", "id as v"), "id")
        assert v == 0
        assert t.snapshot(spark).count() == 5

    def test_merge_respects_constraints(self, spark, tmp_path):
        import pytest

        from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
            ConstraintViolation,
        )

        t = self._base(spark, tmp_path)
        t.set_constraint("v_nonneg", "v >= 0")
        bad = spark.range(3).selectExpr("id", "-1L as v")
        with pytest.raises(ConstraintViolation):
            t.merge(spark, bad, "id")
        # Nothing committed: v0 data + the constraint commit only.
        assert t.latest_version() == 1
        assert t.snapshot(spark).count() == 100


class TestStoreVersionsPlanShape:
    def test_incremental_store_versions_no_cartesian(self, spark):
        """The versioned-store dedup must keep the banded equi-join
        shape: candidates come from (band_idx, band_hash) hash joins,
        never an all-pairs product."""
        from data_pipeline_with_hdfs_sql_integration_spark.registry import (
            all_queries,
        )

        df = all_queries()["dedup_incremental_store_versions"].fn(
            spark, "/root/testdata/sf0.001"
        )
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "HashJoin" in plan


class TestSweepDigest:
    def test_length_prefix_blocks_separator_collision(self):
        # The digest moved to tools/digestlib.py (single shared
        # definition for full_sweep.py + invariance_probe.py); import
        # it directly — digestlib has no import-time side effects.
        import importlib.util

        tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
        spec = importlib.util.spec_from_file_location(
            "digestlib_probe", os.path.join(tools, "digestlib.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        d = mod.digest
        # full_sweep must still route through the shared definition.
        src = open(os.path.join(tools, "full_sweep.py")).read()
        assert "from digestlib import digest" in src
        assert "def _digest" not in src
        assert d([("a\x1fb",)]) != d([("a", "b")])
        assert d([("a", "b")]) == d([("a", "b")])
        # Order independence across rows is preserved.
        assert d([("a",), ("b",)]) == d([("b",), ("a",)])


class TestTxlogDataSkipping:
    """Per-file footer stats in commit entries + prune()/skipping_snapshot
    (the Delta/Iceberg data-skipping mechanism, hoisted into the log)."""

    @staticmethod
    def _sliced(spark, tmp_path, n=4, width=100):
        from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
            TxTable,
        )

        t = TxTable(str(tmp_path / "tx"))
        for i in range(n):
            t.append(
                spark.range(i * width, (i + 1) * width).selectExpr(
                    "id",
                    "cast(id as double) as v",
                    "cast(timestamp_micros(cast(id*1000000 as long)) as timestamp) as ts",
                    "cast(id as string) as s",
                )
            )
        return t

    def test_prune_skips_disjoint_keeps_overlapping(self, spark, tmp_path):
        t = self._sliced(spark, tmp_path)
        kept, total = t.prune("id", 150, 250)
        assert 0 < len(kept) < total
        got = (
            t.skipping_snapshot(spark, "id", 150, 250)
            .filter("id between 150 and 250")
            .count()
        )
        assert got == 101  # pruning lost nothing

    def test_prune_is_metadata_only_and_versioned(self, spark, tmp_path):
        t = self._sliced(spark, tmp_path)
        # At version 0 only the first slice exists; a range in slice 3
        # keeps nothing -> empty-but-correct snapshot.
        kept, total = t.prune("id", 350, 360, version=0)
        assert kept == [] and total > 0
        assert t.skipping_snapshot(spark, "id", 350, 360, version=0).count() == 0

    def test_timestamp_and_double_columns_skip(self, spark, tmp_path):
        import datetime

        t = self._sliced(spark, tmp_path)
        kept, total = t.prune(
            "ts",
            datetime.datetime(1970, 1, 1, 0, 2, 30),
            datetime.datetime(1970, 1, 1, 0, 4, 10),
        )
        assert 0 < len(kept) < total
        kd, _ = t.prune("v", 150.0, 250.0)
        assert 0 < len(kd) < total

    def test_string_columns_never_indexed(self, spark, tmp_path):
        # Parquet writers may truncate byte-array min/max; a string
        # bound is not a safe pruning bound, so prune must keep all.
        t = self._sliced(spark, tmp_path)
        kept, total = t.prune("s", "0", "1")
        assert len(kept) == total

    def test_legacy_statless_commits_always_kept(self, spark, tmp_path):
        import json
        import os as _os

        t = self._sliced(spark, tmp_path, n=2)
        # Strip the stats from commit 0 (what a pre-stats table's log
        # looks like): its files must be kept for ANY range.
        p = _os.path.join(t.log_dir, t._commits()[0])
        entry = json.load(open(p))
        entry.pop("stats")
        _os.unlink(p)
        json.dump(entry, open(p, "w"))
        kept, total = t.prune("id", 150, 199)
        resolved0 = {t._resolve(f) for f in entry["add"]}
        assert resolved0 <= set(kept)  # stat-less slice-0 files all kept
        got = (
            t.skipping_snapshot(spark, "id", 150, 199)
            .filter("id between 150 and 199")
            .count()
        )
        assert got == 50

    def test_stats_survive_checkpoint_and_removal(self, spark, tmp_path):
        from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
            CHECKPOINT_INTERVAL,
            TxTable,
        )

        t = self._sliced(spark, tmp_path, n=CHECKPOINT_INTERVAL + 2)
        t2 = TxTable(t.root)  # fresh handle: replays from checkpoint
        kept, total = t2.prune("id", 150, 250)
        assert t2.last_replay_reads <= CHECKPOINT_INTERVAL
        assert 0 < len(kept) < total
        # Overwrite drops every old file's stats; the new single
        # range spans everything, so pruning keeps all live files.
        t2.overwrite(spark.range(0, 10).selectExpr("id"))
        kept2, total2 = t2.prune("id", 5, 6)
        assert total2 == len(t2.live_files())
        assert all(f in t2.live_files() for f in kept2)

    def test_merge_keeps_stats_for_untouched_files(self, spark, tmp_path):
        t = self._sliced(spark, tmp_path)
        src = spark.range(150, 160).selectExpr(
            "id",
            "cast(-1.0 as double) as v",
            "cast(timestamp_micros(0) as timestamp) as ts",
            "'upd' as s",
        )
        t.merge(spark, src, "id")
        # Slice 3 (300..399) was untouched by the merge: its carried
        # stats must still prune a range inside slice 0.
        kept, total = t.prune("id", 320, 330)
        assert 0 < len(kept) < total
        rows = (
            t.skipping_snapshot(spark, "id", 150, 165)
            .filter("id between 150 and 165")
            .count()
        )
        assert rows == 16  # merge rewrote, skipping still lossless

    def test_empty_part_files_always_skipped(self, spark, tmp_path):
        from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
            TxTable,
        )

        t = TxTable(str(tmp_path / "tx"))
        # A 1-row dataframe over several partitions writes empty part
        # files; they carry rows=0 stats and never survive a prune.
        t.append(spark.range(0, 1, 1, 4).selectExpr("id"))
        kept, total = t.prune("id", 0, 10**9)
        assert len(kept) == 1 and total >= 1

    def test_nan_disqualifies_float_column(self, spark, tmp_path):
        from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
            TxTable,
        )

        t = TxTable(str(tmp_path / "tx"))
        t.append(
            spark.range(0, 10, 1, 1).selectExpr(
                "id",
                "case when id = 5 then double('NaN') else cast(id as double) end as v",
            )
        )
        kept, total = t.prune("v", 1e9, 2e9)  # range no real value hits
        assert len(kept) == total  # NaN bounds are unusable -> keep


class TestTxlogDeleteRange:
    def test_delete_rewrites_only_overlapping_files(self, spark, tmp_path):
        t = TestTxlogDataSkipping._sliced(spark, tmp_path)
        v0 = t.latest_version()
        pre = t.snapshot(spark).count()
        version, rewritten, total = t.delete_range(spark, "id", 150, 249)
        assert version == v0 + 1
        assert 0 < rewritten < total
        assert t.snapshot(spark).count() == pre - 100
        # Time travel: pre-delete snapshot intact.
        assert t.snapshot(spark, version=v0).count() == pre

    def test_delete_is_idempotent(self, spark, tmp_path):
        t = TestTxlogDataSkipping._sliced(spark, tmp_path)
        v1, r1, _ = t.delete_range(spark, "id", 150, 249)
        v2, r2, _ = t.delete_range(spark, "id", 150, 249)
        assert r1 > 0 and r2 == 0 and v2 == v1  # nothing matched: no commit

    def test_delete_outside_all_ranges_commits_nothing(self, spark, tmp_path):
        t = TestTxlogDataSkipping._sliced(spark, tmp_path)
        v0 = t.latest_version()
        version, rewritten, _ = t.delete_range(spark, "id", 10**6, 2 * 10**6)
        assert version == v0 and rewritten == 0
        assert t.latest_version() == v0

    def test_null_predicate_rows_survive(self, spark, tmp_path):
        from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
            TxTable,
        )

        t = TxTable(str(tmp_path / "tx"))
        t.append(
            spark.range(0, 10, 1, 1).selectExpr(
                "id", "case when id < 3 then cast(null as long) else id end as k"
            )
        )
        # DELETE WHERE k in [0, 100]: NULL k is not TRUE -> row stays.
        t.delete_range(spark, "k", 0, 100)
        left = t.snapshot(spark)
        assert left.count() == 3
        assert left.filter("k is null").count() == 3

    def test_deleted_band_prunes_to_nothing_after(self, spark, tmp_path):
        t = TestTxlogDataSkipping._sliced(spark, tmp_path)
        t.delete_range(spark, "id", 100, 199)  # whole slice 1
        # The rewritten slice is empty; its replacement files carry
        # rows=0 (or shrunken ranges), so the band now prunes away.
        assert t.skipping_snapshot(spark, "id", 100, 199).count() == 0


class TestTxlogSchemaTracking:
    def _base(self, spark, tmp_path):
        from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
            TxTable,
        )

        t = TxTable(str(tmp_path / "tx"))
        t.append(spark.range(0, 5).selectExpr("id", "cast(id as double) as v"))
        return t

    def test_first_commit_adopts_schema(self, spark, tmp_path):
        t = self._base(spark, tmp_path)
        assert t.table_schema().simpleString() == "struct<id:bigint,v:double>"

    def test_surprise_column_refused(self, spark, tmp_path):
        import pytest

        from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
            SchemaMismatch,
        )

        t = self._base(spark, tmp_path)
        with pytest.raises(SchemaMismatch, match="adds column 'tag'"):
            t.append(
                spark.range(5, 8).selectExpr(
                    "id", "cast(id as double) as v", "'x' as tag"
                )
            )
        assert t.latest_version() == 0  # nothing committed

    def test_type_change_refused_even_with_evolve(self, spark, tmp_path):
        import pytest

        from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
            SchemaMismatch,
        )

        t = self._base(spark, tmp_path)
        with pytest.raises(SchemaMismatch, match="type changes are never"):
            t.append(
                spark.range(5, 8).selectExpr("id", "cast(id as string) as v"),
                evolve=True,
            )

    def test_evolve_grows_schema_and_null_fills(self, spark, tmp_path):
        t = self._base(spark, tmp_path)
        t.append(
            spark.range(5, 8).selectExpr(
                "id", "cast(id as double) as v", "'x' as tag"
            ),
            evolve=True,
        )
        snap = t.snapshot(spark)
        assert snap.columns == ["id", "v", "tag"]
        assert snap.filter("tag is null").count() == 5
        # Old version resolves the OLD schema.
        assert t.snapshot(spark, version=0).columns == ["id", "v"]

    def test_omitted_columns_null_fill_on_read(self, spark, tmp_path):
        t = self._base(spark, tmp_path)
        t.append(spark.range(5, 7).selectExpr("id"))  # no v
        snap = t.snapshot(spark)
        assert snap.filter("v is null").count() == 2

    def test_merge_requires_full_schema(self, spark, tmp_path):
        import pytest

        from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
            SchemaMismatch,
        )

        t = self._base(spark, tmp_path)
        with pytest.raises(SchemaMismatch, match="missing table columns"):
            t.merge(spark, spark.range(0, 2).selectExpr("id"), "id")

    def test_schema_survives_checkpoint(self, spark, tmp_path):
        from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
            CHECKPOINT_INTERVAL,
            TxTable,
        )

        t = self._base(spark, tmp_path)
        t.append(
            spark.range(5, 6).selectExpr(
                "id", "cast(id as double) as v", "'x' as tag"
            ),
            evolve=True,
        )
        for i in range(CHECKPOINT_INTERVAL + 1):
            t.append(spark.range(10 + i, 11 + i).selectExpr("id"))
        t2 = TxTable(t.root)
        assert t2.table_schema().fieldNames() == ["id", "v", "tag"]
        assert t2.last_replay_reads <= CHECKPOINT_INTERVAL

    def test_overwrite_replaces_schema(self, spark, tmp_path):
        t = self._base(spark, tmp_path)
        t.overwrite(spark.range(0, 3).selectExpr("id", "'y' as label"))
        assert t.table_schema().fieldNames() == ["id", "label"]
        # Time travel still resolves the pre-overwrite schema.
        assert t.snapshot(spark, version=0).columns == ["id", "v"]

    def test_legacy_schemaless_tables_stay_untracked(self, spark, tmp_path):
        import json
        import os as _os

        t = self._base(spark, tmp_path)
        # Strip the metaData (what a pre-schema table's log looks like).
        p = _os.path.join(t.log_dir, t._commits()[0])
        entry = json.load(open(p))
        entry.pop("metaData")
        _os.unlink(p)
        json.dump(entry, open(p, "w"))
        assert t.table_schema() is None
        # Appends to a non-empty legacy table do NOT invent a schema,
        # and reads fall back to footer inference.
        t.append(spark.range(5, 7).selectExpr("id", "cast(id as double) as v"))
        assert t.table_schema() is None
        assert t.snapshot(spark).count() == 7


class TestTxlogHistory:
    def test_history_accounts_every_commit(self, spark, tmp_path):
        t = TestTxlogDataSkipping._sliced(spark, tmp_path, n=3, width=100)
        t.set_constraint("pos", "id >= 0")
        t.merge(
            spark,
            spark.range(50, 52).selectExpr(
                "id",
                "cast(0.5 as double) as v",
                "cast(timestamp_micros(0) as timestamp) as ts",
                "'m' as s",
            ),
            "id",
        )
        t.delete_range(spark, "id", 250, 259)
        hist = t.history()
        assert [h["operation"] for h in hist] == [
            "append", "append", "append", "setConstraint", "merge", "delete",
        ]
        net = sum(h["rows_added"] - h["rows_removed"] for h in hist)
        assert net == t.snapshot(spark).count() == 290  # 300 - 10 deleted
        # Metadata commits move no data.
        assert hist[3]["files_added"] == hist[3]["rows_added"] == 0

    def test_history_legacy_commit_reports_unknown(self, spark, tmp_path):
        import json
        import os as _os

        from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
            TxTable,
        )

        t = TxTable(str(tmp_path / "tx"))
        t.append(spark.range(4).selectExpr("id"))
        p = _os.path.join(t.log_dir, t._commits()[0])
        entry = json.load(open(p))
        entry.pop("operation"); entry.pop("stats")
        _os.unlink(p)
        json.dump(entry, open(p, "w"))
        (h,) = t.history()
        assert h["operation"] == "unknown"
        assert h["rows_added"] is None  # no stats: honest, not zero


class TestConcurrentWriteConflict:
    def test_stale_remove_set_refused_on_lost_race(self, spark, tmp_path, monkeypatch):
        """Interleaving: our delete computes its rewrite set, a racing
        writer's delete commits first and removes the same files — our
        retry must refuse (stale rewrite would duplicate rows)."""
        import pytest

        from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
            ConcurrentWriteConflict,
            TxTable,
        )

        t = TxTable(str(tmp_path / "tx"))
        t.append(spark.range(0, 100, 1, 1).selectExpr("id"))

        real_latest = t.latest_version
        state = {"raced": False}

        def latest_with_race(*a):
            v = real_latest()
            if not state["raced"]:
                # Between our version probe and our link, a racing
                # delete lands: it removes the same file our commit
                # rewrites. (Executed HERE so it wins version v+1.)
                state["raced"] = True
                live = sorted(t._replay_state(None)[0])
                t2 = TxTable(t.root)
                t2._commit({"add": [], "remove": live, "stats": {},
                            "operation": {"op": "delete"}})
                return v  # stale: we still think v+1 is free
            return real_latest()

        monkeypatch.setattr(t, "latest_version", latest_with_race)
        with pytest.raises(ConcurrentWriteConflict, match="no longer live"):
            live = sorted(t._replay_state(None)[0])
            t._commit({"add": [], "remove": live, "stats": {},
                       "operation": {"op": "delete"}})

    def test_append_retries_through_lost_race(self, spark, tmp_path, monkeypatch):
        """Append-only commits carry fresh files — a lost race retries
        and lands at the next version, never raising."""
        from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
            TxTable,
        )

        t = TxTable(str(tmp_path / "tx"))
        t.append(spark.range(0, 10, 1, 1).selectExpr("id"))

        real_latest = t.latest_version
        state = {"raced": False}

        def latest_with_race(*a):
            v = real_latest()
            if not state["raced"]:
                state["raced"] = True
                TxTable(t.root)._commit(
                    {"add": [], "remove": [],
                     "setConstraint": {"c": "id >= 0"},
                     "operation": {"op": "setConstraint", "name": "c"}}
                )
                return v
            return real_latest()

        monkeypatch.setattr(t, "latest_version", latest_with_race)
        v = t.append(spark.range(10, 20, 1, 1).selectExpr("id"))
        assert v == 2  # raced metadata commit took 1; append landed at 2
        assert t.snapshot(spark).count() == 20

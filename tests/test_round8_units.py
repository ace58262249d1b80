"""Round-8 unit pins: the two-phase global prefix sum, txlog
checkpoint compaction, and the other surgical fixes from the round-7
verdict list."""

from __future__ import annotations

from pyspark.sql import functions as F


class TestTxlogCheckpoint:
    def _table(self, spark, tmp_path, n_commits: int):
        from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
            TxTable,
        )

        t = TxTable(str(tmp_path / "tx"))
        for i in range(n_commits):
            t.append(spark.range(i * 10, i * 10 + 3).selectExpr("id"))
        return t

    def test_checkpoint_written_every_interval(self, spark, tmp_path):
        from data_pipeline_with_hdfs_sql_integration_spark.operators import txlog

        t = self._table(spark, tmp_path, 25)  # versions 0..24
        ckpts = [int(f.split(".")[0]) for f in t._checkpoints()]
        assert ckpts == [10, 20]

    def test_replay_reads_bounded_after_compaction(self, spark, tmp_path):
        """The verdict's 'done' bar: replay reads <= CHECKPOINT_INTERVAL
        commit files after compaction, not O(history)."""
        from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
            CHECKPOINT_INTERVAL,
        )

        t = self._table(spark, tmp_path, 25)
        t.live_files()  # latest: checkpoint 20 + commits 21..24
        assert t.last_replay_reads <= CHECKPOINT_INTERVAL
        assert t.last_replay_reads == 4

    def test_replay_from_checkpoint_matches_full_replay(self, spark, tmp_path):
        """Snapshot state at EVERY version must be identical whether or
        not a checkpoint shortcut exists (pre-, at-, post-checkpoint)."""
        import os

        t = self._table(spark, tmp_path, 25)
        with_ckpt = {v: t.live_files(v) for v in range(25)}
        # Remove the checkpoints and replay the raw log.
        for f in t._checkpoints():
            os.unlink(os.path.join(t.log_dir, f))
        without = {v: t.live_files(v) for v in range(25)}
        assert with_ckpt == without
        assert all(len(with_ckpt[v]) >= 1 for v in range(25))

    def test_constraints_survive_checkpoint(self, spark, tmp_path):
        import pytest

        from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
            ConstraintViolation,
            TxTable,
        )

        t = TxTable(str(tmp_path / "tx"))
        t.set_constraint("pos", "id >= 0")
        for i in range(12):  # cross the interval so a checkpoint exists
            t.append(spark.range(i, i + 2).selectExpr("id"))
        assert t._checkpoints()  # constraint state rolled into it
        assert t.constraints() == {"pos": "id >= 0"}
        assert t.last_replay_reads <= 10
        with pytest.raises(ConstraintViolation):
            t.append(spark.range(-5, -1).selectExpr("id"))

    def test_checkpoint_publish_is_idempotent(self, spark, tmp_path):
        """A racing writer checkpointing the same version loses the
        link-exclusive publish and nothing breaks."""
        t = self._table(spark, tmp_path, 12)
        before = t._checkpoints()
        state_before = t.live_files(10)
        t._maybe_checkpoint(10)  # second writer re-checkpoints v10
        assert t._checkpoints() == before
        assert t.live_files(10) == state_before


class TestGlobalPrefixSum:
    def test_matches_unpartitioned_window(self, spark):
        """The two-phase prefix sum must equal the textbook
        sum() OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING) on a
        relation wide enough to span several range partitions."""
        from pyspark.sql import Window

        from data_pipeline_with_hdfs_sql_integration_spark.operators.global_rank import (
            global_prefix_sum,
        )

        df = spark.range(0, 1000).select(
            (F.col("id") * 7919 % 997).alias("k"),
            (F.col("id") % 13).alias("a"),
            (F.col("id") % 5).alias("b"),
        )
        # Distinct keys so the total order is unambiguous.
        per_k = df.groupBy("k").agg(
            F.sum("a").alias("a"), F.sum("b").alias("b")
        )
        got = {
            r["k"]: (r["sa"], r["sb"])
            for r in global_prefix_sum(
                per_k, [("k", "asc")], {"sa": "a", "sb": "b"}
            ).collect()
        }
        w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
        want = {
            r["k"]: (r["sa"], r["sb"])
            for r in per_k.select(
                "k",
                F.sum("a").over(w).alias("sa"),
                F.sum("b").over(w).alias("sb"),
            ).collect()
        }
        assert got == want

    def test_descending_order(self, spark):
        from data_pipeline_with_hdfs_sql_integration_spark.operators.global_rank import (
            global_prefix_sum,
        )

        df = spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], ["k", "v"]
        )
        rows = {
            r["k"]: r["s"]
            for r in global_prefix_sum(
                df, [("k", "desc")], {"s": "v"}
            ).collect()
        }
        assert rows == {3: 30, 2: 50, 1: 60}

    def test_empty_input(self, spark):
        from data_pipeline_with_hdfs_sql_integration_spark.operators.global_rank import (
            global_prefix_sum,
        )

        df = spark.createDataFrame([], "k long, v long")
        out = global_prefix_sum(df, [("k", "asc")], {"s": "v"})
        assert out.count() == 0
        assert "s" in out.columns

    def test_prefix_max_matches_unpartitioned_window(self, spark):
        """Exclusive global running max must equal the textbook
        max() OVER (ORDER BY ... ROWS BETWEEN UNBOUNDED PRECEDING AND
        1 PRECEDING), including the NULL on the first global row."""
        from pyspark.sql import Window

        from data_pipeline_with_hdfs_sql_integration_spark.operators.global_rank import (
            global_prefix_max,
        )

        df = spark.range(0, 500).select(
            (F.col("id") * 7919 % 499).alias("k"),
            ((F.col("id") * 31) % 97).alias("v"),
        ).groupBy("k").agg(F.max("v").alias("v"))
        got = {
            r["k"]: r["m"]
            for r in global_prefix_max(
                df, [("k", "asc")], "v", "m", exclusive=True
            ).collect()
        }
        w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
        want = {
            r["k"]: r["m"]
            for r in df.select("k", F.max("v").over(w).alias("m")).collect()
        }
        assert got == want
        assert any(v is None for v in want.values())  # first row NULL

    def test_set_replication_failure_is_logged_not_swallowed(self, spark, caplog):
        """set_replication must emit a debug record when the
        FileSystem call fails (a durability signal on a real cluster),
        instead of silently passing."""
        import logging

        from data_pipeline_with_hdfs_sql_integration_spark.operators.block_locations import (
            set_replication,
        )

        with caplog.at_level(
            logging.DEBUG,
            logger="data_pipeline_with_hdfs_sql_integration_spark.operators.block_locations",
        ):
            # An illegal path forces the Hadoop Path constructor to throw.
            set_replication(spark, "", 1)
        assert any(
            "setReplication" in r.message for r in caplog.records
        )

    def test_exclusive_form(self, spark):
        """excl = incl - own value: the MWU below-count derivation."""
        from data_pipeline_with_hdfs_sql_integration_spark.operators.global_rank import (
            global_prefix_sum,
        )

        df = spark.createDataFrame(
            [(1, 5), (2, 7), (3, 11)], ["k", "v"]
        )
        rows = {
            r["k"]: r["excl"]
            for r in global_prefix_sum(df, [("k", "asc")], {"i": "v"})
            .select("k", (F.col("i") - F.col("v")).alias("excl"))
            .collect()
        }
        assert rows == {1: 0, 2: 5, 3: 12}

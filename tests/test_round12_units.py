"""Round-12 units: the bench/sweep pidfile handshake (tools/busy.py) —
the round-11 BENCH artifact was contaminated by a co-resident sweep with
no way to tell from the record; these pin the guard that prevents it.
"""
import os
import subprocess
import sys
from pathlib import Path

TOOLS = Path(__file__).resolve().parent.parent / "tools"
sys.path.insert(0, str(TOOLS))

import busy  # noqa: E402


def test_claim_creates_and_live_sees_other_process(tmp_path, monkeypatch):
    monkeypatch.setattr(busy, "PID_DIR", tmp_path)
    # A live claimant from ANOTHER process: spawn a child that claims
    # and sleeps; live() in this process must report it.
    code = (
        "import sys, time; sys.path.insert(0, sys.argv[1]); import busy; "
        "busy.PID_DIR = __import__('pathlib').Path(sys.argv[2]); "
        "busy.claim('t'); print('claimed', flush=True); time.sleep(30)"
    )
    child = subprocess.Popen(
        [sys.executable, "-c", code, str(TOOLS), str(tmp_path)],
        stdout=subprocess.PIPE, text=True,
    )
    try:
        assert child.stdout.readline().strip() == "claimed"
        hits = busy.live()
        assert len(hits) == 1 and f"pid {child.pid}" in hits[0]
    finally:
        child.kill()
        child.wait()
    # Claimant dead -> stale file pruned on the next look.
    assert busy.live() == []
    assert list(tmp_path.glob("busy_*.pid")) == []


def test_live_ignores_own_process_and_garbage(tmp_path, monkeypatch):
    monkeypatch.setattr(busy, "PID_DIR", tmp_path)
    busy.claim("self")
    (tmp_path / "busy_garbage_notanint.pid").write_text("x\n")
    assert busy.live() == []  # own claim excluded, garbage pruned
    assert not (tmp_path / "busy_garbage_notanint.pid").exists()
    # own pidfile still present for OTHER processes to see
    assert len(list(tmp_path.glob(f"busy_self_{os.getpid()}.pid"))) == 1


def test_bench_refuses_on_live_pidfile(tmp_path):
    """bench.py must exit 4 with a self-identifying JSON error while a
    claimant is alive (unless SPARK_GRAFT_BENCH_FORCE=1). The wait
    window is pinned to 0 here: production bench waits (bounded) for
    claimants to drain before refusing, and with the default 2700 s
    window this test would block behind any genuinely-live sweep."""
    code = (
        "import sys, time; sys.path.insert(0, sys.argv[1]); import busy; "
        "busy.claim('t'); print('claimed', flush=True); time.sleep(60)"
    )
    child = subprocess.Popen(
        [sys.executable, "-c", code, str(TOOLS)], stdout=subprocess.PIPE, text=True
    )
    try:
        assert child.stdout.readline().strip() == "claimed"
        env = {
            **os.environ,
            "SPARK_GRAFT_BENCH_FORCE": "0",
            "SPARK_GRAFT_BENCH_WAIT_S": "0",
        }
        r = subprocess.run(
            [sys.executable, "-c",
             "import sys; sys.path.insert(0, sys.argv[1]); "
             "import bench; bench._box_state()", str(TOOLS.parent)],
            capture_output=True, text=True, env=env, timeout=60,
        )
        assert r.returncode == 4, r.stdout + r.stderr
        assert "refusing to bench" in r.stdout
    finally:
        child.kill()
        child.wait()
        import busy as b
        b.live()  # prune the dead child's pidfile from the real dir


# ------------------------------------------------- CDF signed-count rewrite
def _mk_table(tmp_path, spark, rows, schema="k long, v string"):
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import TxTable

    t = TxTable(str(tmp_path / "tbl"))
    t.append(spark.createDataFrame(rows, schema))
    return t


def test_cdf_preserves_multiset_multiplicity(spark, tmp_path):
    """Duplicate rows removed together must emit one feed row EACH
    (|net| > 1 explodes back to multiplicity, like exceptAll did)."""
    t = _mk_table(tmp_path, spark, [(1, "a"), (1, "a"), (1, "a"), (2, "b")])
    t.delete_range(spark, "k", 1, 1)
    rows = sorted(
        (r["k"], r["v"], r["_change_type"])
        for r in t.changes(spark, 1, "k").collect()
    )
    assert rows == [(1, "a", "delete")] * 3


def test_cdf_null_keys_never_pair(spark, tmp_path):
    """A NULL-key row replaced by a different NULL-key row is a
    delete + insert, never an update pair — the inner-join-on-key
    semantics the signed-count rewrite must preserve."""
    t = _mk_table(tmp_path, spark, [(None, "old"), (1, "x")])
    # Overwrite: drop the null row, add a different null row; k=1 kept.
    t.overwrite(
        spark.createDataFrame([(None, "new"), (1, "x")], "k long, v string")
    )
    rows = sorted(
        (r["v"], r["_change_type"]) for r in t.changes(spark, 1, "k").collect()
    )
    assert rows == [("new", "insert"), ("old", "delete")]


# --------------------------------------------- auto-refresh ingest path
def test_ingest_probe_generation_autotriggers_and_records_trigger(
    spark, tmp_path
):
    """The versioned probe store's ingest path must evaluate the
    refresh policy itself: a generation that pushes the hottest fine
    cell past REQUANT_FACTOR x design occupancy commits the re-train
    as the NEXT version with trigger=occupancy_policy in its operation
    record; a small ingest must NOT fire (and must never build the
    re-train: retrain is lazy)."""
    import json

    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import TxTable
    from data_pipeline_with_hdfs_sql_integration_spark.plans.dedup import (
        ingest_probe_generation,
    )

    schema = "vec_id long, rn int, cell_id long, sub_id long, srn int"

    def probes(ids, cell=0):
        return spark.createDataFrame(
            [(i, 1, cell, 0, 1) for i in ids], schema
        )

    # Small corpus: design occ = 1 * isqrt(8 // 16) = 0 -> due needs
    # max_occ > 0... use a corpus where policy is NOT due: n_vectors
    # large relative to occupancy. 4 rows spread over 4 cells.
    t = TxTable(str(tmp_path / "probes"))
    t.append(
        spark.createDataFrame(
            [(i, 1, i, 0, 1) for i in range(4)], schema
        )
    )

    def boom():
        raise AssertionError("retrain must not run when policy not due")

    ver, refreshed = ingest_probe_generation(
        spark, t, probes([10, 11], cell=5), n_vectors=4096, probes_per_vec=1,
        retrain=boom,
    )
    assert (ver, refreshed) == (1, False)

    # Growth: pile 600 probe rows into ONE cell; with n_vectors=4096,
    # 16 L1 cells and 1 probe/vec the design occupancy is
    # isqrt(4096//16)=16, threshold 4*16=64 -> due. The re-train (all
    # rows spread across cells) must land as v3 with the trigger
    # recorded.
    retrained = spark.createDataFrame(
        [(i, 1, i % 64, i % 8, 1) for i in range(700)], schema
    )
    ver, refreshed = ingest_probe_generation(
        spark, t, probes(range(100, 700), cell=7), n_vectors=4096,
        probes_per_vec=1, retrain=lambda: retrained,
    )
    assert (ver, refreshed) == (3, True)
    with open(t.log_dir + "/00000003.json") as f:
        op = json.load(f)["operation"]
    assert op["op"] == "overwrite"
    assert op["trigger"] == "occupancy_policy"
    assert op["max_occ"] > 64
    # History stays time-travelable: v2 (pre-refresh) still readable.
    assert t.snapshot(spark, 2).count() == 4 + 2 + 600
    assert t.snapshot(spark, 3).count() == 700

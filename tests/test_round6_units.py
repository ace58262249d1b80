"""Round-6 behavior pins: prefix-containment losslessness on adversarial
synthetic corpora, sketch-MAD error bounds, and txlog
in-flight-temp-file immunity."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------- containment
def _brute_containment(docs: list[tuple[int, str]], t: float) -> set[tuple[int, int, float]]:
    """Exact all-pairs |A∩B|/|A| >= t over word-3-shingle SETS (plain
    Python mirror of the query's semantics, modulo hashing — set
    equality of shingle STRINGS equals set equality of their hashes
    because the poly hash is a pure function)."""
    sh = {}
    for doc_id, text in docs:
        toks = text.split()
        sh[doc_id] = {tuple(toks[i : i + 3]) for i in range(len(toks) - 2)}
    out = set()
    for a, sa in sh.items():
        if not sa:
            continue
        for b, sb in sh.items():
            if a == b:
                continue
            c = round(len(sa & sb) / len(sa), 6)
            if c >= t:
                out.add((a, b, c))
    return out


def test_containment_prefix_lossless_on_adversarial_corpus(spark, tmp_path):
    """Prefix filtering must find EVERY above-threshold pair on a corpus
    built to stress it: exact duplicates, a doc fully contained in a
    10x-larger wrapper, a just-above-threshold partial overlap, and a
    just-below-threshold decoy."""
    from data_pipeline_with_hdfs_sql_integration_spark.plans.dedup import CONT_THRESHOLD
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    words = [f"w{i}" for i in range(60)]
    core = " ".join(words[:20])
    docs = [
        (0, core),                                      # contained
        (1, core + " " + " ".join(words[20:60]) + " " + core),  # wrapper
        (2, core),                                      # exact dup of 0
        (3, " ".join(words[:17]) + " zz yy xx"),        # ~0.77 of 0: below t
        (4, " ".join(words[:19]) + " qq rr ss"),        # partial, near t
        (5, "aa bb"),                                   # too short: no shingle
    ]
    # Write a miniature documents table and point the query at it.
    sf = str(tmp_path)
    spark.createDataFrame(
        [(i, t, "en", "unit", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(os.path.join(sf, "documents.parquet"))
    got = {
        (r.contained_doc, r.container_doc, r.containment)
        for r in all_queries()["dedup_containment_prefix"].fn(spark, sf).collect()
    }
    want = _brute_containment(docs, CONT_THRESHOLD)
    assert got == want, f"missing {want - got}, extra {got - want}"
    # sanity: the fixture actually exercised containment + duplicates
    assert (0, 1, 1.0) in want and (0, 2, 1.0) in want


# ------------------------------------------------------------ sketch MAD
def test_mad_sketch_median_within_half_bin(spark):
    """The histogram median estimate behind anomaly_mad_sketch must sit
    within half a bin width of the exact per-segment median."""
    from data_pipeline_with_hdfs_sql_integration_spark.plans.linkage import MS_BIN_C

    from tests.conftest import SF_DIR

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    j = orders.join(customer, orders.o_custkey == customer.c_custkey).select(
        "c_mktsegment",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    rows = j.collect()
    by_seg: dict[str, list[int]] = {}
    for r in rows:
        by_seg.setdefault(r.c_mktsegment, []).append(r.cents)
    for seg, vals in by_seg.items():
        vals.sort()
        exact = vals[(len(vals) - 1) // 2]  # lower median (ceil-rank n/2)
        hist: dict[int, int] = {}
        for v in vals:
            hist[min(v // MS_BIN_C, 1199)] = hist.get(min(v // MS_BIN_C, 1199), 0) + 1
        need = (len(vals) + 1) // 2
        cum = 0
        for b in sorted(hist):
            cum += hist[b]
            if cum >= need:
                est = b * MS_BIN_C + MS_BIN_C // 2
                break
        # The ceil-rank bin provably contains the exact lower median,
        # so the center-of-bin estimate is within half a bin — the
        # documented contract (SCALE.md: $250 at MS_BIN_C=50000 cents).
        assert abs(est - exact) <= MS_BIN_C // 2, (seg, est, exact)


# ------------------------------------------------------------------ txlog
def test_txlog_ignores_inflight_temp_files(spark, tmp_path):
    """A racing writer's half-written .tmp-*.json (and any other stray
    name) must be invisible to replay: latest_version, live_files and
    constraints all skip it instead of crashing on int('') or
    half-written JSON."""
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import TxTable

    t = TxTable(str(tmp_path / "tbl"))
    # Only temp files exist (first-ever commit racing): version is -1.
    open(os.path.join(t.log_dir, ".tmp-deadbeef.json"), "w").write("{half")
    assert t.latest_version() == -1
    assert t.live_files() == []
    assert t.constraints() == {}
    v = t.append(spark.range(5).withColumnRenamed("id", "n"))
    assert v == 0
    # Stray non-commit names alongside real commits are also skipped.
    open(os.path.join(t.log_dir, "notes.json"), "w").write("not a commit")
    open(os.path.join(t.log_dir, ".tmp-cafe.json"), "w").write("{")
    assert t.latest_version() == 0
    assert len(t.live_files()) > 0
    assert t.snapshot(spark).count() == 5


def test_txlog_commit_revalidates_on_constraint_race(spark, tmp_path):
    """If a constraint lands between validation and the winning link,
    _commit must re-validate and refuse the violating batch."""
    from data_pipeline_with_hdfs_sql_integration_spark.operators.txlog import (
        ConstraintViolation,
        TxTable,
    )

    t = TxTable(str(tmp_path / "tbl2"))
    t.append(spark.range(3).withColumnRenamed("id", "n"))
    bad = spark.createDataFrame([(-1,)], "n long")
    active0 = t.constraints()  # snapshot BEFORE the racing constraint
    t.set_constraint("nonneg", "n >= 0")  # the racing writer's commit
    files = t._write_files(bad)
    with pytest.raises(ConstraintViolation):
        # Simulates append() reaching _commit with the stale snapshot.
        t._commit({"add": files, "remove": []}, df=bad, validated=active0)
    # Nothing landed: the violating files are unreferenced.
    assert all(f not in t.live_files() for f in files)

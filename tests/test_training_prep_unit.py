"""Semantic invariants for the training-prep and sketch operators —
properties the value-oracle can confirm but not explain: packing
conservation, shuffle permutation laws, CMS one-sided error, and
quantization recall."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _q(name):
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    return all_queries()[name]


def test_pack_sequences_conservation_and_bounds(spark):
    from data_pipeline_with_hdfs_sql_integration_spark.plans.training_prep import SEQ_LEN

    rows = _q("pack_sequences").fn(spark, SF_DIR).collect()
    assert rows
    by_shard: dict[int, list] = {}
    for r in rows:
        assert 0 <= r.seq_offset < SEQ_LEN
        by_shard.setdefault(r.shard, []).append(r)
    for shard, docs in by_shard.items():
        docs.sort(key=lambda r: r.doc_id)
        # Conservation: each doc starts exactly where the previous ended.
        pos = 0
        for r in docs:
            assert r.seq_id * SEQ_LEN + r.seq_offset == pos, (shard, r.doc_id)
            pos += r.n_tokens


def test_shuffle_deterministic_is_a_permutation(spark):
    import duckdb

    from data_pipeline_with_hdfs_sql_integration_spark.plans.training_prep import SHUFFLE_SHARDS

    rows = _q("shuffle_deterministic").fn(spark, SF_DIR).collect()
    n_docs = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchone()[0]
    # Every doc appears exactly once.
    assert sorted(r.doc_id for r in rows) == list(range(n_docs))
    # Positions are contiguous 1..len within each shard.
    by_shard: dict[int, list] = {}
    for r in rows:
        assert 0 <= r.shard < SHUFFLE_SHARDS
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # Deterministic: a second run reproduces the exact order.
    again = _q("shuffle_deterministic").fn(spark, SF_DIR).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_count_min_never_underestimates(spark):
    rows = _q("sketch_count_min_tokens").fn(spark, SF_DIR).collect()
    assert rows
    assert all(r.overestimate >= 0 for r in rows)
    assert all(r.cms_estimate == r.exact_count + r.overestimate for r in rows)


def test_stream_sketch_equals_batch_sketch(spark):
    """Mergeability: the sketch accumulated by the stream equals the
    sketch built in one batch pass over the same events."""
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import load
    from data_pipeline_with_hdfs_sql_integration_spark.functions import textfns as tf
    from data_pipeline_with_hdfs_sql_integration_spark.plans.sketches import (
        CMS_DEPTH,
        CMS_WIDTH,
        _cms_params,
    )

    streamed = {
        (r.d, r.bucket): r.cnt for r in _q("stream_sketch_cells").fn(spark, SF_DIR).collect()
    }

    ev = load(spark, SF_DIR, "events")

    def bucket(d: int):
        a, b = _cms_params()[d]
        return ((F.lit(a) * F.col("user_id") + b) % tf.MOD) % CMS_WIDTH

    batch = {
        (r.d, r.bucket): r.cnt
        for r in ev.select(
            F.posexplode(F.array(*[bucket(d) for d in range(CMS_DEPTH)])).alias("d", "bucket")
        )
        .groupBy("d", "bucket")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert streamed == batch


def test_quantized_topk_recall_vs_exact(spark):
    exact = {r.vec_id for r in _q("sim_cosine_topk").fn(spark, SF_DIR).collect()}
    quant = {r.vec_id for r in _q("sim_quantized_topk").fn(spark, SF_DIR).collect()}
    # int8 perturbs 64-dim cosines by ~1e-3 — near-perfect recall
    # (measured 20/20 at sf0.001 and sf0.01; gate leaves tie slack).
    assert len(exact & quant) >= 18


def test_contamination_flags_planted_duplicate(spark, tmp_path):
    """A corpus doc that shares a long run of tokens with an eval doc
    must be flagged; disjoint docs must not be."""
    import pandas as pd

    from data_pipeline_with_hdfs_sql_integration_spark.plans.training_prep import (
        EVAL_MAX_DOC_ID,
    )

    eval_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    clean_text = "one two three four five six seven eight nine ten"
    docs = pd.DataFrame(
        {
            "doc_id": [0, EVAL_MAX_DOC_ID + 1, EVAL_MAX_DOC_ID + 2],
            "text": [eval_text, eval_text + " lambda mu", clean_text],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [len(eval_text), len(eval_text) + 10, len(clean_text)],
        }
    )
    sf = str(tmp_path / "sf_contam")
    spark.createDataFrame(docs).coalesce(1).write.parquet(f"{sf}/documents.parquet")
    rows = _q("contamination_ngram").fn(spark, sf).collect()
    flagged = {(r.doc_id, r.eval_id) for r in rows}
    assert (EVAL_MAX_DOC_ID + 1, 0) in flagged
    assert all(doc != EVAL_MAX_DOC_ID + 2 for doc, _ in flagged)


def test_hostile_timezone_repinned_by_queries(spark, duck):
    """A session whose runtime confs were switched under us (timezone,
    AQE, DPP, pushdown, ...) must still produce oracle-identical
    results: the registry applies RUNTIME_CONFS before every query call,
    through ``QuerySpec.fn`` and the module attribute alike (one
    callable), so timestamp grouping/formatting cannot drift with the
    host or a prior user of the session."""
    import importlib

    from data_pipeline_with_hdfs_sql_integration_spark.session import RUNTIME_CONFS
    from tests.oracle_utils import compare

    hostile = {k: "false" for k in RUNTIME_CONFS} | {
        "spark.sql.session.timeZone": "America/New_York",
        # An enum conf: "false" is not a value it accepts.
        "spark.sql.parquet.outputTimestampType": "INT96",
    }
    old = {k: spark.conf.get(k) for k in RUNTIME_CONFS}
    try:
        for name in ("fn_datetime_rollup", "stream_tumbling_counts", "o07_pushdown_scan"):
            spec = _q(name)
            attr = getattr(importlib.import_module(spec.fn.__module__), name)
            assert attr is spec.fn
            for fn in (spec.fn, attr):
                for k, v in hostile.items():
                    spark.conf.set(k, v)
                sdf = fn(spark, SF_DIR)
                assert {k: spark.conf.get(k) for k in RUNTIME_CONFS} == RUNTIME_CONFS
                ok, msg = compare(sdf, duck.sql(spec.oracle))
                assert ok, f"{name} under hostile confs: {msg}"
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_no_plan_applies_runtime_confs_itself():
    """The registry applies RUNTIME_CONFS around every query call; a
    plan body that did it too would restate that rule."""
    from pathlib import Path

    from data_pipeline_with_hdfs_sql_integration_spark import plans

    offenders = [
        p.name for p in Path(plans.__file__).parent.glob("*.py")
        if "apply_runtime_confs" in p.read_text()
    ]
    assert offenders == []


def test_only_session_changes_session_state():
    """Concurrent queries share one session, so no body may bind a
    temp view name or set a conf on it: tables reach SQL through
    catalog.run_sql's formatter, and tuned confs live on a
    session.child_session. session.py alone sets confs, and alone
    writes the driver JVM's launch environment (SPARK_SUBMIT_OPTS,
    SPARK_CONF_DIR), so no other module names either variable."""
    from pathlib import Path

    import data_pipeline_with_hdfs_sql_integration_spark as pkg

    root = Path(pkg.__file__).parent
    offenders = [
        str(p.relative_to(root)) for p in sorted(root.rglob("*.py"))
        if str(p.relative_to(root)) != "session.py" and any(
            s in p.read_text(encoding="utf-8")
            for s in ("createOrReplaceTempView(", ".conf.set(", ".conf.unset(",
                      "SPARK_SUBMIT_OPTS", "SPARK_CONF_DIR")
        )
    ]
    assert offenders == []


def test_only_catalog_names_the_completion_marker():
    """catalog.publish_store writes the _SUCCESS marker and
    catalog.is_complete probes it; no other module spells it."""
    from pathlib import Path

    import data_pipeline_with_hdfs_sql_integration_spark as pkg

    root = Path(pkg.__file__).parent
    offenders = [
        str(p.relative_to(root)) for p in sorted(root.rglob("*.py"))
        if "_SUCCESS" in p.read_text(encoding="utf-8")
    ]
    assert offenders == ["catalog.py"]

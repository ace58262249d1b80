"""Document-overlap detection: winnowed fingerprints and pairwise
sparse-cosine similarity.

The reference engine deduplicates at whole-row granularity only
(server.py's exact-match semantics); a training-data pipeline also
needs PARTIAL-overlap detection — documents that share passages
without being near-identical globally (boilerplate injection, quote
farms, licence blocks). Complementary detectors, from anchored to
position-free:

- Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the MOSS
  algorithm): select a deterministic, position-robust subset of
  k-gram hashes (the minimum of each sliding window of w hashes,
  rightmost on ties). Guarantees every shared run of >= w+k-1 tokens
  contributes at least one IDENTICAL selected fingerprint to both
  documents, so overlap detection becomes an equi-join on selected
  hashes — never a quadratic scan.
- Sparse TF cosine over posting lists: bag-of-words similarity via a
  token-keyed self-join (work proportional to shared postings), with
  a document-frequency ceiling dropping stop-tokens so no single
  token fans out quadratically.

Plus the LSH-candidate exact TF-cosine verify and the anchored
prefix-hash detector registered below. Everything is integer
arithmetic on the shared textfns constants, value-oracled bit-for-bit
against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import load_parallel
from data_pipeline_with_hdfs_sql_integration_spark.functions import textfns as tf
from data_pipeline_with_hdfs_sql_integration_spark.plans.dedup import (
    SQL_MINHASH_PAIRS_CTES,
    _minhash_bands,
    minhash_signature_store,
)
from data_pipeline_with_hdfs_sql_integration_spark.registry import query

#: Winnowing parameters: token k-grams, window of w gram hashes.
#: Noise threshold k=4 tokens, guarantee threshold t=k+w-1=7 tokens:
#: any shared token run of >= 7 tokens is always detected.
WINNOW_K = 4
WINNOW_W = 4

#: Overlap pairs must share at least this many distinct fingerprints.
OVERLAP_MIN_SHARED = 3
#: Fingerprints present in more than this many documents are corpus
#: boilerplate ("stop fingerprints") — dropped before the pair join so
#: one ubiquitous licence line can't fan out quadratically.
FP_DF_CEIL = 32

#: cos >= 0.5 verdict, evaluated as 4*dot^2 >= na2*nb2 in exact BIGINTs.
COS_NUM = 4


def _winnow_fp_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, fp_hash, fp_pos) — winnowed fingerprints, relational.

    Formulated over EXPLODED token rows, not per-row arrays: the
    array-of-lambdas version re-evaluates the whole token-hash array
    for every gram slice (Catalyst does no common-subexpression
    elimination inside interpreted HOF lambdas), which is quadratic in
    document length — measured 380 s at sf0.1 vs ~3 s for this shape.
    Here every expensive value is computed ONCE per row: token hash on
    the exploded row, gram hash from {k-1} leads, window selection as
    a frame min of struct(hash, -pos) (min hash, rightmost tie). One
    shuffle on doc_id serves all window passes; per-doc state is the
    sort buffer, the standard posting-shuffle posture at 100 TB.
    """
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", F.posexplode(tf.tokens(F.col("text"))).alias("p", "tok")
    )
    th = toks.select("doc_id", "p", tf.poly_hash_str(F.col("tok")).alias("th"))
    w = Window.partitionBy("doc_id").orderBy("p")
    # Rolling polynomial fold over k consecutive token hashes (exactly
    # poly_hash_longs' (acc*BASE + x) % MOD starting from acc = 0).
    g = F.col("th")
    for i in range(1, WINNOW_K):
        g = (g * tf.BASE + F.lead("th", i).over(w)) % tf.MOD
    grams = (
        th.select("doc_id", F.col("p").cast("long").alias("p"), g.alias("g"))
        .filter(F.col("g").isNotNull())
    )
    wg = Window.partitionBy("doc_id").orderBy("p")
    frame = wg.rowsBetween(0, WINNOW_W - 1)
    sel = grams.select(
        "doc_id",
        "p",
        F.min(F.struct(F.col("g").alias("h"), (-F.col("p")).alias("np"))).over(frame).alias("m"),
        F.lead("g", WINNOW_W - 1).over(wg).alias("gw"),
        F.count("*").over(Window.partitionBy("doc_id")).alias("n_grams"),
        F.min("p").over(Window.partitionBy("doc_id")).alias("p0"),
    )
    picked = sel.filter(
        F.col("gw").isNotNull()
        | ((F.col("p") == F.col("p0")) & (F.col("n_grams") < WINNOW_W))
    )
    return picked.select(
        "doc_id",
        F.col("m.h").alias("fp_hash"),
        (-F.col("m.np")).alias("fp_pos"),
    ).distinct()


def _sql_winnow_ctes() -> str:
    """DuckDB CTE chain computing the same winnowed fingerprint sets."""
    k, w = WINNOW_K, WINNOW_W
    pick = (
        "(a, b) -> CASE WHEN b.h < a.h OR (b.h = a.h AND b.p > a.p) "
        "THEN b ELSE a END"
    )
    return f"""
        th AS (
            SELECT doc_id,
                   list_transform({tf.sql_tokens('text')},
                                  s -> {tf.sql_poly_hash_str('s')}) AS hs
            FROM documents
        ),
        gr AS (
            SELECT doc_id,
                   CASE WHEN len(hs) >= {k} THEN
                       list_transform(
                           generate_series(0, len(hs) - {k}),
                           i -> {{'h': {tf.sql_poly_hash_longs(f'list_slice(hs, i + 1, i + {k})')},
                                 'p': CAST(i AS BIGINT)}})
                   ELSE [] END AS grams
            FROM th
        ),
        selraw AS (
            -- list_distinct can't histogram struct lists in DuckDB;
            -- dedupe at row level after unnest instead (same set).
            SELECT doc_id,
                   CASE
                     WHEN len(grams) >= {w} THEN
                         list_transform(
                             generate_series(0, len(grams) - {w}),
                             s -> list_reduce(list_slice(grams, s + 1, s + {w}), {pick}))
                     WHEN len(grams) >= 1 THEN [list_reduce(grams, {pick})]
                     ELSE []
                   END AS fps
            FROM gr
        ),
        sel AS (
            SELECT DISTINCT doc_id, f.h AS fp_hash, f.p AS fp_pos
            FROM (SELECT doc_id, unnest(fps) AS f FROM selraw)
        )
    """


@query(
    "text_winnowing",
    oracle=f"""
        WITH {_sql_winnow_ctes()}
        SELECT doc_id, fp_hash, fp_pos FROM sel
    """,
    doc="Winnowed document fingerprints (the MOSS selection rule, "
    f"SIGMOD 2003): token {WINNOW_K}-gram polynomial hashes, then the "
    f"minimum of every sliding window of {WINNOW_W} hashes (rightmost "
    "position on ties), distinct per document. The selection is "
    "position-robust — inserting a paragraph shifts positions but "
    "reselects the same hashes elsewhere — and density-guaranteed: "
    f"every shared run of >= {WINNOW_K + WINNOW_W - 1} tokens yields "
    "at least one identical fingerprint in both documents. Computed "
    "relationally over exploded token rows (hash once per token, gram "
    "via lead(), selection via a frame min — see _winnow_fp_rows for "
    "why the per-row-array formulation is quadratic); one doc_id "
    "shuffle serves every window pass. The fingerprint set is ~1/w "
    "the gram count, so downstream joins touch a fraction of the "
    "corpus — this is the index a plagiarism/passage-overlap pipeline "
    "materializes once at 100 TB.",
    tags=("text", "dedup", "winnowing"),
)
def text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    return _winnow_fp_rows(docs)


@query(
    "dedup_winnowing_overlap",
    oracle=f"""
        WITH {_sql_winnow_ctes()},
        fp AS (
            SELECT DISTINCT doc_id, fp_hash FROM sel
        ),
        keep AS (
            SELECT fp_hash FROM fp
            GROUP BY fp_hash
            HAVING count(*) BETWEEN 2 AND {FP_DF_CEIL}
        ),
        pruned AS (
            SELECT fp.doc_id, fp.fp_hash FROM fp JOIN keep USING (fp_hash)
        )
        SELECT a.doc_id AS doc_a,
               b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM pruned a
        JOIN pruned b
          ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(*) >= {OVERLAP_MIN_SHARED}
    """,
    doc="Partial-overlap pairs via winnowed fingerprints: documents "
    f"sharing >= {OVERLAP_MIN_SHARED} distinct selected hashes. "
    "Catches shared PASSAGES that whole-document MinHash misses (two "
    "long documents sharing one licence block have near-zero global "
    "Jaccard but identical fingerprints inside the block). Scale "
    "shape: the join is keyed on fingerprint hash — work is "
    "proportional to genuinely shared fingerprints, never |D|^2 — and "
    f"fingerprints in > {FP_DF_CEIL} documents (corpus boilerplate) "
    "are dropped first, so no hash fans out quadratically; the "
    "per-hash pair fanout is bounded by the ceiling squared. The same "
    "df-ceiling + equi-join shape as dedup_minhash_lsh's band join, "
    "at passage granularity.",
    tags=("dedup", "winnowing", "join"),
)
def dedup_winnowing_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    # Referenced by both the df-ceiling aggregate and the pair join.
    fp = _winnow_fp_rows(docs).select("doc_id", "fp_hash").distinct().persist()
    keep = (
        fp.groupBy("fp_hash")
        .agg(F.count("*").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= FP_DF_CEIL))
        .select("fp_hash")
    )
    pruned = fp.join(keep, "fp_hash")
    a = pruned.alias("a")
    b = pruned.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp_hash") == F.col("b.fp_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= OVERLAP_MIN_SHARED)
    )


def _sql_cosine_verify_tail() -> str:
    """CTE tail scoring LSH candidate pairs with exact TF cosine."""
    return f"""
        candp AS (
            SELECT DISTINCT doc_a, doc_b FROM cand
        ),
        tfq AS (
            SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tfreq
            FROM (SELECT doc_id, unnest({tf.sql_tokens('text')}) AS tok
                  FROM documents)
            GROUP BY doc_id, tok
        ),
        tnorms AS (
            SELECT doc_id, CAST(sum(tfreq * tfreq) AS BIGINT) AS n2
            FROM tfq GROUP BY doc_id
        ),
        tdots AS (
            SELECT c.doc_a, c.doc_b,
                   CAST(sum(a.tfreq * b.tfreq) AS BIGINT) AS dot_tf
            FROM candp c
            JOIN tfq a ON a.doc_id = c.doc_a
            JOIN tfq b ON b.doc_id = c.doc_b AND b.tok = a.tok
            GROUP BY c.doc_a, c.doc_b
        )
        SELECT c.doc_a, c.doc_b,
               coalesce(d.dot_tf, 0) AS dot_tf,
               na.n2 AS norm_a2, nb.n2 AS norm_b2,
               (coalesce(d.dot_tf, 0) * coalesce(d.dot_tf, 0) * {COS_NUM}
                >= na.n2 * nb.n2) AS is_dup
        FROM candp c
        LEFT JOIN tdots d ON d.doc_a = c.doc_a AND d.doc_b = c.doc_b
        JOIN tnorms na ON na.doc_id = c.doc_a
        JOIN tnorms nb ON nb.doc_id = c.doc_b
    """


@query(
    "text_sparse_cosine_pairs",
    oracle=f"WITH {SQL_MINHASH_PAIRS_CTES}, {_sql_cosine_verify_tail()}",
    doc="Candidate-generation + exact-verify pair similarity, the "
    "production near-dup shape: MinHash band buckets propose "
    "candidate pairs (constant work per document — the same bucket "
    "join dedup_minhash_lsh runs), then each candidate is scored by "
    "EXACT term-frequency cosine over the two documents' posting "
    "vectors, entirely in BIGINTs (verdict "
    f"{COS_NUM}*dot^2 >= |a|^2*|b|^2 <=> cos >= 0.5 — no sqrt, no "
    "float boundary flips between engines). Complements the "
    "signature-estimate verify: the estimate is resemblance on "
    "shingle SETS, the cosine sees token MULTIPLICITY, so pairs that "
    "repeat boilerplate at different densities score differently "
    "here. Scale shape: the expensive exact scoring runs only on "
    "LSH-proposed pairs (work proportional to candidates, never "
    "|D|^2); TF vectors join candidate ids by equi-key, and the dot "
    "aggregate is map-side combinable on the pair key.",
    tags=("text", "similarity", "dedup", "join"),
)
def text_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import memo_persist
    from data_pipeline_with_hdfs_sql_integration_spark.plans.text_analysis import (
        token_tf_base,
    )

    bands = _minhash_bands(minhash_signature_store(spark, sf_dir))
    ba = bands.alias("ba")
    bb = bands.alias("bb")
    # candp feeds the dot aggregate AND the final left join; tfq feeds
    # the norms aggregate AND both sides of the dot join. Without the
    # persists each consumer re-derived its whole subtree (r12
    # before-plan: the corpus exploded + aggregated twice, the band
    # self-join run twice). token_tf_base is the SAME relation tfidf
    # persists — one cached copy serves both queries in a session.
    candp = memo_persist(
        spark,
        ("minhash_candp", sf_dir),
        lambda: (
            ba.join(
                bb,
                (F.col("ba.band_idx") == F.col("bb.band_idx"))
                & (F.col("ba.band_hash") == F.col("bb.band_hash"))
                & (F.col("ba.doc_id") < F.col("bb.doc_id")),
            )
            .select(F.col("ba.doc_id").alias("doc_a"), F.col("bb.doc_id").alias("doc_b"))
            .distinct()
        ),
    )
    tfq = token_tf_base(spark, sf_dir).withColumnRenamed("tf", "tfreq")
    norms = tfq.groupBy("doc_id").agg(F.sum(F.col("tfreq") * F.col("tfreq")).alias("n2"))
    a = tfq.alias("a")
    b = tfq.alias("b")
    dots = (
        candp.join(a, F.col("a.doc_id") == F.col("doc_a"))
        .join(b, (F.col("b.doc_id") == F.col("doc_b")) & (F.col("b.tok") == F.col("a.tok")))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("a.tfreq") * F.col("b.tfreq")).alias("dot_tf"))
    )
    na = norms.alias("na")
    nb = norms.alias("nb")
    dot = F.coalesce(F.col("dot_tf"), F.lit(0).cast("long"))
    return (
        candp.join(dots, ["doc_a", "doc_b"], "left")
        .join(na, F.col("na.doc_id") == F.col("doc_a"))
        .join(nb, F.col("nb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            dot.alias("dot_tf"),
            F.col("na.n2").alias("norm_a2"),
            F.col("nb.n2").alias("norm_b2"),
            (dot * dot * COS_NUM >= F.col("na.n2") * F.col("nb.n2")).alias("is_dup"),
        )
    )


#: Anchored prefix dedup: documents sharing their first N tokens.
PREFIX_N = 12


@query(
    "dedup_prefix_anchor",
    oracle=f"""
        WITH th AS (
            SELECT doc_id,
                   list_transform({tf.sql_tokens('text')},
                                  s -> {tf.sql_poly_hash_str('s')}) AS hs
            FROM documents
        ),
        pref AS (
            SELECT doc_id,
                   {tf.sql_poly_hash_longs(f'list_slice(hs, 1, {PREFIX_N})')} AS ph
            FROM th WHERE len(hs) >= {PREFIX_N}
        )
        SELECT ph AS prefix_hash,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(doc_id) AS BIGINT) AS keep_doc_id
        FROM pref
        GROUP BY ph
        HAVING count(*) >= 2
    """,
    doc=f"Anchored prefix duplicates: documents whose first {PREFIX_N} "
    "tokens hash identically — the templated-intro/boilerplate-header "
    "detector (mirror pages, scraped article farms, licence preambles "
    "pasted at position zero). ANCHORED at the document start, it "
    "catches what position-robust winnowing treats as a minor shared "
    "passage and whole-document hashes miss entirely; together with "
    "dedup_exact (whole doc), dedup_winnowing_overlap (any passage) "
    "and dedup_substring_spans (any span) this completes the "
    "granularity ladder. Pure map-side prefix fold + one groupBy on "
    "the uniform hash — exactly dedup_exact's shape and cost.",
    tags=("dedup", "text"),
)
def dedup_prefix_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    th = F.transform(tf.tokens(F.col("text")), lambda t: tf.poly_hash_str(t))
    pref = docs.select(
        "doc_id", F.when(F.size(th) >= PREFIX_N, tf.poly_hash_longs(F.slice(th, 1, PREFIX_N))).alias("ph")
    ).filter(F.col("ph").isNotNull())
    return (
        pref.groupBy(F.col("ph").alias("prefix_hash"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") >= 2)
    )

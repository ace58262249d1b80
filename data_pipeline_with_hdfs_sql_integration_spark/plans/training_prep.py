"""Training-data preparation operators (LLM pipeline extensions).

Four first-class operators a 100 TB pretraining pipeline runs between
"cleaned corpus" and "tokens on disk", none present in the reference
(which stops at extract/load/aggregate — server.py:24-147):

- pack_sequences          : greedy contiguous packing of tokenized docs
                            into fixed-length training sequences,
                            sharded so the prefix-sum never serializes
- contamination_ngram     : 5-gram overlap of every corpus doc against
                            a held-out eval set (decontamination)
- quality_repetition      : Gopher-style repetition metrics (top-2-gram
                            fraction, duplicate-2-gram fraction) and a
                            keep/drop verdict per document
- shuffle_deterministic   : seeded, engine-portable global shuffle into
                            training shards (hash order, not sort order)

Scale posture: packing and shuffling both partition BY SHARD first —
the only window functions run inside a shard, so no operator ever
funnels the corpus through one task. Contamination broadcasts the eval
side (eval sets are small by construction); the corpus side is one
explode + equi-join on the gram hash. Repetition metrics are one
explode + two grouped aggregates, both map-side combinable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import load_parallel
from data_pipeline_with_hdfs_sql_integration_spark.functions import textfns as tf
from data_pipeline_with_hdfs_sql_integration_spark.registry import query

SEQ_LEN = 512  # tokens per packed training sequence
PACK_SHARDS = 32  # pack within shards: prefix-sum parallelism
EVAL_MAX_DOC_ID = 25  # doc_id < 25 ⇒ held-out eval set
CONTAM_NGRAM = 5
CONTAM_THRESHOLD = 0.01
TOP_BIGRAM_MAX = 0.06  # keep threshold (top-2-gram share; ~p90 here —
#   Gopher's prose corpus uses 0.18, this synthetic corpus is far less
#   repetitive, so the knob is set where it discriminates)
DUP_BIGRAM_MAX = 0.125  # keep threshold (share of 2-grams that repeat)
SHUFFLE_SHARDS = 16
_KNUTH = 2654435761
_H_MOD = 4294967296


# ------------------------------------------------------------------ packing
@query(
    "pack_sequences",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   doc_id % {PACK_SHARDS} AS shard,
                   len({tf.sql_tokens('text')}) AS n_tokens
            FROM documents
        ),
        packed AS (
            SELECT doc_id, shard, n_tokens,
                   COALESCE(sum(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS prev_toks
            FROM toks
        )
        SELECT doc_id, shard,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(prev_toks // {SEQ_LEN} AS BIGINT) AS seq_id,
               CAST(prev_toks % {SEQ_LEN} AS BIGINT) AS seq_offset
        FROM packed
    """,
    doc=f"Sequence packing: concatenate tokenized documents into fixed "
    f"{SEQ_LEN}-token training sequences. Each doc's placement is the "
    "exclusive prefix sum of token counts within its shard — seq_id = "
    "prev//len, offset = prev%len; a doc may straddle a boundary "
    "(real packers split there). Sharding FIRST is the scale move: an "
    "unsharded prefix sum is a single-partition window over the whole "
    "corpus; per-shard windows run one task per shard, and shard "
    "assignment is pure arithmetic on doc_id (deterministic, no "
    "shuffle beyond the window's own partitioning).",
    tags=("training", "window"),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        F.size(tf.tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    return toks.select(
        "doc_id",
        "shard",
        "n_tokens",
        (prev / SEQ_LEN).cast("long").alias("seq_id"),
        (prev % SEQ_LEN).cast("long").alias("seq_offset"),
    )


# ------------------------------------------------------------ contamination
_SQL_GRAMS = f"""
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, len(th) - {CONTAM_NGRAM - 1}),
                   i -> ((((th[i] * {tf.BASE} + th[i+1]) % {tf.MOD} * {tf.BASE} + th[i+2])
                         % {tf.MOD} * {tf.BASE} + th[i+3]) % {tf.MOD} * {tf.BASE} + th[i+4])
                        % {tf.MOD})) AS g
        FROM (
            SELECT doc_id,
                   list_transform({tf.sql_tokens('text')},
                                  s -> {tf.sql_poly_hash_str('s')}) AS th
            FROM documents
        )
        WHERE len(th) >= {CONTAM_NGRAM}
"""


def _gram_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, g: array<long>) — distinct hashed word-5-grams.

    The (doc_id, th) projection PERSISTS before the gram fold: the
    5-gram expression references `th` five times per position, and
    Catalyst's CollapseProject would otherwise inline the full
    token-hash computation into every reference — O(5n) re-hashes of
    the whole document per doc (measured: 135 s -> 1.4 s at sf0.1 for
    the eval branch alone). The persisted hash table is tiny next to
    raw text, and both the eval and corpus branches read from it.
    """
    from pyspark.storagelevel import StorageLevel

    docs = load_parallel(spark, sf_dir, "documents")
    th = F.transform(tf.tokens(F.col("text")), lambda s: tf.poly_hash_str(s))
    base = (
        docs.select("doc_id", th.alias("th"))
        .filter(F.size("th") >= CONTAM_NGRAM)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def _g5(i):
        acc = F.get(F.col("th"), i)
        for j in range(1, CONTAM_NGRAM):
            acc = (acc * tf.BASE + F.get(F.col("th"), i + j)) % tf.MOD
        return acc

    g = F.array_distinct(
        F.transform(F.sequence(F.lit(0), F.size("th") - CONTAM_NGRAM), _g5)
    )
    return base.select("doc_id", g.alias("g"))


@query(
    "contamination_ngram",
    oracle=f"""
        WITH grams AS ({_SQL_GRAMS}),
        eval_g AS (
            SELECT doc_id AS eval_id, unnest(g) AS h
            FROM grams WHERE doc_id < {EVAL_MAX_DOC_ID}
        ),
        corp AS (
            SELECT doc_id, len(g) AS n_grams, unnest(g) AS h
            FROM grams WHERE doc_id >= {EVAL_MAX_DOC_ID}
        ),
        hits AS (
            SELECT c.doc_id, e.eval_id, c.n_grams,
                   count(DISTINCT c.h) AS matched
            FROM corp c JOIN eval_g e ON c.h = e.h
            GROUP BY c.doc_id, e.eval_id, c.n_grams
        )
        SELECT doc_id, eval_id,
               CAST(matched AS BIGINT) AS matched,
               CAST(n_grams AS BIGINT) AS n_grams,
               round(CAST(matched AS DOUBLE) / n_grams, 6) AS overlap
        FROM hits
        WHERE round(CAST(matched AS DOUBLE) / n_grams, 6) >= {CONTAM_THRESHOLD}
    """,
    doc=f"Benchmark decontamination: {CONTAM_NGRAM}-gram hash overlap of "
    f"every corpus document against the held-out eval set (doc_id < "
    f"{EVAL_MAX_DOC_ID} here; in production the eval suite). Flags "
    f"(corpus_doc, eval_doc) pairs sharing >= {CONTAM_THRESHOLD:.0%} of "
    "the corpus doc's distinct 5-grams. The eval side is SMALL by "
    "construction — it broadcasts, so the corpus side is one explode + "
    "broadcast hash join + grouped count: no shuffle of corpus grams "
    "at any scale. Gram hashes reuse the token-hash fold (each token "
    "char-hashed once per doc).",
    tags=("training", "dedup"),
)
def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    grams = _gram_hashes(spark, sf_dir)
    eval_g = (
        grams.filter(F.col("doc_id") < EVAL_MAX_DOC_ID)
        .select(F.col("doc_id").alias("eval_id"), F.explode("g").alias("h"))
    )
    corp = (
        grams.filter(F.col("doc_id") >= EVAL_MAX_DOC_ID)
        .select("doc_id", F.size("g").cast("long").alias("n_grams"), F.explode("g").alias("h"))
    )
    hits = (
        corp.join(F.broadcast(eval_g), "h")
        .groupBy("doc_id", "eval_id", "n_grams")
        .agg(F.countDistinct("h").alias("matched"))
    )
    overlap = F.round(F.col("matched").cast("double") / F.col("n_grams"), 6)
    return hits.select(
        "doc_id", "eval_id", "matched", "n_grams", overlap.alias("overlap")
    ).filter(F.col("overlap") >= CONTAM_THRESHOLD)


# ----------------------------------------------------------- gopher quality
@query(
    "quality_repetition",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {tf.sql_tokens('text')} AS t FROM documents
        ),
        bg AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i+1])) AS bigram
            FROM toks WHERE len(t) >= 2
        ),
        cnt AS (
            SELECT doc_id, bigram, count(*) AS c
            FROM bg GROUP BY doc_id, bigram
        ),
        m AS (
            SELECT doc_id,
                   sum(c) AS total,
                   max(c) AS top,
                   sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_occ
            FROM cnt GROUP BY doc_id
        )
        SELECT doc_id,
               CAST(total AS BIGINT) AS n_bigrams,
               round(CAST(top AS DOUBLE) / total, 6) AS top_bigram_frac,
               round(CAST(dup_occ AS DOUBLE) / total, 6) AS dup_bigram_frac,
               (round(CAST(top AS DOUBLE) / total, 6) <= {TOP_BIGRAM_MAX}
                AND round(CAST(dup_occ AS DOUBLE) / total, 6) <= {DUP_BIGRAM_MAX})
                   AS keep
        FROM m
    """,
    doc="Gopher-style repetition quality: per document, the share of "
    "2-gram occurrences taken by the single most frequent 2-gram "
    f"(keep <= {TOP_BIGRAM_MAX}) and the share belonging to any "
    f"repeated 2-gram (keep <= {DUP_BIGRAM_MAX}) — the standard "
    "boilerplate/looping-text filters. One explode + two grouped "
    "aggregates, both keyed on doc_id so partial aggregation collapses "
    "each doc's grams map-side; thresholds compare rounded doubles so "
    "both engines make identical keep/drop calls.",
    tags=("training", "text"),
)
def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    t = tf.tokens(F.col("text"))
    toks = docs.select("doc_id", t.alias("t")).filter(F.size("t") >= 2)
    # The per-doc bigram counts never need to leave the row: sort the
    # doc's bigram array and run-length encode it with array HOFs, so
    # the whole gate is a single map-only scan — the previous explode +
    # groupBy(doc,bigram) + groupBy(doc) paid two exchanges to count
    # items that were co-located all along (guide §2.4). Grouping by
    # the sorted string array is the oracle's string equality exactly;
    # per-doc work is O(L log L) inside codegen.
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size("t") - 2),
        lambda i: F.concat_ws(" ", F.get(F.col("t"), i), F.get(F.col("t"), i + 1)),
    )
    g = toks.select("doc_id", F.array_sort(bigrams).alias("bg"))
    n = F.size("bg")
    # Run starts: index 0, or a value different from its predecessor
    # (get at -1 is NULL; TRUE OR NULL = TRUE keeps index 0).
    starts = F.filter(
        F.sequence(F.lit(0), n - 1),
        lambda i: (i == F.lit(0))
        | (F.get(F.col("bg"), i) != F.get(F.col("bg"), i - 1)),
    )
    ends = F.concat(F.slice(starts, 2, F.size(starts)), F.array(n))
    runs = F.zip_with(starts, ends, lambda s, e: e - s)
    m = g.select(
        "doc_id",
        n.cast("long").alias("total"),
        F.array_max(runs).cast("long").alias("top"),
        F.aggregate(
            runs,
            F.lit(0).cast("long"),
            lambda acc, r: acc + F.when(r > 1, r.cast("long")).otherwise(F.lit(0).cast("long")),
        ).alias("dup_occ"),
    )
    top_frac = F.round(F.col("top").cast("double") / F.col("total"), 6)
    dup_frac = F.round(F.col("dup_occ").cast("double") / F.col("total"), 6)
    return m.select(
        "doc_id",
        F.col("total").alias("n_bigrams"),
        top_frac.alias("top_bigram_frac"),
        dup_frac.alias("dup_bigram_frac"),
        ((top_frac <= TOP_BIGRAM_MAX) & (dup_frac <= DUP_BIGRAM_MAX)).alias("keep"),
    )


# -------------------------------------------------------------- shuffling
@query(
    "shuffle_deterministic",
    oracle=f"""
        WITH keyed AS (
            SELECT doc_id,
                   (CAST(doc_id AS BIGINT) * {_KNUTH}) % {_H_MOD} AS hkey
            FROM documents
        )
        SELECT doc_id,
               CAST(hkey % {SHUFFLE_SHARDS} AS BIGINT) AS shard,
               CAST(row_number() OVER (
                   PARTITION BY hkey % {SHUFFLE_SHARDS}
                   ORDER BY hkey ASC, doc_id ASC) AS BIGINT) AS pos
        FROM keyed
    """,
    doc="Deterministic training-data shuffle: every doc gets a Knuth "
    "multiplicative-hash key; shard = key mod "
    f"{SHUFFLE_SHARDS}, position = rank of the key within the shard. "
    "Seeded and engine-portable (pure integer arithmetic, no engine "
    "RNG), so a re-run or a different engine reproduces the exact "
    "training order — the property data loaders need for resumable "
    "epochs. Scale: the only sort is per-shard (window partitioned by "
    "shard); at 100 TB this is `repartition(shard).sortWithinPartitions` "
    "— no global sort, no single-task order-by.",
    tags=("training", "window"),
)
def shuffle_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    hkey = (F.col("doc_id").cast("long") * _KNUTH) % _H_MOD
    keyed = docs.select("doc_id", hkey.alias("hkey"))
    w = Window.partitionBy(F.col("hkey") % SHUFFLE_SHARDS).orderBy(
        F.col("hkey").asc(), F.col("doc_id").asc()
    )
    return keyed.select(
        "doc_id",
        (F.col("hkey") % SHUFFLE_SHARDS).cast("long").alias("shard"),
        F.row_number().over(w).cast("long").alias("pos"),
    )


# Target language mix (percent of the token budget) and the budget
# itself as a fraction of corpus tokens — integer percentages so quota
# arithmetic is exact BIGINT on both engines.
MIX_WEIGHTS = {"en": 40, "de": 15, "es": 15, "fr": 15, "zh": 15}
MIX_BUDGET_DIV = 2  # budget = total corpus tokens // 2


@query(
    "mix_weighted_budget",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, lang,
                   CAST(len({tf.sql_tokens('text')}) AS BIGINT) AS n_tok,
                   (CAST(doc_id AS BIGINT) * {_KNUTH}) % {_H_MOD} AS hkey
            FROM documents
        ),
        tot AS (SELECT sum(n_tok) AS total FROM d),
        w(lang, pct) AS (VALUES {", ".join(f"('{k}', CAST({v} AS BIGINT))" for k, v in MIX_WEIGHTS.items())}),
        cum AS (
            SELECT lang, n_tok,
                   sum(n_tok) OVER (PARTITION BY lang ORDER BY hkey ASC, doc_id ASC
                                    ROWS UNBOUNDED PRECEDING) AS cum
            FROM d
        )
        SELECT cum.lang,
               CAST(((tot.total // {MIX_BUDGET_DIV}) * w.pct) // 100 AS BIGINT) AS quota_tokens,
               CAST(count(*) FILTER (cum.cum <= ((tot.total // {MIX_BUDGET_DIV}) * w.pct) // 100) AS BIGINT) AS n_docs_kept,
               CAST(coalesce(sum(cum.n_tok) FILTER (cum.cum <= ((tot.total // {MIX_BUDGET_DIV}) * w.pct) // 100), 0) AS BIGINT) AS tokens_kept,
               CAST(count(*) AS BIGINT) AS n_docs_total,
               CAST(sum(cum.n_tok) AS BIGINT) AS tokens_total
        FROM cum JOIN w USING (lang), tot
        GROUP BY cum.lang, quota_tokens
    """,
    doc="Source/language mixing to a token budget (the Pile/Dolma-style "
    "mixture step between cleaning and tokenization): the overall "
    f"budget is corpus tokens // {MIX_BUDGET_DIV}, split across "
    "languages by integer percentage weights; within each language, "
    "documents are taken in deterministic Knuth-hash order (a seeded "
    "shuffle, so the kept set is a uniform sample reproducible across "
    "engines and re-runs) until the running token total reaches the "
    "quota. All quota arithmetic is exact BIGINT — both engines make "
    "identical boundary decisions. Scale: the window input is METADATA "
    "only (doc_id, lang, n_tok — ~24 bytes/doc, never the text), "
    "partitioned by language; for finer parallelism than one task per "
    "language, the same greedy-prefix semantics shard exactly like "
    "pack_sequences' exclusive prefix sums.",
    tags=("training", "mixing"),
)
def mix_weighted_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    docs = load_parallel(spark, sf_dir, "documents")
    # Persisted barrier: the metadata table feeds BOTH the corpus-total
    # aggregate and the per-language window — without it each branch
    # re-tokenizes the whole corpus (measured 2 scans in the plan).
    # ~24 bytes/doc, trivially cacheable at any corpus size.
    d = docs.select(
        "doc_id",
        "lang",
        F.size(tf.tokens(F.col("text"))).cast("long").alias("n_tok"),
        ((F.col("doc_id").cast("long") * _KNUTH) % _H_MOD).alias("hkey"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    tot = d.agg(F.sum("n_tok").alias("total"))
    w = F.broadcast(
        docs.sparkSession.createDataFrame(
            [(k, v) for k, v in MIX_WEIGHTS.items()], "lang string, pct long"
        )
    )
    win = (
        Window.partitionBy("lang")
        .orderBy(F.col("hkey").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = d.select("lang", "n_tok", F.sum("n_tok").over(win).alias("cum"))
    quota = F.expr(f"((total DIV {MIX_BUDGET_DIV}) * pct) DIV 100")
    kept = F.col("cum") <= F.col("quota_tokens")
    return (
        cum.join(w, "lang")
        .crossJoin(F.broadcast(tot))
        .withColumn("quota_tokens", quota)
        .groupBy("lang", "quota_tokens")
        .agg(
            F.count(F.when(kept, 1)).alias("n_docs_kept"),
            F.coalesce(F.sum(F.when(kept, F.col("n_tok"))), F.lit(0)).cast("long").alias("tokens_kept"),
            F.count("*").alias("n_docs_total"),
            F.sum("n_tok").alias("tokens_total"),
        )
    )


CHUNK_SIZE = 64  # tokens per retrieval chunk
CHUNK_STRIDE = 48  # 16-token overlap between neighbors


@query(
    "chunk_documents",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {tf.sql_tokens('text')} AS t FROM documents
        ), sized AS (
            SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0
        ), chunks AS (
            SELECT doc_id, n,
                   CAST(i AS BIGINT) // {CHUNK_STRIDE} AS chunk_idx,
                   list_slice(t, CAST(i AS BIGINT) + 1,
                              CAST(i AS BIGINT) + {CHUNK_SIZE}) AS chunk
            FROM sized, unnest(generate_series(0, n - 1, {CHUNK_STRIDE})) AS g(i)
        )
        SELECT doc_id, chunk_idx,
               CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
               {tf.sql_poly_hash_longs(f"list_transform(chunk, x -> {tf.sql_poly_hash_str('x')})")} AS chunk_hash
        FROM chunks
        WHERE doc_id < 500
    """,
    doc=f"RAG-style document chunking: overlapping {CHUNK_SIZE}-token "
    f"windows every {CHUNK_STRIDE} tokens (16-token overlap so no "
    "retrieval boundary splits context). Pure map-side: tokenize, "
    "generate chunk starts, slice, hash — explode multiplies rows by "
    "~n/stride but shuffles nothing. The chunk content hash uses the "
    "shared portable fold so the oracle verifies actual token content, "
    "not just counts. Output bounded to doc_id<500 for the driver "
    "compare; the plan is identical unbounded.",
    tags=("training", "text"),
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    t = tf.tokens(F.col("text"))
    sized = docs.select("doc_id", t.alias("t"), F.size(t).alias("n")).filter(F.col("n") > 0)
    starts = F.sequence(F.lit(0), F.col("n") - 1, F.lit(CHUNK_STRIDE))
    chunks = sized.select(
        "doc_id",
        F.explode(starts).alias("i"),
        F.col("t"),
    ).select(
        "doc_id",
        (F.col("i").cast("long") / CHUNK_STRIDE).cast("long").alias("chunk_idx"),
        F.slice(F.col("t"), F.col("i") + 1, F.lit(CHUNK_SIZE)).alias("chunk"),
    )
    chunk_hash = tf.poly_hash_longs(F.transform(F.col("chunk"), lambda x: tf.poly_hash_str(x)))
    return chunks.filter(F.col("doc_id") < 500).select(
        "doc_id",
        "chunk_idx",
        F.size("chunk").cast("long").alias("n_chunk_tokens"),
        chunk_hash.alias("chunk_hash"),
    )


SAMPLE_HASH_MOD = 1_000_000


@query(
    "sample_quality_weighted",
    oracle=f"""
        WITH q AS (
            SELECT doc_id, lang, source,
                   {tf.sql_tokens('text')} AS t
            FROM documents
        ), scored AS (
            SELECT doc_id, lang, source,
                   CAST(len(list_distinct(t)) AS DOUBLE) / NULLIF(len(t), 0) AS quality,
                   (CAST(doc_id AS BIGINT) * 2654435761 % 4294967296) % {SAMPLE_HASH_MOD} AS h
            FROM q WHERE len(t) > 0
        )
        SELECT lang, source,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN h < quality * {SAMPLE_HASH_MOD} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_sampled
        FROM scored
        GROUP BY lang, source
        ORDER BY lang, source
    """,
    doc="Quality-weighted (importance) sampling: keep a doc with "
    "probability equal to its distinct-token ratio, decided by a "
    "deterministic Knuth hash of doc_id — reproducible under "
    "repartition, engine change and re-run (df.sample is none of "
    "those), and map-only at any scale. The boundary compare uses the "
    "exact rational quality * MOD (no float threshold crossing: "
    "quality is a ratio of small ints, the product is exact in "
    "double).",
    tags=("training", "sampling"),
)
def sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    t = tf.tokens(F.col("text"))
    scored = docs.select(
        "doc_id", "lang", "source",
        (F.size(F.array_distinct(t)).cast("double") / F.nullif(F.size(t), F.lit(0))).alias("quality"),
        ((F.col("doc_id").cast("long") * 2654435761) % 4294967296 % SAMPLE_HASH_MOD).alias("h"),
    ).filter(F.size(t) > 0)
    return (
        scored.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("h") < F.col("quality") * SAMPLE_HASH_MOD, 1).otherwise(0)
            ).cast("long").alias("n_sampled"),
        )
        .orderBy("lang", "source")
    )


def _split_case_sql(idcol: str) -> str:
    h = f"((CAST({idcol} AS BIGINT) * {_KNUTH}) % {_H_MOD}) % 10"
    return (
        f"CASE WHEN {h} < 8 THEN 'train' WHEN {h} = 8 THEN 'val' "
        f"ELSE 'test' END"
    )


def _register_split_leakage_audit() -> None:
    from data_pipeline_with_hdfs_sql_integration_spark.plans.dedup import (
        SQL_MINHASH_PAIRS_CTES,
    )

    @query(
        "split_leakage_audit",
        oracle=f"""
            WITH {SQL_MINHASH_PAIRS_CTES},
            labeled AS (
                SELECT {_split_case_sql('doc_a')} AS sa,
                       {_split_case_sql('doc_b')} AS sb
                FROM prs
            )
            SELECT least(sa, sb) AS split_lo,
                   greatest(sa, sb) AS split_hi,
                   CAST(count(*) AS BIGINT) AS n_dup_pairs
            FROM labeled
            GROUP BY least(sa, sb), greatest(sa, sb)
        """,
        doc="Train/val/test split leakage audit — the check every "
        "pretraining pipeline should run and few do: documents split "
        "8/1/1 by deterministic Knuth hash (the same seeded-split "
        "mechanism as shuffle_deterministic, so the assignment is "
        "reproducible and layout-independent), then the MinHash-LSH "
        "near-duplicate pairs are labeled by their endpoints' splits "
        "and counted per unordered split pair. Off-diagonal rows "
        "(train/val, train/test) are evaluation-set contamination via "
        "near-duplicates — the leakage exact-match decontamination "
        "(contamination_ngram) misses. Composes two existing scale-safe "
        "stages: the pair generation is the banded bucket-join "
        "(constant work per doc), the audit itself is one tiny "
        "aggregate over the pair table.",
        tags=("training", "dedup", "audit"),
    )
    def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
        from data_pipeline_with_hdfs_sql_integration_spark.plans.dedup import (
            dedup_minhash_lsh,
        )

        pairs = dedup_minhash_lsh(spark, sf_dir)

        def split(idcol):
            h = (F.col(idcol).cast("long") * _KNUTH) % _H_MOD % 10
            return (
                F.when(h < 8, "train").when(h == 8, "val").otherwise("test")
            )

        labeled = pairs.select(
            split("doc_a").alias("sa"), split("doc_b").alias("sb")
        )
        return (
            labeled.groupBy(
                F.least("sa", "sb").alias("split_lo"),
                F.greatest("sa", "sb").alias("split_hi"),
            )
            .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
        )


_register_split_leakage_audit()


# ---------------------------------------------------------- shard manifest
@query(
    "training_shard_manifest",
    oracle=f"""
        WITH keyed AS (
            SELECT doc_id,
                   CAST(len({tf.sql_tokens('text')}) AS BIGINT) AS n_tokens,
                   (CAST(doc_id AS BIGINT) * {_KNUTH}) % {_H_MOD} AS hkey
            FROM documents
        )
        SELECT CAST(hkey % {SHUFFLE_SHARDS} AS BIGINT) AS shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
               CAST(bit_xor(hkey * 31 + doc_id) AS BIGINT) AS checksum,
               CAST(min(doc_id) AS BIGINT) AS min_doc,
               CAST(max(doc_id) AS BIGINT) AS max_doc
        FROM keyed
        GROUP BY hkey % {SHUFFLE_SHARDS}
        ORDER BY shard
    """,
    doc="Training-shard WRITE path, audited: the deterministically "
    f"shuffled corpus is written as a shard-partitioned parquet layout "
    "(one directory per training shard — what a dataloader consumes), "
    "read BACK, and summarized into a per-shard manifest (doc count, "
    "token sum, an order-independent xor checksum, id range). The "
    "oracle computes the identical manifest straight from the source "
    "table, so a match proves the partitioned write-read round-trip "
    "lossless AND correctly sharded. xor is the scale-safe checksum: "
    "order-independent and non-accumulating, where a modular SUM of "
    "per-row hashes overflows BIGINT at corpus scale.",
    tags=("training", "sink"),
)
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil
    import tempfile

    docs = load_parallel(spark, sf_dir, "documents")
    hkey = (F.col("doc_id").cast("long") * F.lit(_KNUTH)) % F.lit(_H_MOD)
    sharded = docs.select(
        "doc_id",
        F.size(tf.tokens(F.col("text"))).cast("long").alias("n_tokens"),
        hkey.alias("hkey"),
        (hkey % SHUFFLE_SHARDS).alias("shard"),
    )
    # Fresh layout per invocation: the shard dir is the query RESULT's
    # substrate, so stale files from an earlier code version must not
    # leak in (same pattern as the streaming merge snapshot).
    digest = hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"dps_shards_{digest}")
    shutil.rmtree(root, ignore_errors=True)
    sharded.write.partitionBy("shard").parquet(root)
    back = spark.read.parquet(root)
    return (
        back.groupBy(F.col("shard").cast("long").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.expr("bit_xor(hkey * 31 + doc_id)").alias("checksum"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("shard")
    )


@query(
    "mix_entropy_profile",
    oracle="""
        WITH g AS (
            SELECT lang, source, CAST(count(*) AS BIGINT) AS n
            FROM documents GROUP BY lang, source
        ),
        t AS (SELECT sum(n) AS total, count(*) AS n_cells FROM g)
        SELECT CAST(t.n_cells AS BIGINT) AS n_cells,
               CAST(t.total AS BIGINT) AS n_docs,
               CAST(round(1000000 * (log2(t.total)
                    - sum(g.n * log2(g.n)) / t.total)) AS BIGINT)
                   AS entropy_upm,
               CAST(round(1000000 * log2(t.n_cells)) AS BIGINT)
                   AS max_entropy_upm
        FROM g, t
        GROUP BY t.n_cells, t.total
    """,
    doc="Corpus-mixture entropy: Shannon entropy (bits, fixed-point "
    "micro-units) of the (lang, source) cell distribution, next to "
    "its log2(cells) maximum — the diversity dial a data-mixing step "
    "watches (entropy near max = balanced corpus; collapsing entropy "
    "= one bucket swallowing the mix; mix_weighted_budget is the "
    "actuator this metric monitors). Determinism: the char-entropy "
    "formulation — H = log2(N) - sum(n*log2(n))/N so every log2 "
    "argument is a small INTEGER count (identical doubles in both "
    "engines) and the single division happens once, rounded to 1e-6 "
    "bits. One tiny grouped count; the entropy aggregate runs over "
    "the |langs x sources| relation.",
    tags=("training", "mixing", "stats"),
)
def mix_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    g = docs.groupBy("lang", "source").agg(F.count("*").alias("n"))
    t = g.agg(F.sum("n").alias("total"), F.count("*").alias("n_cells"))
    return (
        g.crossJoin(F.broadcast(t))
        .groupBy("n_cells", "total")
        .agg(
            F.round(
                1000000
                * (
                    F.log2(F.first("total").cast("double"))
                    - F.sum(F.col("n") * F.log2(F.col("n").cast("double")))
                    / F.first("total")
                )
            )
            .cast("long")
            .alias("entropy_upm"),
            F.round(1000000 * F.log2(F.first("n_cells").cast("double")))
            .cast("long")
            .alias("max_entropy_upm"),
        )
        .select(
            F.col("n_cells").cast("long"),
            F.col("total").cast("long").alias("n_docs"),
            "entropy_upm",
            "max_entropy_upm",
        )
    )


@query(
    "mix_temperature_sampling",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, lang,
                   CAST(len({tf.sql_tokens('text')}) AS BIGINT) AS n_tok,
                   (CAST(doc_id AS BIGINT) * {_KNUTH}) % {_H_MOD} AS hkey
            FROM documents
        ),
        tot AS (SELECT sum(n_tok) AS total FROM d),
        bylang AS (SELECT lang, sum(n_tok) AS n_l FROM d GROUP BY lang),
        wts AS (
            SELECT lang,
                   CAST(floor(sqrt(CAST(n_l AS DOUBLE)) * 1000) AS BIGINT) AS w_milli
            FROM bylang
        ),
        wsum AS (SELECT sum(w_milli) AS ws FROM wts),
        probs AS (
            SELECT lang, CAST((w_milli * 1000000) // ws AS BIGINT) AS p_ppm
            FROM wts, wsum
        ),
        cum AS (
            SELECT lang, n_tok,
                   sum(n_tok) OVER (PARTITION BY lang ORDER BY hkey ASC, doc_id ASC
                                    ROWS UNBOUNDED PRECEDING) AS cum
            FROM d
        )
        SELECT cum.lang, p.p_ppm,
               CAST(((tot.total // {MIX_BUDGET_DIV}) * p.p_ppm) // 1000000 AS BIGINT)
                   AS quota_tokens,
               CAST(count(*) FILTER (cum.cum <= ((tot.total // {MIX_BUDGET_DIV}) * p.p_ppm) // 1000000) AS BIGINT)
                   AS n_docs_kept,
               CAST(coalesce(sum(cum.n_tok) FILTER (cum.cum <= ((tot.total // {MIX_BUDGET_DIV}) * p.p_ppm) // 1000000), 0) AS BIGINT)
                   AS tokens_kept
        FROM cum JOIN probs p USING (lang), tot
        GROUP BY cum.lang, p.p_ppm, quota_tokens
    """,
    doc="Temperature-scaled language mixing (the XLM-R/mT5 alternative "
    "to mix_weighted_budget's hand-set percentages): language l gets "
    "probability ∝ n_l^alpha with alpha=1/2, so low-resource languages "
    "are up-sampled relative to their natural share without drowning "
    "high-resource ones. The exponent is computed as "
    "floor(sqrt(n_l)*1000) — IEEE sqrt of a BIGINT is correctly "
    "rounded, so both engines floor the identical double and every "
    "later step (ppm share, quota, greedy Knuth-hash prefix per "
    "language) is exact integer arithmetic with identical boundary "
    "decisions. Scale shape is mix_weighted_budget's: the window input "
    "is metadata only (~24 B/doc), partitioned by language; the "
    "per-language weight table is |languages| rows. Generalizing to "
    "other alpha = replacing sqrt with the matching fixed-point power.",
    tags=("training", "mixing"),
)
def mix_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    docs = load_parallel(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "lang",
        F.size(tf.tokens(F.col("text"))).cast("long").alias("n_tok"),
        ((F.col("doc_id").cast("long") * _KNUTH) % _H_MOD).alias("hkey"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    tot = d.agg(F.sum("n_tok").alias("total"))
    wts = d.groupBy("lang").agg(
        F.floor(F.sqrt(F.sum("n_tok").cast("double")) * 1000).cast("long").alias("w_milli")
    )
    wsum = wts.agg(F.sum("w_milli").alias("ws"))
    probs = wts.crossJoin(F.broadcast(wsum)).select(
        "lang", F.expr("(w_milli * 1000000) DIV ws").alias("p_ppm")
    )
    win = (
        Window.partitionBy("lang")
        .orderBy(F.col("hkey").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = d.select("lang", "n_tok", F.sum("n_tok").over(win).alias("cum"))
    quota = F.expr(f"((total DIV {MIX_BUDGET_DIV}) * p_ppm) DIV 1000000")
    kept = F.col("cum") <= F.col("quota_tokens")
    return (
        cum.join(F.broadcast(probs), "lang")
        .crossJoin(F.broadcast(tot))
        .withColumn("quota_tokens", quota)
        .groupBy("lang", "p_ppm", "quota_tokens")
        .agg(
            F.count(F.when(kept, 1)).alias("n_docs_kept"),
            F.coalesce(F.sum(F.when(kept, F.col("n_tok"))), F.lit(0))
            .cast("long")
            .alias("tokens_kept"),
        )
    )


# ------------------------------------------- semantic (embedding) contamination
# contamination_ngram catches verbatim/lexical leakage; paraphrased or
# translated benchmark rewrites share almost no 5-grams but land next to
# the eval item in embedding space. These two queries are that second
# decontamination gate, over the embeddings table's eval split
# (vec_id < CONTAM_EVAL_MAX_VEC_ID — in production, the embedded eval
# suite). Eval suites are small by construction, so the scale shape is
# contamination_ngram's: broadcast the eval side, ONE map-side pass over
# the corpus (N x |eval| rounded-cosine folds, no pair shuffle anywhere),
# then a partial-aggregate-friendly grouped max. For very large eval
# unions, pre-gate the corpus side with the LSH signature store
# (similarity.lsh_signature_store) before the exact pass.
CONTAM_EVAL_MAX_VEC_ID = 50
CONTAM_COS_LEAK = 0.95  # top-1 cosine >= this ⇒ treat as leaked
CONTAM_COS_REVIEW = 0.40  # >= this ⇒ near enough to warrant review

from data_pipeline_with_hdfs_sql_integration_spark.plans.similarity import (  # noqa: E402
    _cosine as _vec_cosine,
    _sql_cosine as _sql_vec_cosine,
)

_SQL_LABELED_VECS = (
    "SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v "
    "FROM embeddings"
)


_sql_vec_cosine_corp_ev = _sql_vec_cosine("corp.v", "ev.qv")


def _labeled_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_parallel(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )


@query(
    "contamination_semantic",
    oracle=f"""
        WITH e AS ({_SQL_LABELED_VECS}),
        ev AS (SELECT vec_id AS eval_id, v AS qv FROM e
               WHERE vec_id < {CONTAM_EVAL_MAX_VEC_ID}),
        corp AS (SELECT vec_id, v FROM e
                 WHERE vec_id >= {CONTAM_EVAL_MAX_VEC_ID}),
        scored AS (
            SELECT ev.eval_id, corp.vec_id,
                   {_sql_vec_cosine_corp_ev} AS cosine
            FROM corp, ev
        ),
        ranked AS (
            SELECT eval_id, vec_id, cosine,
                   row_number() OVER (PARTITION BY eval_id
                                      ORDER BY cosine DESC, vec_id ASC) AS rn
            FROM scored
        )
        SELECT eval_id, vec_id, cosine,
               cosine >= {CONTAM_COS_LEAK} AS leaked
        FROM ranked WHERE rn = 1
    """,
    doc="Benchmark-leakage report, embedding space: for every eval-suite "
    "vector, its nearest corpus neighbor by cosine (rounded to 6 digits "
    "BEFORE ranking, ties to the lowest vec_id — identical boundary "
    "decisions in both engines) plus a leaked verdict at the "
    f"{CONTAM_COS_LEAK} near-duplicate threshold. The semantic sibling of "
    "contamination_ngram: a paraphrased eval item shares no 5-grams but "
    "keeps cosine ~1. Spark plans the whole thing as one map-side pass — "
    "broadcast eval rows against the corpus scan, partial max of "
    "(cosine, -vec_id) structs per eval_id — so nothing corpus-sized is "
    "ever shuffled: the exchange carries |eval| pre-aggregated rows. "
    "Output is exactly |eval| rows at any corpus size.",
    tags=("training", "contamination", "embedding", "similarity"),
)
def contamination_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _labeled_vecs(spark, sf_dir)
    ev = e.filter(F.col("vec_id") < CONTAM_EVAL_MAX_VEC_ID).select(
        F.col("vec_id").alias("eval_id"), F.col("v").alias("qv")
    )
    corp = e.filter(F.col("vec_id") >= CONTAM_EVAL_MAX_VEC_ID).select("vec_id", "v")
    scored = corp.crossJoin(F.broadcast(ev)).select(
        "eval_id",
        "vec_id",
        _vec_cosine(F.col("v"), F.col("qv")).alias("cosine"),
    )
    # max of (cosine, -vec_id) == highest cosine, ties to LOWEST vec_id;
    # the struct also carries vec_id so the winner unpacks without a join.
    best = scored.groupBy("eval_id").agg(
        F.max(
            F.struct(
                F.col("cosine"),
                (-F.col("vec_id")).alias("neg_id"),
                F.col("vec_id").alias("vid"),
            )
        ).alias("m")
    )
    return best.select(
        "eval_id",
        F.col("m.vid").alias("vec_id"),
        F.col("m.cosine").alias("cosine"),
        (F.col("m.cosine") >= F.lit(CONTAM_COS_LEAK)).alias("leaked"),
    )


@query(
    "contamination_semantic_profile",
    oracle=f"""
        WITH e AS ({_SQL_LABELED_VECS}),
        ev AS (SELECT v AS qv FROM e WHERE vec_id < {CONTAM_EVAL_MAX_VEC_ID}),
        corp AS (SELECT vec_id, label, v FROM e
                 WHERE vec_id >= {CONTAM_EVAL_MAX_VEC_ID}),
        pervec AS (
            SELECT corp.vec_id, corp.label,
                   max({_sql_vec_cosine_corp_ev}) AS top1
            FROM corp, ev
            GROUP BY corp.vec_id, corp.label
        )
        SELECT CAST(label AS BIGINT) AS label,
               CAST(count(*) AS BIGINT) AS n_vecs,
               max(top1) AS max_cosine,
               CAST(count(CASE WHEN top1 >= {CONTAM_COS_REVIEW} THEN 1 END)
                    AS BIGINT) AS n_review,
               CAST(count(CASE WHEN top1 >= {CONTAM_COS_LEAK} THEN 1 END)
                    AS BIGINT) AS n_leaked
        FROM pervec
        GROUP BY label
    """,
    doc="The decontamination DUAL of contamination_semantic: per corpus "
    "REGION (the embeddings' cluster label — per-source or per-shard in "
    "production), how close the corpus sits to the eval suite — vector "
    "count, max top-1 cosine, and counts above the review "
    f"({CONTAM_COS_REVIEW}) and leak ({CONTAM_COS_LEAK}) thresholds. This "
    "is the manifest a curation step consults before dropping documents: "
    "per-vector top-1 cosines reduce map-side (broadcast eval, partial "
    "max per vec_id), the label rollup is |labels| rows, and every "
    "threshold compares the SAME rounded double in both engines, so "
    "counts can never drift by a boundary flip. Nothing corpus-quadratic "
    "at any scale; eval-side growth is handled by the LSH pre-gate noted "
    "above.",
    tags=("training", "contamination", "embedding", "profiling"),
)
def contamination_semantic_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _labeled_vecs(spark, sf_dir)
    ev = e.filter(F.col("vec_id") < CONTAM_EVAL_MAX_VEC_ID).select(
        F.col("v").alias("qv")
    )
    corp = e.filter(F.col("vec_id") >= CONTAM_EVAL_MAX_VEC_ID).select(
        "vec_id", "label", "v"
    )
    pervec = (
        corp.crossJoin(F.broadcast(ev))
        .select("vec_id", "label", _vec_cosine(F.col("v"), F.col("qv")).alias("c"))
        .groupBy("vec_id", "label")
        .agg(F.max("c").alias("top1"))
    )
    return pervec.groupBy(F.col("label").cast("long").alias("label")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.max("top1").alias("max_cosine"),
        F.count(F.when(F.col("top1") >= CONTAM_COS_REVIEW, 1)).alias("n_review"),
        F.count(F.when(F.col("top1") >= CONTAM_COS_LEAK, 1)).alias("n_leaked"),
    )

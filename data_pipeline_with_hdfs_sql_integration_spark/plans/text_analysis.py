"""Text-analysis operators for a training-data pipeline: token
counting, quality scoring, language ID, document fingerprinting.

All run over `documents` as pure JVM-side column expressions (no
Python UDFs — each stays inside whole-stage codegen and scales
linearly with no shuffle except the final none). Every query is
oracle-checked against an arithmetic-identical DuckDB SQL pipeline
built from the shared constants in functions/textfns.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import checkpoint, load_parallel, persist, row_count, table_path
from data_pipeline_with_hdfs_sql_integration_spark.functions import textfns as tf
from data_pipeline_with_hdfs_sql_integration_spark.registry import query

# Tiny per-language stopword lists for the n-gram/stopword heuristic
# language ID. Deterministic, shared with the oracle.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en": ("the", "and", "of", "to", "is", "in", "that", "it"),
    "es": ("el", "la", "que", "de", "los", "una", "es", "por"),
    "fr": ("le", "la", "les", "des", "est", "une", "dans", "que"),
    "zh": ("de", "shi", "le", "bu", "wo", "zai", "you", "ta"),
}

QUALITY_STOPWORDS = LANG_STOPWORDS["en"]


def token_tf_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-(doc_id, tok) term-frequency relation, memo-persisted
    once per session. Several queries re-derive this identical base
    (tfidf's tf/df pair, the sparse-cosine verify's posting vectors);
    before the memo each consumer paid its own corpus scan + explode +
    aggregate (guide §5 caching — reused AND expensive to recompute).
    Columns: doc_id, tok, tf (count of tok in doc)."""
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import memo_persist

    def build() -> DataFrame:
        docs = load_parallel(spark, sf_dir, "documents")
        toks = docs.select("doc_id", F.explode(tf.tokens(F.col("text"))).alias("tok"))
        return toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))

    return memo_persist(spark, "tfidf_tfs", sf_dir, build)


@query(
    "text_token_stats",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {tf.sql_tokens('text')} AS t FROM documents
        )
        SELECT doc_id,
               CAST(len(t) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_tokens,
               CAST(len(list_filter(t, x -> len(x) >= 6)) AS BIGINT) AS n_long_tokens
        FROM toks
    """,
    doc="Token counting (whitespace/punct split): per-document token, "
    "distinct-token and long-token counts. Pure map-side column math.",
    tags=("text",),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    t = tf.tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(t).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("long").alias("n_distinct_tokens"),
        F.size(F.filter(t, lambda x: F.length(x) >= 6)).cast("long").alias("n_long_tokens"),
    )


@query(
    "text_quality",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, text, {tf.sql_tokens('text')} AS t FROM documents
        )
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                     / length(text), 6) AS alpha_ratio,
               round(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                     / length(text), 6) AS punct_ratio,
               round(CAST(len(list_filter(t, x -> x IN ({", ".join(repr(w) for w in QUALITY_STOPWORDS)})))
                          AS DOUBLE) / greatest(len(t), 1), 6) AS stopword_ratio
        FROM toks
        WHERE length(text) > 0
    """,
    doc="Quality scoring: alpha/punct/stopword ratios per document — the "
    "heuristics a pretraining filter runs before expensive scoring.",
    tags=("text",),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents").filter(F.length("text") > 0)
    t = tf.tokens(F.col("text"))
    sw = list(QUALITY_STOPWORDS)
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.round(
            F.length(F.regexp_replace("text", "[^A-Za-z]", "")).cast("double") / F.length("text"), 6
        ).alias("alpha_ratio"),
        F.round(
            F.length(F.regexp_replace("text", "[^.,;:!?]", "")).cast("double") / F.length("text"), 6
        ).alias("punct_ratio"),
        F.round(
            F.size(F.filter(t, lambda x: x.isin(sw))).cast("double")
            / F.greatest(F.size(t), F.lit(1)),
            6,
        ).alias("stopword_ratio"),
    )


def _isin_pred(words: tuple[str, ...]):
    # One-arg lambda factory: pyspark HOFs dispatch on lambda arity, so a
    # default-arg closure (lambda x, ws=ws) would receive the array index.
    return lambda x: x.isin(list(words))


def _lang_score_sql(lang: str) -> str:
    words = ", ".join(repr(w) for w in LANG_STOPWORDS[lang])
    return f"len(list_filter(t, x -> x IN ({words})))"


@query(
    "text_langid",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, lang, {tf.sql_tokens('text')} AS t FROM documents
        ),
        scores AS (
            SELECT doc_id, lang,
                   {", ".join(f"{_lang_score_sql(code)} AS s_{code}" for code in sorted(LANG_STOPWORDS))}
            FROM toks
        )
        SELECT doc_id, lang AS labeled_lang,
               CASE greatest(s_de, s_en, s_es, s_fr, s_zh)
                    WHEN s_de THEN 'de' WHEN s_en THEN 'en' WHEN s_es THEN 'es'
                    WHEN s_fr THEN 'fr' ELSE 'zh' END AS predicted_lang
        FROM scores
    """,
    doc="Language ID via stopword-vote heuristic (n-gram-free variant; "
    "ties break in alphabetical language order on both engines).",
    tags=("text",),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    t = tf.tokens(F.col("text"))
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[
            F.size(F.filter(t, _isin_pred(ws))).alias(f"s_{code}")
            for code, ws in sorted(LANG_STOPWORDS.items())
        ],
    )
    best = F.greatest(*[F.col(f"s_{c}") for c in sorted(LANG_STOPWORDS)])
    pred = (
        F.when(F.col("s_de") == best, "de")
        .when(F.col("s_en") == best, "en")
        .when(F.col("s_es") == best, "es")
        .when(F.col("s_fr") == best, "fr")
        .otherwise("zh")
    )
    return scored.select("doc_id", "labeled_lang", pred.alias("predicted_lang"))


@query(
    "text_fingerprint",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {tf.sql_tokens('text')} AS t FROM documents
        ),
        th AS (
            SELECT doc_id,
                   list_transform(t, s -> {tf.sql_poly_hash_str('s')}) AS hs
            FROM toks
        )
        SELECT doc_id, {tf.sql_poly_hash_longs('hs')} AS fingerprint
        FROM th
    """,
    doc="Document fingerprint: rolling polynomial hash over the token "
    "hash sequence — order-sensitive (catches re-shuffled boilerplate "
    "that set-based hashes miss).",
    tags=("text", "dedup"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    token_hashes = F.transform(tf.tokens(F.col("text")), lambda s: tf.poly_hash_str(s))
    return docs.select("doc_id", tf.poly_hash_longs(token_hashes).alias("fingerprint"))


@query(
    "text_bpe_token_count",
    oracle=r"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(lower(text),
                    '[a-z]+|[0-9]+|[^a-z0-9\s]+')) AS BIGINT) AS n_bpe_tokens,
               CAST(len(regexp_extract_all(lower(text), '[0-9]+')) AS BIGINT) AS n_number_runs
        FROM documents
    """,
    doc="BPE-ish token counting: a GPT-2-style pre-tokenizer regex "
    "(letter runs | digit runs | symbol runs) counts the units a "
    "byte-pair encoder would start from — the cheap upper-bound token "
    "estimate a training pipeline uses for budget accounting. "
    "regexp_extract_all is a codegen'd JVM expression; the pattern "
    "avoids engine-specific classes so DuckDB's RE2 matches Java "
    "regex run-for-run.",
    tags=("text", "tokens"),
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    lowered = F.lower(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(lowered, F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]+"), F.lit(0))).cast(
            "long"
        ).alias("n_bpe_tokens"),
        F.size(F.regexp_extract_all(lowered, F.lit(r"[0-9]+"), F.lit(0))).cast("long").alias(
            "n_number_runs"
        ),
    )


@query(
    "text_bpe_pair_counts",
    oracle=f"""
        WITH toks AS (
            SELECT unnest({tf.sql_tokens('text')}) AS tok FROM documents
        ),
        chars AS (
            SELECT list_filter(string_split(tok, ''), c -> c <> '') AS c
            FROM toks WHERE len(tok) >= 2
        ),
        pairs AS (
            SELECT c[i] || c[i + 1] AS pair
            FROM chars
            CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(c) - 1)) AS i) u
        )
        SELECT pair, CAST(count(*) AS BIGINT) AS n_occurrences
        FROM pairs
        GROUP BY pair
        ORDER BY n_occurrences DESC, pair ASC
        LIMIT 50
    """,
    doc="Tokenizer-training pair statistics: corpus-wide adjacent "
    "character-pair frequencies over every token occurrence (with "
    "multiplicity) — exactly the count a BPE trainer computes to pick "
    "its next merge; the top row IS the next merge candidate. One "
    "shuffle: explode pairs → map-side-combined hash aggregate → "
    "top-50 TakeOrderedAndProject with a total tie-break. At 100 TB "
    "the pair alphabet is bounded (|alphabet|^2), so the aggregate "
    "state is constant-size per task no matter the corpus.",
    tags=("text", "tokens", "training"),
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    tok = F.explode(tf.tokens(F.col("text"))).alias("tok")
    toks = docs.select(tok).filter(F.length("tok") >= 2)
    c = F.filter(F.split(F.col("tok"), ""), lambda x: x != "")
    pairs = toks.select(
        F.explode(
            F.zip_with(
                F.slice(c, 1, F.size(c) - 1),
                F.slice(c, 2, F.size(c) - 1),
                lambda a, b: F.concat(a, b),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
        .limit(50)
    )


BPE_MERGE_ROUNDS = 16


@query(
    "text_bpe_learn_merges",
    oracle=None,  # iterative fixpoint-style algorithm; mirrored by a
    # pure-Python reference implementation in tests instead of SQL
    doc=f"BPE merge TRAINING on the corpus: {BPE_MERGE_ROUNDS} rounds of "
    "(count adjacent symbol pairs over every token occurrence -> take "
    "the most frequent pair, ties lexicographic -> fuse it everywhere "
    "via a greedy leftmost fold). Returns the learned merge table "
    "(round, sym_a, sym_b, merged, n_occurrences) — the artifact a "
    "tokenizer trainer produces. SCALES VIA THE WORD-FREQUENCY TABLE "
    "(the standard distributed-BPE trick): the corpus is aggregated "
    "ONCE into (distinct word -> occurrence count), and every round "
    "iterates on that bounded vocab-sized relation — pair counts are "
    "sum(freq), exactly equal to per-occurrence counting because "
    "merges never cross word boundaries. Rounds × corpus-scan never "
    "happens: 100 TB of text with a ~1M-word vocab costs one corpus "
    "scan + rounds over 1M rows, so 10^4 merges stay feasible. Each "
    "round is ONE map-side-combined aggregate over the vocab plus a "
    "1-row driver collect (the argmax pair — constant-size at any "
    "scale, same pattern as k-means centroids); the merge application "
    "is a JVM HOF fold, zero Python. Each round localCheckpoints the "
    "vocab so round r+1's plan starts from materialized state — "
    "without the truncation, 16 nested fold lambdas accrete into one "
    "plan and codegen/optimizer memory grows with the round count "
    "(measured: OOMs a 1 GiB driver at round ~12). Rows-only by design "
    "(greedy stateful "
    "iteration isn't SQL-expressible); a pure-Python reference "
    "implementation verifies the merge table in tests/test_bpe_learn.py.",
    tags=("text", "tokens", "training"),
)
def text_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    chars = F.filter(F.split(F.col("tok"), ""), lambda x: x != "")
    # The ONLY full-corpus pass: token occurrences -> (distinct word, freq).
    words = persist(
        docs.select(F.explode(tf.tokens(F.col("text"))).alias("tok"))
        .filter(F.length("tok") >= 2)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(chars.alias("syms"), "freq")
    )
    records = []
    for rnd in range(1, BPE_MERGE_ROUNDS + 1):
        pairs = words.select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("syms"), 1, F.size("syms") - 1),
                    F.slice(F.col("syms"), 2, F.size("syms") - 1),
                    lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                )
            ).alias("p"),
            "freq",
        )
        top = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.col("n").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, n = top[0]["a"], top[0]["b"], top[0]["n"]
        merged = a + b
        records.append((rnd, a, b, merged, n))
        # Greedy leftmost fold: merge never cascades within one round
        # because the fused symbol is strictly longer than sym_a.
        aq, bq, mq = a.replace("'", "''"), b.replace("'", "''"), merged.replace("'", "''")
        apply_merge = F.expr(
            f"aggregate(syms, cast(array() as array<string>), (acc, s) -> "
            f"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '{aq}' AND s = '{bq}' "
            f"THEN concat(slice(acc, 1, size(acc) - 1), array('{mq}')) "
            f"ELSE concat(acc, array(s)) END)"
        )
        # The eager checkpoint materializes AND truncates lineage, so
        # the next round's plan holds exactly one fold expression.
        nxt = checkpoint(words.select(apply_merge.alias("syms"), "freq"))
        words.unpersist()
        words = nxt
    words.unpersist()
    return spark.createDataFrame(
        records, "round int, sym_a string, sym_b string, merged string, n_occurrences long"
    )


@query(
    "text_heavy_hitters",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest({tf.sql_tokens('text')}) AS tok FROM documents
        )
        SELECT tok,
               CAST(count(*) AS BIGINT) AS n_occurrences,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM toks
        GROUP BY tok
        ORDER BY n_occurrences DESC, tok ASC
        LIMIT 25
    """,
    doc="Corpus heavy hitters: explode tokens → hash aggregate → top-25 "
    "by (count desc, token asc — deterministic tie-break). Plans as "
    "partial map-side aggregation per token before the shuffle and "
    "TakeOrderedAndProject for the top-k (per-partition heaps, no "
    "global sort). The exact-count baseline a count-min/space-saving "
    "sketch would approximate at 100 TB.",
    tags=("text", "topk"),
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tf.tokens(F.col("text"))).alias("tok"))
    return (
        toks.groupBy("tok")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("tok").asc())
        .limit(25)
    )


@query(
    "text_normalize",
    oracle=r"""
        SELECT doc_id,
               length(trim(regexp_replace(regexp_replace(lower(text), '[0-9]+', '<num>', 'g'),
                           '\s+', ' ', 'g'))) AS n_norm_chars,
               CAST(len(regexp_extract_all(text, '<num>')) AS BIGINT) AS n_preexisting_markers
        FROM documents
    """,
    doc="Text normalization pipeline: lowercase → digit-run masking to "
    "<num> → whitespace collapse → trim, reported as normalized length "
    "(plus a guard count of pre-existing markers, 0 on clean corpora). "
    "A chain of regexp_replace expressions — one codegen stage, no "
    "Python, no shuffle: the shape every map-side cleaning pass "
    "should have. DuckDB needs the 'g' flag for global replace; "
    "Spark's regexp_replace is global by default.",
    tags=("text", "normalize"),
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[0-9]+", "<num>"),
            r"\s+",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        F.length(norm).alias("n_norm_chars"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("<num>"), F.lit(0)))
        .cast("long")
        .alias("n_preexisting_markers"),
    )


IDF_SCALE = 1_000_000


@query(
    "text_tfidf_topterm",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest({tf.sql_tokens('text')}) AS tok FROM documents
        ),
        tfs AS (
            SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
        ),
        dfs AS (
            SELECT tok, count(DISTINCT doc_id) AS df FROM tfs GROUP BY tok
        ),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT t.doc_id, t.tok,
                   t.tf * (n.n_docs * {IDF_SCALE} // d.df) AS score
            FROM tfs t JOIN dfs d ON t.tok = d.tok, n
        )
        SELECT doc_id, tok AS top_token, CAST(score AS BIGINT) AS score
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                           ORDER BY score DESC, tok ASC) AS rn
              FROM scored) s
        WHERE rn = 1
    """,
    doc="TF-IDF-style top term per document with a RATIONAL idf "
    f"(n_docs*{IDF_SCALE} div df — exact integers, no log, so both "
    "engines agree bit-for-bit and ties break lexicographically). "
    "Shape: explode → (doc,tok) tf agg → df agg (token-keyed, "
    "skew-tolerant) → broadcast df back → per-doc window top-1. At "
    "100 TB the df table is vocabulary-sized — orders smaller than the "
    "corpus — so the re-join broadcasts.",
    tags=("text", "tfidf"),
)
def text_tfidf_topterm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # The corpus size from the parquet footers on the driver: counting
    # with Spark ran a job at plan-build time.
    n_docs = row_count(spark, table_path(sf_dir, "documents"))
    # tfs feeds BOTH the df aggregate and the scored join — without the
    # persist the optimizer re-derives it per consumer and the corpus
    # is scanned + exploded + aggregated twice (r12 plan: two parquet
    # scans of documents; guide §2.4 "remove shuffles outright").
    tfs = token_tf_base(spark, sf_dir)
    # tfs is unique per (doc_id, tok) by construction, so the document
    # frequency is a plain count(*) — countDistinct(doc_id) planned a
    # second full aggregate level (expand + re-shuffle) for the same
    # value (guide §2.3 "aggregate before you shuffle").
    dfs = tfs.groupBy("tok").agg(F.count("*").alias("df"))
    # long arithmetic: n_docs * 1e6 overflows int32 beyond ~2k docs
    idf = (F.lit(n_docs).cast("long") * IDF_SCALE / F.col("df")).cast("long")  # floor div
    scored = tfs.join(F.broadcast(dfs.select("tok", idf.alias("idf"))), "tok").select(
        "doc_id", "tok", (F.col("tf") * F.col("idf")).alias("score")
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("tok").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("tok").alias("top_token"), F.col("score").cast("long"))
    )


MIN_TOKENS = 5
MAX_TOKENS = 5000


@query(
    "pipeline_clean_corpus",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, lang, source, {tf.sql_tokens('text')} AS t FROM documents
        ),
        feats AS (
            SELECT doc_id, lang, source,
                   len(t) AS n_tokens,
                   len(list_distinct(t)) AS n_distinct
            FROM toks
        ),
        verdicts AS (
            SELECT lang, source,
                   (n_tokens >= {MIN_TOKENS} AND n_tokens <= {MAX_TOKENS}
                    AND n_distinct * 10 >= n_tokens * 3) AS keep
            FROM feats
        )
        SELECT lang, source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) FILTER (keep) AS BIGINT) AS n_kept,
               CAST(count(*) FILTER (NOT keep) AS BIGINT) AS n_filtered
        FROM verdicts
        GROUP BY lang, source
    """,
    doc="Corpus-cleaning pipeline in one scan: tokenize → length gate "
    f"([{MIN_TOKENS}, {MAX_TOKENS}] tokens) → repetition gate (distinct/"
    "total ratio >= 0.3, in exact integer cross-multiplication so no FP "
    "boundary flips) → kept/filtered counts per (lang, source). The "
    "shape every pretraining filter job has: all gates are map-side "
    "column math over one pass; only the final tiny aggregate "
    "shuffles.",
    tags=("text", "pipeline"),
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    t = tf.tokens(F.col("text"))
    n_tokens = F.size(t)
    n_distinct = F.size(F.array_distinct(t))
    keep = (
        (n_tokens >= MIN_TOKENS)
        & (n_tokens <= MAX_TOKENS)
        & (n_distinct * 10 >= n_tokens * 3)
    )
    return (
        docs.select("lang", "source", keep.alias("keep"))
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("keep"), 1)).alias("n_kept"),
            F.count(F.when(~F.col("keep"), 1)).alias("n_filtered"),
        )
    )


@query(
    "text_posting_lists",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest({tf.sql_tokens('text')}) AS token FROM documents
        ), postings AS (
            SELECT token,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
                   CAST(COUNT(*) AS BIGINT) AS total_tf,
                   CAST(SUM(DISTINCT doc_id) AS BIGINT) AS sum_doc_ids,
                   array_to_string(list_slice(list_sort(list(DISTINCT doc_id)), 1, 20), ',')
                       AS head_postings
            FROM toks GROUP BY token
        )
        SELECT token, df, total_tf, sum_doc_ids, head_postings
        FROM postings
        ORDER BY df DESC, token ASC
        LIMIT 50
    """,
    doc="Inverted-index build: explode tokens, group into per-term "
    "posting stats (document frequency, total term frequency, an "
    "order-independent BIGINT checksum of the posting set, and the "
    "first 20 sorted doc ids as a bounded posting-list sample). At "
    "100 TB this is the standard index-construction shuffle — one "
    "explode + one groupBy(token) with map-side partial aggregation; "
    "a real deployment writes the full postings to a sink instead of "
    "truncating, the plan shape is identical.",
    tags=("text", "index"),
)
def text_posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Aggregate the shared (doc_id, tok, tf) base instead of the raw
    # exploded stream: doc_id is unique per token there, so every
    # DISTINCT aggregate becomes a plain one — count_distinct ->
    # count(*), sum_distinct -> sum, collect_set -> collect_list —
    # removing the Expand + double-aggregate plan the distinct trio
    # forced (guide §2.3 aggregate before you shuffle), and the base
    # itself is the session's one persisted copy.
    tfs = token_tf_base(spark, sf_dir)
    return (
        tfs.groupBy(F.col("tok").alias("token"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("tf").alias("total_tf"),
            F.sum("doc_id").alias("sum_doc_ids"),
            F.array_join(
                F.slice(F.array_sort(F.collect_list("doc_id")), 1, 20), ","
            ).alias("head_postings"),
        )
        .orderBy(F.col("df").desc(), F.col("token").asc())
        .limit(50)
    )


@query(
    "stream_clean_corpus",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, lang, source, {tf.sql_tokens('text')} AS t FROM documents
        ),
        feats AS (
            SELECT doc_id, lang, source,
                   len(t) AS n_tokens,
                   len(list_distinct(t)) AS n_distinct
            FROM toks
        ),
        verdicts AS (
            SELECT lang, source,
                   (n_tokens >= {MIN_TOKENS} AND n_tokens <= {MAX_TOKENS}
                    AND n_distinct * 10 >= n_tokens * 3) AS keep
            FROM feats
        )
        SELECT lang, source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) FILTER (keep) AS BIGINT) AS n_kept,
               CAST(count(*) FILTER (NOT keep) AS BIGINT) AS n_filtered
        FROM verdicts
        GROUP BY lang, source
    """,
    doc="The corpus-cleaning gates (same length/repetition thresholds "
    "as pipeline_clean_corpus) run over DOCUMENTS AS A STREAM: "
    "token-gate stages are stateless map work, so they compose onto "
    "readStream unchanged and only the final per-(lang, source) count "
    "is streaming state — one row per group, bounded at any corpus "
    "size. availableNow result equals the batch semantics (the oracle "
    "IS the batch SQL). With pii -> scrub and documents -> gates, the "
    "whole ingest-cleaning front of a training pipeline runs in either "
    "execution mode from one code path.",
    tags=("streaming", "text"),
)
def stream_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_hdfs_sql_integration_spark.streaming import windows as W

    docs = W.documents_stream(spark, sf_dir)
    t = tf.tokens(F.col("text"))
    n_tokens = F.size(t)
    n_distinct = F.size(F.array_distinct(t))
    keep = (
        (n_tokens >= MIN_TOKENS)
        & (n_tokens <= MAX_TOKENS)
        & (n_distinct * 10 >= n_tokens * 3)
    )
    agg = (
        docs.select("lang", "source", keep.alias("keep"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("keep"), 1)).alias("n_kept"),
            F.count(F.when(~F.col("keep"), 1)).alias("n_filtered"),
        )
    )
    return W.run_to_memory(agg, output_mode="complete")


PHRASE_W1, PHRASE_W2 = "table", "scan"


@query(
    "search_phrase_docs",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {tf.sql_tokens('text')} AS t FROM documents
        ),
        hits AS (
            SELECT doc_id,
                   CAST(len(list_filter(generate_series(1, len(t) - 1),
                        i -> t[i] = '{PHRASE_W1}' AND t[i+1] = '{PHRASE_W2}'))
                        AS BIGINT) AS n_occurrences
            FROM toks WHERE len(t) >= 2
        )
        SELECT doc_id, n_occurrences FROM hits WHERE n_occurrences > 0
    """,
    doc=f"Phrase search ('{PHRASE_W1} {PHRASE_W2}') via positional "
    "posting intersection — the standard inverted-index phrase plan: "
    "posexplode to (doc_id, pos, token), keep ONLY the two terms' "
    "postings (selective filters land before the shuffle, so only the "
    "phrase terms' postings move — not the corpus), then an equi-join "
    "on (doc_id, pos) with the second term's positions shifted by one, "
    "and a per-doc count. At 100 TB the postings come from a "
    "pre-built positional index (text_posting_lists' layout plus a "
    "positions column) instead of tokenizing at query time; the "
    "join-on-shifted-positions plan is identical. The oracle computes "
    "the same counts per-row with a list comprehension — different "
    "implementation, same semantics, so parity checks meaning rather "
    "than plan.",
    tags=("text", "search"),
)
def search_phrase_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(tf.tokens(F.col("text"))).alias("pos", "token")
    )
    # Persist the two terms' postings BEFORE branching: without the
    # barrier each branch re-scans and re-tokenizes the whole corpus
    # (measured 2 scans in the plan); with it the corpus is tokenized
    # once and only the tiny posting table is read twice.
    pos_f = persist(pos.filter(F.col("token").isin(PHRASE_W1, PHRASE_W2)))
    a = pos_f.filter(F.col("token") == PHRASE_W1).select("doc_id", "pos")
    b = pos_f.filter(F.col("token") == PHRASE_W2).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    return (
        a.join(b, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )


# ------------------------------------------------------ linear quality model
#: Hand-set linear weights over the quality ratios — the stand-in for a
#: trained fasttext/logreg quality classifier. Inference is PURE INTEGER
#: fixed-point: features are floor-scaled ratios (x1e6 numerator integer
#: division), weights are integers x10, so the score (x1e7) is exact
#: BIGINT arithmetic — no doubles anywhere, hence no cross-engine FP
#: reassociation/ulp drift (a double formulation mismatched one row in
#: 500 at the 6th decimal). No sigmoid: a monotone linear score
#: thresholds identically and transcendentals round differently across
#: libms.
QM_FP = 1_000_000  # feature fixed-point scale
QM_W10_INTERCEPT = -6  # -0.6 x10
QM_W10_ALPHA = 12  # 1.2 x10
QM_W10_PUNCT = -8  # -0.8 x10
QM_W10_STOPWORD = 15  # 1.5 x10
QM_W10_LEN = 5  # 0.5 x10
QM_THRESHOLD_FP = 5_500_000  # 0.55 at the x1e7 score scale


@query(
    "quality_model_score",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, text, {tf.sql_tokens('text')} AS t FROM documents
        ),
        feats AS (
            SELECT doc_id,
                   CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT)
                       * {QM_FP} // length(text) AS alpha_fp,
                   CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT)
                       * {QM_FP} // length(text) AS punct_fp,
                   CAST(len(list_filter(t, x -> x IN ({", ".join(repr(w) for w in QUALITY_STOPWORDS)})))
                       AS BIGINT) * {QM_FP} // greatest(len(t), 1) AS stop_fp,
                   CAST(least(length(text), 1000) AS BIGINT) * 1000 AS len_fp
            FROM toks WHERE length(text) > 0
        )
        SELECT doc_id,
               CAST({QM_W10_INTERCEPT} * {QM_FP}
                    + {QM_W10_ALPHA} * alpha_fp
                    + {QM_W10_PUNCT} * punct_fp
                    + {QM_W10_STOPWORD} * stop_fp
                    + {QM_W10_LEN} * len_fp AS BIGINT) AS score_fp,
               ({QM_W10_INTERCEPT} * {QM_FP}
                    + {QM_W10_ALPHA} * alpha_fp
                    + {QM_W10_PUNCT} * punct_fp
                    + {QM_W10_STOPWORD} * stop_fp
                    + {QM_W10_LEN} * len_fp) >= {QM_THRESHOLD_FP} AS keep
        FROM feats
    """,
    doc="Model-based quality scoring surface: a linear model over the "
    "quality ratios (the trained-classifier stand-in — swap weights "
    "for a real logreg and nothing else changes) scores every document "
    "and thresholds a keep decision. Inference is exact BIGINT "
    "fixed-point (features x1e6 by integer division, weights x10, "
    "score x1e7), so both engines agree bit-for-bit and 100 TB scoring "
    "is a map-only integer pass.",
    tags=("text", "training", "model"),
)
def quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents").filter(F.length("text") > 0)
    t = tf.tokens(F.col("text"))
    sw = list(QUALITY_STOPWORDS)
    n_chars = F.length("text").cast("long")
    # `div` = exact BIGINT integer division (≙ DuckDB `//`) where the
    # whole feature is SQL-text expressible; the stopword feature needs
    # the Column-lambda filter, so it divides in double + floor — safe
    # because numerator < 2^53 (exact) and the true quotient is never
    # within one double-ulp of an integer it doesn't equal (operands
    # are bounded by 1e9/1e3).
    alpha_fp = F.expr(
        f"cast(length(regexp_replace(text, '[^A-Za-z]', '')) as bigint) * {QM_FP} div length(text)"
    )
    punct_fp = F.expr(
        f"cast(length(regexp_replace(text, '[^.,;:!?]', '')) as bigint) * {QM_FP} div length(text)"
    )
    stop_fp = F.floor(
        (F.size(F.filter(t, lambda x: x.isin(sw))).cast("long") * QM_FP)
        / F.greatest(F.size(t).cast("long"), F.lit(1).cast("long"))
    ).cast("long")
    len_fp = F.least(n_chars, F.lit(1000).cast("long")) * 1000
    score = (
        F.lit(QM_W10_INTERCEPT).cast("long") * QM_FP
        + F.lit(QM_W10_ALPHA).cast("long") * alpha_fp
        + F.lit(QM_W10_PUNCT).cast("long") * punct_fp
        + F.lit(QM_W10_STOPWORD).cast("long") * stop_fp
        + F.lit(QM_W10_LEN).cast("long") * len_fp
    )
    return docs.select(
        "doc_id", score.alias("score_fp"), (score >= QM_THRESHOLD_FP).alias("keep")
    )


@query(
    "quality_lm_bigram",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {tf.sql_tokens('text')} AS t FROM documents
        ),
        grams AS (
            SELECT s.doc_id, s.t[u.i] AS a, s.t[u.i + 1] AS b
            FROM (SELECT * FROM toks WHERE len(t) >= 2) s
            CROSS JOIN LATERAL (
                SELECT unnest(generate_series(1, len(s.t) - 1)) AS i
            ) u
        ),
        cab AS (SELECT a, b, count(*) AS cab FROM grams GROUP BY a, b),
        ca AS (SELECT a, count(*) AS ca FROM grams GROUP BY a),
        p AS (
            SELECT cab.a, cab.b,
                   (cab.cab * 1000000) // ca.ca AS p_ppm
            FROM cab JOIN ca ON cab.a = ca.a
        ),
        dg AS (SELECT doc_id, a, b, count(*) AS k FROM grams GROUP BY doc_id, a, b)
        SELECT dg.doc_id,
               CAST(sum(dg.k) AS BIGINT) AS n_bigrams,
               CAST(sum(dg.k * p.p_ppm) // sum(dg.k) AS BIGINT) AS avg_bigram_ppm
        FROM dg JOIN p ON dg.a = p.a AND dg.b = p.b
        GROUP BY dg.doc_id
    """,
    doc="Bigram-LM likelihood quality score (the CCNet motif: filter "
    "training text by how predictable a corpus-trained n-gram LM finds "
    "it) in exact fixed point: the LM is p(b|a) = c(ab)/c(a·) floored "
    "to parts-per-million (integer div — no float log, no cross-engine "
    "ulp drift), and a document scores the k-weighted mean p_ppm of "
    "its bigram multiset. Low scores flag gibberish/boilerplate-free "
    "weirdness; high scores flag repetitive text — both tails are "
    "standard cut candidates. Scale shape: the exploded bigram "
    "relation is aggregated THREE ways, each with map-side partials "
    "(corpus bigram counts = the LM, first-token totals, per-doc "
    "bigram multisets); the LM tables are vocab-bounded — at 100 TB "
    "publish them once as a store (catalog.publish_store, like the "
    "minhash/IVF indexes) and score any corpus against them with one "
    "vocab-keyed join; sum(k*p_ppm) stays under int64 for corpora up "
    "to ~9e12 bigrams (beyond that, widen to decimal(38,0)).",
    tags=("text", "quality", "training"),
)
def quality_lm_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import memo_persist

    # ONE hash(doc_id) exchange serves every doc-keyed operator
    # (guide §2.4, the window_weighted_median pattern): the small-input
    # CPU spread is keyed by doc_id instead of round-robin, so the
    # (doc_id, a, b) grouping (partitioning key ⊆ grouping keys) AND
    # the final per-doc score grouping both reuse it — the r12 plan
    # paid separate exchanges for each. At scale the spread is a no-op
    # (scan-native splits) and those exchanges come back, exactly as
    # before — the rewrite removes local fixed cost, not scale cost.
    docs = load_parallel(spark, sf_dir, "documents", key="doc_id")
    toks = docs.select("doc_id", tf.tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= 2
    )
    pairs = F.transform(
        F.sequence(F.lit(0), F.size("t") - 2),
        lambda i: F.struct(
            F.get(F.col("t"), i).alias("a"), F.get(F.col("t"), i + 1).alias("b")
        ),
    )
    # Persist the per-doc bigram multiset — the SMALLEST relation that
    # still determines everything downstream: corpus bigram counts are
    # sum(k) over it, first-token totals are sum over those, so one
    # tokenize+explode pass feeds all three aggregates instead of three
    # full lineage re-runs. memo_persist (not a bare .persist): one
    # cached copy per session however often the query is constructed
    # (ADVICE r12).
    dg = memo_persist(
        spark, "lm_bigram_dg", sf_dir,
        lambda: toks.select("doc_id", F.explode(pairs).alias("g"))
        .groupBy("doc_id", F.col("g.a").alias("a"), F.col("g.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("k")),
    )
    # cab feeds BOTH the LM numerator and (re-aggregated) the per-first-
    # token denominator; without a barrier Catalyst evaluates the
    # vocab^2 aggregate twice (r13 plan: two identical Exchange+
    # HashAggregate subtrees over the dg cache).
    cab = memo_persist(
        spark, "lm_bigram_cab", sf_dir,
        lambda: dg.groupBy("a", "b").agg(F.sum("k").alias("cab")),
    )
    ca = cab.groupBy("a").agg(F.sum("cab").alias("ca"))
    p = cab.join(ca, "a").select(
        "a", "b", F.expr("cab * 1000000L div ca").alias("p_ppm")
    )
    return (
        dg.join(p, ["a", "b"])
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_bigrams"),
            F.expr("CAST(sum(k * p_ppm) div sum(k) AS BIGINT)").alias("avg_bigram_ppm"),
        )
    )


@query(
    "quality_char_entropy",
    oracle=f"""
        WITH chars AS (
            SELECT doc_id, unnest(list_filter(string_split(lower(text), ''),
                                              c -> c <> '')) AS ch
            FROM documents
        ),
        freq AS (
            SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch
        ),
        ent AS (
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_chars_used,
                   CAST(count(*) AS BIGINT) AS alphabet,
                   round(log2(CAST(sum(c) AS DOUBLE))
                         - sum(c * log2(CAST(c AS DOUBLE))) / sum(c), 6) AS entropy_bits
            FROM freq GROUP BY doc_id
        )
        SELECT doc_id, n_chars_used, alphabet, entropy_bits,
               CAST(entropy_bits >= 2.0 AND entropy_bits <= 6.0 AS BIGINT) AS keep
        FROM ent
    """,
    doc="Character-entropy quality gate (the classic gibberish/binary-"
    "junk filter): per-document Shannon entropy of the character "
    "distribution, computed as log2(n) - sum(c*log2(c))/n so the only "
    "transcendental calls take small INTEGER counts — the few distinct "
    "log2 inputs agree across engines, and rounding to 6 decimals "
    "absorbs any last-ulp drift (same determinism posture as the "
    "cosine family). Too-low entropy = repeated-character/boilerplate "
    "junk; too-high = random bytes or wrong-charset text; the keep "
    "band [2, 6] bits is the standard prose window. One explode + two "
    "map-side-combined aggregates; per-doc state is its alphabet "
    "(bounded), never its length.",
    tags=("text", "quality", "training"),
)
def quality_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id",
        F.explode(F.filter(F.split(F.lower("text"), ""), lambda c: c != "")).alias("ch"),
    )
    freq = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    ent = freq.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_chars_used"),
        F.count(F.lit(1)).cast("long").alias("alphabet"),
        F.round(
            F.log2(F.sum("c").cast("double"))
            - F.sum(F.col("c") * F.log2(F.col("c").cast("double"))) / F.sum("c"),
            6,
        ).alias("entropy_bits"),
    )
    return ent.select(
        "doc_id",
        "n_chars_used",
        "alphabet",
        "entropy_bits",
        ((F.col("entropy_bits") >= 2.0) & (F.col("entropy_bits") <= 6.0))
        .cast("long")
        .alias("keep"),
    )


@query(
    "quality_compression_ratio",
    oracle=None,  # zlib has no SQL counterpart — rows-only + unit-tested
    doc="Compressibility quality gate (the Gopher/RefinedWeb "
    "heuristic): deflate-compressed size over raw UTF-8 size per "
    "document. Repetitive boilerplate compresses far below prose "
    "(ratio << 0.4); random bytes/wrong-charset text refuse to "
    "compress (ratio near or above 1). zlib is not expressible in "
    "SQL, so this is a deliberate Python-boundary query done the "
    "approved way: an Arrow-batched pandas iterator (mapInPandas, "
    "nested closure so cloudpickle ships it by value), fixed "
    "compression level 6 for determinism, stdlib-only. Rows-only in "
    "the driver gate; tests/test_round5_units.py pins exact values "
    "against direct python zlib. Map-only at any scale — cost is "
    "linear in bytes scanned, no shuffle at all until the optional "
    "verdict aggregate.",
    tags=("text", "quality", "training", "python-boundary"),
)
def quality_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents").select("doc_id", "text")

    def _score(batches):
        # Nested closure: cloudpickle ships it by value, so workers
        # never import this module (driver may run from any cwd).
        import zlib

        import pandas as pd

        for pdf in batches:
            raw = pdf["text"].fillna("").str.encode("utf-8")
            raw_len = raw.str.len().astype("int64")
            comp_len = raw.map(lambda b: len(zlib.compress(b, 6))).astype("int64")
            ratio = (comp_len / raw_len.clip(lower=1)).round(6)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_bytes": raw_len,
                    "compressed_bytes": comp_len,
                    "compression_ratio": ratio,
                    "keep": ((ratio >= 0.25) & (ratio <= 1.05)).astype("int64"),
                }
            )

    schema = (
        "doc_id bigint, raw_bytes bigint, compressed_bytes bigint, "
        "compression_ratio double, keep bigint"
    )
    return docs.mapInPandas(_score, schema=schema)


@query(
    "pipeline_training_corpus",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, source, text, {tf.sql_tokens('text')} AS t
            FROM documents
        ),
        scored AS (
            SELECT doc_id, source, text,
                   len(t) AS n_tokens,
                   len(list_distinct(t)) AS n_distinct,
                   {", ".join(f"{_lang_score_sql(code)} AS s_{code}" for code in sorted(LANG_STOPWORDS))}
            FROM toks
        ),
        gated AS (
            SELECT doc_id, source, text, n_tokens
            FROM scored
            WHERE n_tokens >= {MIN_TOKENS} AND n_tokens <= {MAX_TOKENS}
              AND n_distinct * 10 >= n_tokens * 3
              AND CASE greatest(s_de, s_en, s_es, s_fr, s_zh)
                       WHEN s_de THEN 'de' WHEN s_en THEN 'en'
                       WHEN s_es THEN 'es' WHEN s_fr THEN 'fr'
                       ELSE 'zh' END = 'en'
        ),
        deduped AS (
            SELECT min(doc_id) AS doc_id
            FROM gated GROUP BY lower(sha256(text))
        )
        SELECT g.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(g.n_tokens) AS BIGINT) AS n_tokens
        FROM deduped d JOIN gated g ON d.doc_id = g.doc_id
        GROUP BY g.source
    """,
    doc="END-TO-END training-corpus build in one query — the "
    "composition proof that the engine's training-data operators "
    "stack: tokenize → length gate "
    f"([{MIN_TOKENS}, {MAX_TOKENS}]) → repetition gate (integer "
    "cross-multiplication) → stopword-vote language ID (keep English) "
    "→ exact sha256 dedup (min-doc_id representative) → per-source "
    "manifest (kept docs + token budget, the numbers a data-mixing "
    "step consumes). Scale shape: every gate is map-side column math "
    "in ONE scan; the dedup shuffle keys on the uniform 256-bit hash; "
    "the manifest aggregate is tiny. The full CCNet/RefinedWeb-style "
    "chain, value-oracled end to end.",
    tags=("text", "pipeline", "training", "dedup"),
)
def pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    t = tf.tokens(F.col("text"))
    scored = docs.select(
        "doc_id",
        "source",
        "text",
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_distinct"),
        *[
            F.size(F.filter(t, _isin_pred(ws))).alias(f"s_{code}")
            for code, ws in sorted(LANG_STOPWORDS.items())
        ],
    )
    best = F.greatest(*[F.col(f"s_{c}") for c in sorted(LANG_STOPWORDS)])
    pred = (
        F.when(F.col("s_de") == best, "de")
        .when(F.col("s_en") == best, "en")
        .when(F.col("s_es") == best, "es")
        .when(F.col("s_fr") == best, "fr")
        .otherwise("zh")
    )
    # Slim survivor projection, persisted: BOTH consumers (the dedup
    # aggregate and the manifest join-back) read ~50 bytes/doc from
    # cache instead of re-running the tokenize+langid lineage.
    gated = persist(
        scored.filter(
            (F.col("n_tokens") >= MIN_TOKENS)
            & (F.col("n_tokens") <= MAX_TOKENS)
            & (F.col("n_distinct") * 10 >= F.col("n_tokens") * 3)
            & (pred == "en")
        )
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.sha2(F.col("text"), 256).alias("h"),
        )
    )
    deduped = gated.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    return (
        deduped.select("doc_id")
        .join(gated, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )


def _register_text_langid_confusion() -> None:
    from data_pipeline_with_hdfs_sql_integration_spark import registry

    base_oracle = registry._REGISTRY["text_langid"].oracle

    @query(
        "text_langid_confusion",
        oracle=f"""
            WITH preds AS ({base_oracle})
            SELECT labeled_lang, predicted_lang,
                   CAST(count(*) AS BIGINT) AS n
            FROM preds
            GROUP BY labeled_lang, predicted_lang
        """,
        doc="Classifier evaluation as a query: the language-ID "
        "confusion matrix (labeled x predicted counts) over "
        "text_langid's predictions — the per-class error breakdown a "
        "model audit reads before trusting a filter stage (diagonal = "
        "correct, off-diagonal cells name exactly WHICH languages "
        "confuse). Reuses text_langid's oracle verbatim as the base "
        "CTE, so the evaluation and the model stay provably in sync. "
        "One aggregate over the prediction relation; the matrix is "
        "|langs|^2 rows at any corpus size.",
        tags=("text", "quality", "model"),
    )
    def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
        preds = registry._REGISTRY["text_langid"].fn(spark, sf_dir)
        return preds.groupBy("labeled_lang", "predicted_lang").agg(
            F.count("*").alias("n")
        )


_register_text_langid_confusion()


@query(
    "text_zipf_fit",
    oracle="""
        WITH counts AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS freq
            FROM (SELECT unnest(list_filter(string_split_regex(lower(text),
                         '[^a-z0-9]+'), x -> x <> '')) AS tok
                  FROM documents)
            GROUP BY tok
        ),
        ranked AS (
            SELECT freq,
                   row_number() OVER (ORDER BY freq DESC, tok ASC) AS rnk
            FROM counts
        ),
        pts AS (
            SELECT CAST(round(1000000 * log10(rnk)) AS BIGINT) AS x,
                   CAST(round(1000000 * log10(freq)) AS BIGINT) AS y
            FROM ranked
        ),
        sums AS (
            SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                   sum(x * y) AS sxy, sum(x * x) AS sxx
            FROM pts
        )
        SELECT CAST(n AS BIGINT) AS n_types,
               CAST((1000000 * (n * sxy - sx * sy))
                    // (n * sxx - sx * sx) AS BIGINT) AS slope_ppm
        FROM sums
    """,
    doc="Zipf's-law fit over the corpus vocabulary: least-squares "
    "slope of log10(frequency) against log10(rank) — natural text "
    "sits near -1, and a corpus that drifts far off is "
    "machine-generated, truncated, or template-dominated (a cheap "
    "corpus-level forensic next to the per-document quality gates). "
    "Determinism: log10 takes small-INTEGER ranks/frequencies (the "
    "char-entropy precedent — identical doubles in both engines), "
    "is immediately rounded to fixed-point ppm integers, and every "
    "regression sum is then exact integer arithmetic "
    "(128-bit intermediates for the cross terms — the Gini lesson); "
    "ranks tie-break lexicographically. Scale: the fact collapses "
    "to the vocabulary relation first; the global rank over vocab "
    "is TWO-PHASE (operators/global_rank.py: range repartition + "
    "pid-local windows + driver-summed offsets), so a web-scale "
    "vocabulary (10^8+ types) never funnels through one task, and "
    "the regression is one tiny aggregate.",
    tags=("text", "stats", "quality"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_hdfs_sql_integration_spark.operators.global_rank import (
        global_row_number,
    )

    docs = load_parallel(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tf.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
    )
    ranked = global_row_number(
        counts, [("freq", "desc"), ("tok", "asc")], alias="rnk"
    ).select("freq", "rnk")
    pts = ranked.select(
        F.round(1000000 * F.log10(F.col("rnk").cast("double"))).cast("long").alias("x"),
        F.round(1000000 * F.log10(F.col("freq").cast("double"))).cast("long").alias("y"),
    )
    sums = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
    )
    return sums.select(
        F.col("n").cast("long").alias("n_types"),
        F.expr(
            "CAST((1000000 * (n * sxy - CAST(sx AS DECIMAL(38,0)) * sy)) "
            "div (n * sxx - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)"
        ).alias("slope_ppm"),
    )

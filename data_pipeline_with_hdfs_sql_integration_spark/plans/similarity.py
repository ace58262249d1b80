"""Similarity search over the embedding column (array<float>, 64-dim).

Five tiers, all oracle-checked:

- brute-force cosine top-k  : exact baseline; Spark plans it as a
  distributed TakeOrderedAndProject (no global sort materialized)
- random-hyperplane LSH ANN : 124-bit sign signatures, constant
  hamming-top-C candidate budget, exact rerank
- IVF ANN                   : seeded-k-means coarse quantizer, probe
  the nprobe nearest cells, exact rerank
- int8 scalar quantization  : 4x memory, exact integer dot folds
- product quantization      : 8x4-bit codes + ADC lookup-table scan,
  exact BIGINT candidate distances, exact rerank

FP determinism: every dot product is a sequential left fold
(functions/textfns.dot ≙ sql_dot), floats are cast to double before
any arithmetic, and similarities are rounded to 6 digits *before*
ordering/thresholding so both engines make identical boundary
decisions (ties break on vec_id).
"""

from __future__ import annotations

import random

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import load, load_parallel, persist, read_parquet
from data_pipeline_with_hdfs_sql_integration_spark.functions import textfns as tf
from data_pipeline_with_hdfs_sql_integration_spark.registry import query

QUERY_VEC_ID = 0
TOPK = 20
EMB_DIM = 64

LSH_PLANES = 124  # two 62-bit signature words
LSH_WORD = 62
# Candidate budget is a CONSTANT, independent of corpus size: at 100 TB
# the rerank still touches exactly C vectors (a fraction-of-N budget
# would be brute force with a discount — and needed an extra count()
# job per query just to size itself). 124 signature bits keep the
# hamming-ordered top-200 recall@10 >= 0.7 (tests/test_similarity_recall).
LSH_CAND_C = 200

IVF_CELLS = 16
IVF_NPROBE = 4
IVF_TOPK = 10
# Lloyd refinement rounds for the IVF coarse quantizer. Centroids are
# real (sampled-init, iterated) k-means, not row-id artifacts; the
# per-cell means use fixed-point BIGINT sums (floor(x*1e7+0.5)) so the
# reduction is order-independent and bit-identical across engines.
IVF_KMEANS_ITERS = 2
# Top-P probe cells materialized per vector in the IVF index store
# (multi-probe consumers filter rn <= P; P=4 covers the measured
# recall ladder without re-ranking centroids at query time).
IVF_PROBES_STORED = 4
_FP = 1e7  # fixed-point scale for centroid means
# Knuth multiplicative-hash constant: deterministic, engine-portable
# pseudo-random ORDER BY key for picking the k-means seed sample.
_SEED_MULT = 2654435761
_SEED_MOD = 4294967296

# Deterministic hyperplane coefficients, 3-decimal literals so the same
# text parses to the same double on both engines.
_rng = random.Random(42)
HYPERPLANES: list[list[float]] = [
    [round(_rng.uniform(-0.5, 0.5), 3) for _ in range(EMB_DIM)] for _ in range(LSH_PLANES)
]


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Signature/assignment math is per-row CPU-bound interpreted
    # expression eval — spread a small scan across all cores (no-op at
    # scale when the scan already yields >= parallelism splits).
    return load_parallel(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )


def _vecs_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scan-native partitioning (no repartition exchange): for
    # NumPy-vectorized pandas_udf paths the per-row cost is tiny, so
    # fragmenting the input into parallelism-many Arrow batches costs
    # more (exchange + per-batch worker round-trips) than it buys; at
    # scale the scan itself already yields thousands of splits.
    return load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )


def lsh_signature_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, sig_lo, sig_hi) — the 124-bit signature INDEX, built
    once per corpus version and read back as parquet thereafter.

    This is the 'signature store' every banded-LSH consumer
    (dedup_embedding_lsh, sim_ann_lsh_batch, incremental dedup) assumes
    at 100 TB: signatures are computed in the index-build job, not per
    query — per-query cost is a 16 B/vector scan, never the
    interpreter-bound hyperplane fold over raw vectors. Keyed to the
    fixture's identity+version (catalog.deterministic_tmp_dir), so a
    regenerated corpus can never serve stale signatures.
    """
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import (
        deterministic_tmp_dir,
        params_digest,
        publish_store,
        table_path,
    )

    store = deterministic_tmp_dir(
        f"lshsigs{LSH_PLANES}v{params_digest(HYPERPLANES, LSH_WORD)}",
        table_path(sf_dir, "embeddings"),
    )
    publish_store(
        store,
        lambda staging: _vecs(spark, sf_dir)
        .selectExpr(
            "vec_id",
            f"({_lsh_sig_expr('v', 0)}) AS sig_lo",
            f"({_lsh_sig_expr('v', 1)}) AS sig_hi",
        )
        .write.mode("overwrite")
        .parquet(staging),
    )
    return read_parquet(spark, store)


_SQL_VECS = "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings"


def _cosine(a, b):
    return F.round(tf.dot(a, b) / (F.sqrt(tf.dot(a, a)) * F.sqrt(tf.dot(b, b))), 6)


def _sql_cosine(a: str, b: str) -> str:
    return (
        f"round({tf.sql_dot(a, b)} / (sqrt({tf.sql_dot(a, a)}) * sqrt({tf.sql_dot(b, b)})), 6)"
    )


# ------------------------------------------------------------- brute force
@query(
    "sim_cosine_topk",
    oracle=f"""
        WITH e AS ({_SQL_VECS}),
        q AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID})
        SELECT e.vec_id, {_sql_cosine('e.v', 'q.qv')} AS cosine
        FROM e, q
        WHERE e.vec_id <> {QUERY_VEC_ID}
        ORDER BY cosine DESC, e.vec_id ASC
        LIMIT {TOPK}
    """,
    doc="Brute-force cosine top-k: broadcast the 1-row query vector, "
    "map-side cosine, TakeOrderedAndProject top-k (per-partition heaps + "
    "driver merge — no global sort, no shuffle of the corpus). The exact "
    "baseline every ANN tier is measured against.",
    tags=("similarity",),
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _vecs(spark, sf_dir)
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("v").alias("qv"))
    return (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", _cosine(F.col("v"), F.col("qv")).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(TOPK)
    )


# ---------------------------------------------------------------- LSH ANN
def _sql_plane_list(plane: list[float]) -> str:
    return "[" + ", ".join(f"CAST({c} AS DOUBLE)" for c in plane) + "]"


def _sql_lsh_sig(vcol: str, word: int) -> str:
    """One 62-bit signature word (planes word*62 .. word*62+61)."""
    bits = []
    for j in range(LSH_WORD):
        i = word * LSH_WORD + j
        if i >= LSH_PLANES:
            break
        d = tf.sql_dot(vcol, _sql_plane_list(HYPERPLANES[i]))
        bits.append(f"(CASE WHEN ({d}) > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
    return " + ".join(bits)


def _lsh_sig_expr(vcol: str, word: int) -> str:
    """One 62-bit signature word as Spark-SQL TEXT, parsed once.

    Building this as py4j Column ops (124 planes x 64 literal lits)
    costs ~8000 driver round-trips — measured 33 s of driver-side DF
    construction per query before any job ran. And even as text, one
    flat CASE-per-bit expression is ~0.5 MB that costs ~3 s of
    parse/analyze per query; the HOF form below (a fold over bit
    indices against ONE array-of-arrays plane literal) is ~100x
    smaller and parses in milliseconds. The per-plane dot (aggregate
    over zip_with, 0D init, acc + x) is operation-for-operation
    identical to functions/textfns.dot, and the bit sum is the same
    ascending-order integer total as the old CASE chain, so signature
    words are bit-identical to the oracle's fold.
    """
    n_bits = min(LSH_WORD, LSH_PLANES - word * LSH_WORD)
    planes = "array(" + ", ".join(
        "array(" + ", ".join(f"{c}D" for c in HYPERPLANES[word * LSH_WORD + j]) + ")"
        for j in range(n_bits)
    ) + ")"
    return (
        f"aggregate(sequence(0, {n_bits - 1}), 0L, (acc, i) -> acc + "
        f"(CASE WHEN aggregate(zip_with({vcol}, element_at({planes}, i + 1), "
        f"(x, y) -> x * y), 0D, (a, d) -> a + d) > 0 "
        f"THEN shiftleft(1L, i) ELSE 0L END))"
    )


@query(
    "sim_ann_lsh",
    oracle=f"""
        WITH e AS ({_SQL_VECS}),
        sigs AS (SELECT vec_id, v,
                        {_sql_lsh_sig('v', 0)} AS sig_lo,
                        {_sql_lsh_sig('v', 1)} AS sig_hi
                 FROM e),
        q AS (SELECT v AS qv, sig_lo AS qlo, sig_hi AS qhi
              FROM sigs WHERE vec_id = {QUERY_VEC_ID}),
        ranked AS (
            SELECT s.vec_id, s.v, q.qv,
                   row_number() OVER (
                       ORDER BY bit_count(xor(s.sig_lo, q.qlo))
                              + bit_count(xor(s.sig_hi, q.qhi)) ASC,
                                s.vec_id ASC) AS hrank
            FROM sigs s, q
            WHERE s.vec_id <> {QUERY_VEC_ID}
        )
        SELECT vec_id, {_sql_cosine('v', 'qv')} AS cosine
        FROM ranked
        WHERE hrank <= {LSH_CAND_C}
        ORDER BY cosine DESC, vec_id ASC
        LIMIT {IVF_TOPK}
    """,
    doc=f"ANN via random-hyperplane LSH: {LSH_PLANES}-bit sign signature "
    "stored as two 62-bit words, candidates = the "
    f"{LSH_CAND_C} nearest BY HAMMING "
    "(deterministic tie-break), exact cosine rerank. A candidate "
    "BUDGET, not a fixed radius — a radius tuned on one corpus "
    "silently returns nothing on another (measured here: radius 3/16 "
    "had recall 0; this design measures recall@10 ≈ 0.8-0.9 on the "
    "weakly-clustered synthetic corpus, tests/test_similarity_recall). "
    "The budget is CONSTANT in corpus size: at 100 TB the signatures "
    "are 16 bytes/vector, materialized once; the hamming top-C is a "
    "TakeOrdered over signatures only, and only C full vectors are "
    "re-read for the rerank — no per-query count() job, no linear scan "
    "of full vectors.",
    tags=("similarity", "lsh"),
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _vecs(spark, sf_dir)
    # Persisted: referenced twice (query-vector lookup + candidate
    # scan); recomputing means two full interpreter-bound signature
    # folds over the corpus instead of one.
    sigs = persist(
        e.selectExpr(
            "vec_id", "v",
            f"({_lsh_sig_expr('v', 0)}) AS sig_lo",
            f"({_lsh_sig_expr('v', 1)}) AS sig_hi",
        )
    )
    q = sigs.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("v").alias("qv"), F.col("sig_lo").alias("qlo"), F.col("sig_hi").alias("qhi")
    )
    ham = (
        F.bit_count(F.col("sig_lo").bitwiseXOR(F.col("qlo")))
        + F.bit_count(F.col("sig_hi").bitwiseXOR(F.col("qhi")))
    )
    # orderBy+limit (NOT a global row_number window): plans as
    # TakeOrderedAndProject — per-partition heaps of size C, no
    # single-task global sort. Same deterministic total order.
    cand = (
        sigs.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .orderBy(ham.asc(), F.col("vec_id").asc())
        .limit(LSH_CAND_C)
    )
    return (
        cand.select("vec_id", _cosine(F.col("v"), F.col("qv")).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(IVF_TOPK)
    )


# ---------------------------------------------------------------- IVF ANN
def _kmeans_centroids(e: DataFrame) -> DataFrame:
    """Deterministic sampled-init k-means coarse quantizer.

    Seeds = the IVF_CELLS vectors with the smallest Knuth-hash of
    vec_id (pseudo-random but engine-portable pure integer math), then
    IVF_KMEANS_ITERS Lloyd rounds: assign each vector to its
    max-cosine cell (broadcast join + per-vector window), recompute
    each cell mean per dimension as a BIGINT fixed-point sum / count.
    Integer sums make the reduction independent of partition order, so
    the DuckDB oracle reproduces the centroids bit-for-bit.
    """
    spark = e.sparkSession

    def _materialize(c: DataFrame) -> DataFrame:
        # Pull the IVF_CELLS centroid rows to the driver and re-create
        # them as a literal table — constant-size (cells × dim doubles)
        # at ANY corpus scale, exactly what MLlib's KMeans does with its
        # centers. Without this, every downstream reference (next Lloyd
        # round, assignment, query-probe) re-executes the whole k-means
        # lineage from the raw scan.
        return spark.createDataFrame(c.collect(), c.schema)

    key = (F.col("vec_id").cast("long") * F.lit(_SEED_MULT)) % F.lit(_SEED_MOD)
    cent = _materialize(
        e.orderBy(key.asc(), F.col("vec_id").asc())
        .limit(IVF_CELLS)
        .select(F.col("vec_id").alias("cell_id"), F.col("v").alias("cv"))
    )
    # Single-parse SQL-text expressions (64 py4j Column builds per round
    # would dominate driver-side planning time), reused across rounds.
    sums = [
        F.expr(f"sum(cast(floor(element_at(v, {d + 1}) * {_FP} + 0.5) as bigint))").alias(f"s{d}")
        for d in range(EMB_DIM)
    ]
    comps = [F.expr(f"cast(s{d} as double) / (cast(n as double) * {_FP})") for d in range(EMB_DIM)]
    for _ in range(IVF_KMEANS_ITERS):
        csim = _cosine(F.col("v"), F.col("cv"))
        # Argmax cell per vector as a hash aggregate (max_by on a
        # (csim, -cell_id) struct = smallest cell_id wins ties — same
        # total order as the oracle's row_number window, without the
        # per-vector sort). v is constant within a vec_id group, so
        # first(v) is deterministic here.
        assigned = (
            e.crossJoin(F.broadcast(cent))
            .select("vec_id", "v", "cell_id", csim.alias("csim"))
            .groupBy("vec_id")
            .agg(
                F.first("v").alias("v"),
                F.max_by("cell_id", F.struct(F.col("csim"), (-F.col("cell_id")).alias("neg"))).alias("cell_id"),
            )
        )
        agg = assigned.groupBy("cell_id").agg(F.count("*").alias("n"), *sums)
        cent = _materialize(agg.select("cell_id", F.array(*comps).alias("cv")))
    return cent


def ivf_index_store(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(centroids, assignments) from the build-once parquet IVF index.

    centroids = (cell_id, cv) — cells × dims doubles; assignments =
    (vec_id, cell_id, cos) — each vector's max-cosine cell and the
    cosine to it. Built by one index job per corpus version; the query
    job probes cells and the clustering profile aggregates assignments
    without ever re-running k-means. Assignment uses the same
    (cos, -cell_id) max_by total order as the oracle's row_number, so
    stored rows are bit-identical to an in-session build.
    """
    import os

    from data_pipeline_with_hdfs_sql_integration_spark.catalog import (
        deterministic_tmp_dir,
        params_digest,
        publish_store,
        table_path,
    )

    store = deterministic_tmp_dir(
        f"ivfindex{IVF_CELLS}x{IVF_KMEANS_ITERS}"
        f"v{params_digest(_SEED_MULT, _SEED_MOD, _FP, IVF_PROBES_STORED)}",
        table_path(sf_dir, "embeddings"),
    )

    def build(staging: str) -> None:
        e = _vecs(spark, sf_dir)
        cent = _kmeans_centroids(e)
        csim = _cosine(F.col("v"), F.col("cv"))
        best = F.max_by(
            F.struct(F.col("cell_id"), F.col("cos")),
            F.struct(F.col("cos"), (-F.col("cell_id")).alias("neg")),
        )
        ranked = e.crossJoin(F.broadcast(cent)).select(
            "vec_id", "cell_id", csim.alias("cos")
        )
        assigned = (
            ranked.groupBy("vec_id")
            .agg(best.alias("best"))
            .select(
                "vec_id",
                F.col("best.cell_id").alias("cell_id"),
                F.col("best.cos").alias("cos"),
            )
        )
        # Top-P probe cells per vector, materialized AT BUILD TIME so
        # multi-probe consumers (SemDeDup default, probe dials) read a
        # 12-byte/row parquet instead of re-running the N x cells
        # centroid scan + ranking window per query. Same (cos DESC,
        # cell_id ASC) total order as `assigned` — probes rn=1 IS the
        # stored assignment.
        wp = Window.partitionBy("vec_id").orderBy(
            F.col("cos").desc(), F.col("cell_id").asc()
        )
        probes = (
            ranked.withColumn("rn", F.row_number().over(wp))
            .filter(F.col("rn") <= IVF_PROBES_STORED)
            .select("vec_id", "cell_id", "rn")
        )
        cent.write.parquet(os.path.join(staging, "centroids"))
        assigned.write.parquet(os.path.join(staging, "assignments"))
        probes.write.parquet(os.path.join(staging, "probes"))

    publish_store(store, build)
    return (
        read_parquet(spark, os.path.join(store, "centroids")),
        read_parquet(spark, os.path.join(store, "assignments")),
    )


def ivf_probes_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cell_id, rn<=IVF_PROBES_STORED) — each vector's top-P
    quantizer cells from the build-once IVF index (see ivf_index_store).
    """
    import os

    from data_pipeline_with_hdfs_sql_integration_spark.catalog import (
        deterministic_tmp_dir,
        params_digest,
        table_path,
    )

    ivf_index_store(spark, sf_dir)  # ensure published
    store = deterministic_tmp_dir(
        f"ivfindex{IVF_CELLS}x{IVF_KMEANS_ITERS}"
        f"v{params_digest(_SEED_MULT, _SEED_MOD, _FP, IVF_PROBES_STORED)}",
        table_path(sf_dir, "embeddings"),
    )
    return read_parquet(spark, os.path.join(store, "probes"))


# ------------------------------------------- two-level IVF refinement
# Level-2 sub-quantizer for the SemDeDup family: within each level-1
# cell, k_cell = floor(sqrt(n_cell)) sub-centroids (the standard IVF
# ~sqrt(N) cell-count rule, so TOTAL fine cells grow Θ(sqrt(N)) and
# both the assignment cost (N·sqrt(N)) and the within-cell pair cost
# (N^1.5) stay sub-quadratic at ANY corpus size — the round-9 sf10
# finding was the fixed 16-cell quantizer turning the pair join
# quadratic). Same deterministic machinery as level 1: Knuth-hash
# seeded init, fixed-point BIGINT Lloyd means, (cos DESC, sub_id ASC)
# total order — bit-identical across engines.
SUB_KMEANS_ITERS = 2
#: Sub-probes materialized per (vector, probed level-1 cell) in the
#: fine-probe store; consumers filter srn <= P2. P1=3, P2=3 measured
#: 0.898 co-probe recall of exact above-threshold pairs at sf0.01 and
#: 0.835 at sf0.1 (vs 0.848 for the flat 16-cell P=3 quantizer).
SUB_PROBES_STORED = 3


def _sql_ip(a: str, b: str) -> str:
    """DuckDB NATIVE inner product for the oracle's hot pair paths.
    Bit-identical to the list_reduce fold (both accumulate left to
    right in double; pinned by tests/test_round10_units.py's parity
    check) and ~7x faster — the level-2 ranking and pair-verify
    volumes at sf10 are where the fold's interpreted lambda becomes
    the oracle's wall-clock."""
    return f"list_inner_product({a}, {b})"


def _sub_cos(v, nv, scv, ns):
    """round(dot(v,scv)/(nv*ns), 6) with norms attached ONCE per side
    (algebraically the same doubles as computing sqrt(dot(x,x)) inline
    — the dedup_semantic norms-once treatment, mirrored in SQL)."""
    return F.round(tf.dot(v, scv) / (nv * ns), 6)


def ivf2_index_store(spark: SparkSession, sf_dir: str) -> str:
    """Build-once two-level IVF store; returns its root path. Contents:

    - ``subcentroids`` (cell_id, sub_id, scv): level-2 centroids, keyed
      by (level-1 cell, seed vec_id);
    - ``fine`` (vec_id, cell_id, sub_id): each vector's primary fine
      cell (its rn=1 level-1 cell's srn=1 sub-cell);
    - ``fprobes`` (vec_id, rn, cell_id, sub_id, srn): per vector, for
      each of its top-``IVF_PROBES_STORED`` level-1 cells (rn), the
      top-``SUB_PROBES_STORED`` sub-cells (srn) — consumers dial
      multi-probe recall with rn <= P1 AND srn <= P2 filters.

    At 100 TB: sub-centroid count is Θ(sqrt(N)) so the broadcast side
    stays small (sqrt(2e11)·64·8B ≈ 230 MB at 200B vectors — chunk or
    re-partition by cell past that); each Lloyd round is one broadcast
    join + a (cell, sub)-keyed BIGINT hash aggregate.
    """
    import os

    from data_pipeline_with_hdfs_sql_integration_spark.catalog import (
        deterministic_tmp_dir,
        params_digest,
        publish_store,
        table_path,
    )

    store = deterministic_tmp_dir(
        # "m1": meta.json (max fine-cell occupancy) added round 11 —
        # bumping the kind retires pre-metadata copies of the store.
        f"ivf2m1x{IVF_CELLS}x{IVF_KMEANS_ITERS}x{SUB_KMEANS_ITERS}"
        f"v{params_digest(_SEED_MULT, _SEED_MOD, _FP, IVF_PROBES_STORED, SUB_PROBES_STORED)}",
        table_path(sf_dir, "embeddings"),
    )

    def build(staging: str) -> None:
        _cent, assigned = ivf_index_store(spark, sf_dir)
        probes = ivf_probes_store(spark, sf_dir)
        en = _vecs(spark, sf_dir).select(
            "vec_id", "v", F.sqrt(tf.dot(F.col("v"), F.col("v"))).alias("nv")
        )
        al1 = persist(assigned.select("vec_id", "cell_id").join(en, "vec_id"))

        def _mat(c: DataFrame) -> DataFrame:
            # Θ(sqrt(N)) rows — the same constant-size driver
            # materialization level-1 uses for its centroids.
            return spark.createDataFrame(c.collect(), c.schema)

        # k_cell = max(1, floor(sqrt(n_cell))): exercised at every SF
        # (500-vector fixtures get ~5 subs/cell, sf10 gets ~111).
        kk = al1.groupBy("cell_id").agg(
            F.greatest(
                F.lit(1).cast("long"),
                F.floor(F.sqrt(F.count(F.lit(1)).cast("double"))).cast("long"),
            ).alias("k")
        )
        wseed = Window.partitionBy("cell_id").orderBy(
            ((F.col("vec_id").cast("long") * F.lit(_SEED_MULT)) % F.lit(_SEED_MOD)).asc(),
            F.col("vec_id").asc(),
        )
        sub = _mat(
            al1.withColumn("srn", F.row_number().over(wseed))
            .join(kk, "cell_id")
            .filter(F.col("srn") <= F.col("k"))
            .select("cell_id", F.col("vec_id").alias("sub_id"), F.col("v").alias("scv"))
        )
        sums = [
            F.expr(
                f"sum(cast(floor(element_at(v, {d + 1}) * {_FP} + 0.5) as bigint))"
            ).alias(f"s{d}")
            for d in range(EMB_DIM)
        ]
        comps = [
            F.expr(f"cast(s{d} as double) / (cast(n as double) * {_FP})")
            for d in range(EMB_DIM)
        ]
        for _ in range(SUB_KMEANS_ITERS):
            subn = sub.withColumn("ns", F.sqrt(tf.dot(F.col("scv"), F.col("scv"))))
            scos = _sub_cos(F.col("v"), F.col("nv"), F.col("scv"), F.col("ns"))
            assigned2 = (
                al1.join(F.broadcast(subn), "cell_id")
                .select("vec_id", "v", "cell_id", scos.alias("scos"), "sub_id")
                .groupBy("vec_id")
                .agg(
                    F.first("v").alias("v"),
                    F.first("cell_id").alias("cell_id"),
                    F.max_by(
                        "sub_id",
                        F.struct(F.col("scos"), (-F.col("sub_id")).alias("neg")),
                    ).alias("sub_id"),
                )
            )
            agg = assigned2.groupBy("cell_id", "sub_id").agg(
                F.count("*").alias("n"), *sums
            )
            sub = _mat(agg.select("cell_id", "sub_id", F.array(*comps).alias("scv")))
        subn = sub.withColumn("ns", F.sqrt(tf.dot(F.col("scv"), F.col("scv"))))
        scos = _sub_cos(F.col("v"), F.col("nv"), F.col("scv"), F.col("ns"))
        wp = Window.partitionBy("vec_id", "cell_id").orderBy(
            F.col("scos").desc(), F.col("sub_id").asc()
        )
        fprobes = (
            probes.join(en, "vec_id")
            .join(F.broadcast(subn), "cell_id")
            .select("vec_id", "rn", "cell_id", "sub_id", scos.alias("scos"))
            .withColumn("srn", F.row_number().over(wp))
            .filter(F.col("srn") <= SUB_PROBES_STORED)
            .select("vec_id", "rn", "cell_id", "sub_id", "srn")
        )
        fine = fprobes.filter((F.col("rn") == 1) & (F.col("srn") == 1)).select(
            "vec_id", "cell_id", "sub_id"
        )
        sub.write.parquet(os.path.join(staging, "subcentroids"))
        fprobes.write.parquet(os.path.join(staging, "fprobes"))
        fine.write.parquet(os.path.join(staging, "fine"))
        # Index-build-time skew statistic: the max probe-row count of
        # any fine cell over ALL stored probes (an upper bound for any
        # rn/srn-filtered subset a consumer uses). Queries read this
        # from the driver (free) to decide whether the pair join needs
        # skew salting at all — small corpora stop paying the
        # occupancy-job + broadcast overhead of big-corpus insurance
        # (round-10 verdict: 2.9x sf0.1 regression, attributed).
        max_occ = (
            spark.read.parquet(os.path.join(staging, "fprobes"))
            .groupBy("cell_id", "sub_id")
            .count()
            .agg(F.max("count"))
            .first()[0]
        )
        import json

        with open(os.path.join(staging, "meta.json"), "w") as fh:
            json.dump({"max_fine_cell_rows": int(max_occ or 0)}, fh)
        al1.unpersist()

    publish_store(store, build)
    return store


def ivf2_fine_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, rn, cell_id, sub_id, srn) from the two-level store."""
    import os

    return read_parquet(spark, os.path.join(ivf2_index_store(spark, sf_dir), "fprobes"))


def ivf2_max_occupancy(spark: SparkSession, sf_dir: str) -> int:
    """Max probe-row count of any fine cell, recorded at index-build
    time (upper bound for every rn/srn-filtered probe subset). A
    driver-side file read — consumers gate skew machinery on it
    without running a job. Missing/unreadable metadata counts as
    infinitely skewed: never skip salting on absent evidence."""
    import json
    import os

    try:
        with open(
            os.path.join(ivf2_index_store(spark, sf_dir), "meta.json")
        ) as fh:
            return int(json.load(fh)["max_fine_cell_rows"])
    except (OSError, KeyError, ValueError):
        return 2**62


def _sql_kmeans2_ctes() -> tuple[str, str]:
    """DuckDB CTE chain mirroring ivf2_index_store on top of
    ``_KMEANS_CTES``; returns (ctes, fine_probe_cte_name). The chain
    defines ``l2s`` (the level-1 probe ranking over all cells — rn is
    the same total order the level-1 probes store carries) and
    ``fprobe`` (vec_id, rn, cell_id, sub_id, srn)."""
    sums = ", ".join(
        f"sum(CAST(floor(v[{d + 1}] * {_FP} + 0.5) AS BIGINT)) AS s{d}"
        for d in range(EMB_DIM)
    )
    comps = ", ".join(
        f"CAST(s{d} AS DOUBLE) / (CAST(n AS DOUBLE) * {_FP})" for d in range(EMB_DIM)
    )
    from data_pipeline_with_hdfs_sql_integration_spark.functions import textfns as _tf

    parts = [
        f"en AS (SELECT vec_id, v, sqrt({_tf.sql_dot('v', 'v')}) AS nv FROM e)",
        f"""l2s AS (
            SELECT e.vec_id, c.cell_id,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_sql_cosine('e.v', 'c.cv')} DESC, c.cell_id ASC) AS rn
            FROM e, {_KMEANS_FINAL} c)""",
        """al2 AS (SELECT n.vec_id, n.v, n.nv, s.cell_id
                  FROM l2s s JOIN en n ON s.vec_id = n.vec_id WHERE s.rn = 1)""",
        """kk2 AS (SELECT cell_id,
                   greatest(1, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) AS k
            FROM al2 GROUP BY cell_id)""",
        f"""sub0 AS (
            SELECT s.cell_id, s.vec_id AS sub_id, s.v AS scv FROM (
                SELECT cell_id, vec_id, v,
                       row_number() OVER (PARTITION BY cell_id
                           ORDER BY (CAST(vec_id AS BIGINT) * {_SEED_MULT}) % {_SEED_MOD} ASC,
                                    vec_id ASC) AS rn
                FROM al2) s JOIN kk2 ON s.cell_id = kk2.cell_id
            WHERE s.rn <= kk2.k)""",
    ]
    prev = "sub0"
    for it in range(SUB_KMEANS_ITERS):
        parts.append(
            f"subn{it} AS (SELECT cell_id, sub_id, scv, "
            f"sqrt({_tf.sql_dot('scv', 'scv')}) AS ns FROM {prev})"
        )
        parts.append(
            f"""sa{it} AS (
            SELECT vec_id, v, cell_id, sub_id FROM (
                SELECT a.vec_id, a.v, a.cell_id, s.sub_id,
                       row_number() OVER (PARTITION BY a.vec_id
                           ORDER BY round({_sql_ip('a.v', 's.scv')} / (a.nv * s.ns), 6) DESC,
                                    s.sub_id ASC) AS rn
                FROM al2 a JOIN subn{it} s ON a.cell_id = s.cell_id)
            WHERE rn = 1)"""
        )
        parts.append(
            f"sg{it} AS (SELECT cell_id, sub_id, count(*) AS n, {sums}"
            f" FROM sa{it} GROUP BY cell_id, sub_id)"
        )
        parts.append(
            f"sub{it + 1} AS (SELECT cell_id, sub_id, [{comps}] AS scv FROM sg{it})"
        )
        prev = f"sub{it + 1}"
    parts.append(
        f"subf AS (SELECT cell_id, sub_id, scv, "
        f"sqrt({_tf.sql_dot('scv', 'scv')}) AS ns FROM {prev})"
    )
    parts.append(
        f"""fprobe AS (
            SELECT vec_id, rn, cell_id, sub_id, srn FROM (
                SELECT p.vec_id, p.rn, p.cell_id, s.sub_id,
                       row_number() OVER (PARTITION BY p.vec_id, p.cell_id
                           ORDER BY round({_sql_ip('n.v', 's.scv')} / (n.nv * s.ns), 6) DESC,
                                    s.sub_id ASC) AS srn
                FROM (SELECT vec_id, cell_id, rn FROM l2s WHERE rn <= {IVF_PROBES_STORED}) p
                JOIN en n ON p.vec_id = n.vec_id
                JOIN subf s ON p.cell_id = s.cell_id)
            WHERE srn <= {SUB_PROBES_STORED})"""
    )
    return ",\n        ".join(parts), "fprobe"


_KMEANS2_CTES, _KMEANS2_FPROBE = None, "fprobe"  # built lazily below


def kmeans2_ctes() -> str:
    """Lazily-built (then cached) level-2 CTE chain — module import
    stays cheap; only the three semantic-dedup oracles pay the build."""
    global _KMEANS2_CTES
    if _KMEANS2_CTES is None:
        _KMEANS2_CTES = _sql_kmeans2_ctes()[0]
    return _KMEANS2_CTES


def _sql_kmeans_ctes() -> tuple[str, str]:
    """DuckDB CTE chain mirroring _kmeans_centroids; returns (ctes, final_name)."""
    sums = ", ".join(
        f"sum(CAST(floor(v[{d + 1}] * {_FP} + 0.5) AS BIGINT)) AS s{d}" for d in range(EMB_DIM)
    )
    comps = ", ".join(
        f"CAST(s{d} AS DOUBLE) / (CAST(n AS DOUBLE) * {_FP})" for d in range(EMB_DIM)
    )
    parts = [
        f"""cent0 AS (
            SELECT vec_id AS cell_id, v AS cv FROM e
            ORDER BY (CAST(vec_id AS BIGINT) * {_SEED_MULT}) % {_SEED_MOD} ASC, vec_id ASC
            LIMIT {IVF_CELLS})"""
    ]
    prev = "cent0"
    for it in range(IVF_KMEANS_ITERS):
        parts.append(
            f"""assign{it} AS (
            SELECT v, cell_id FROM (
                SELECT e.v, c.cell_id,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY {_sql_cosine('e.v', 'c.cv')} DESC, c.cell_id ASC) AS rn
                FROM e, {prev} c)
            WHERE rn = 1)"""
        )
        parts.append(
            f"agg{it} AS (SELECT cell_id, count(*) AS n, {sums} FROM assign{it} GROUP BY cell_id)"
        )
        parts.append(f"cent{it + 1} AS (SELECT cell_id, [{comps}] AS cv FROM agg{it})")
        prev = f"cent{it + 1}"
    return ",\n        ".join(parts), prev


_KMEANS_CTES, _KMEANS_FINAL = _sql_kmeans_ctes()


@query(
    "sim_ann_ivf",
    oracle=f"""
        WITH e AS ({_SQL_VECS}),
        {_KMEANS_CTES},
        scored AS (
            SELECT e.vec_id, e.v, cent.cell_id,
                   {_sql_cosine('e.v', 'cent.cv')} AS csim,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_sql_cosine('e.v', 'cent.cv')} DESC, cent.cell_id ASC) AS rn
            FROM e, {_KMEANS_FINAL} cent
        ),
        assigned AS (SELECT vec_id, v, cell_id FROM scored WHERE rn = 1),
        qcells AS (
            SELECT cell_id FROM scored WHERE vec_id = {QUERY_VEC_ID} AND rn <= {IVF_NPROBE}
        ),
        q AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
        cand AS (
            SELECT a.vec_id, a.v, q.qv
            FROM assigned a JOIN qcells c ON a.cell_id = c.cell_id, q
            WHERE a.vec_id <> {QUERY_VEC_ID}
        )
        SELECT vec_id, {_sql_cosine('v', 'qv')} AS cosine
        FROM cand
        ORDER BY cosine DESC, vec_id ASC
        LIMIT {IVF_TOPK}
    """,
    doc=f"ANN via IVF coarse quantization: {IVF_CELLS} centroids from a "
    f"deterministic seeded k-means ({IVF_KMEANS_ITERS} Lloyd rounds, "
    "sampled init by Knuth-hash of vec_id, fixed-point integer means "
    "so the oracle replicates them bit-for-bit), assignment = "
    "max-cosine cell (broadcast join + per-vector window), query "
    f"probes its {IVF_NPROBE} nearest cells, exact rerank inside. The "
    "assignment table is the partition key at scale — each cell is a "
    "parquet partition and probes read only nprobe/ncells of the data; "
    "per-cell sums are map-side-combined BIGINTs, one shuffle of "
    f"{IVF_CELLS}×{EMB_DIM} longs per Lloyd round.",
    tags=("similarity", "ivf"),
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _vecs(spark, sf_dir)
    cent, assigned = ivf_index_store(spark, sf_dir)
    # Query probe: the ONE query vector against cells × dims centroids.
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("v").alias("qv"))
    qcells = (
        q.crossJoin(F.broadcast(cent))
        .select("cell_id", _cosine(F.col("qv"), F.col("cv")).alias("csim"))
        .orderBy(F.col("csim").desc(), F.col("cell_id").asc())
        .limit(IVF_NPROBE)
        .select("cell_id")
    )
    # Candidates = vectors assigned to the probed cells; only they are
    # re-read from the corpus for the exact rerank (at scale the
    # assignment table is the partition key and this is a pruned read).
    cand = (
        assigned.join(F.broadcast(qcells), "cell_id")
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id")
        .join(e, "vec_id")
        .crossJoin(F.broadcast(q))
    )
    return (
        cand.select("vec_id", _cosine(F.col("v"), F.col("qv")).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(IVF_TOPK)
    )


@query(
    "cluster_kmeans",
    oracle=f"""
        WITH e AS ({_SQL_VECS}),
        {_KMEANS_CTES},
        scored AS (
            SELECT e.vec_id, cent.cell_id,
                   {_sql_cosine('e.v', 'cent.cv')} AS cos,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_sql_cosine('e.v', 'cent.cv')} DESC, cent.cell_id ASC) AS rn
            FROM e, {_KMEANS_FINAL} cent
        )
        SELECT cell_id,
               COUNT(*) AS n_members,
               CAST(SUM(CAST(floor(cos * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cos_fp,
               MIN(vec_id) AS min_member
        FROM scored
        WHERE rn = 1
        GROUP BY cell_id
        ORDER BY cell_id
    """,
    doc=f"Full k-means clustering as a first-class operator (not just the "
    f"IVF index build): {IVF_CELLS} cells, {IVF_KMEANS_ITERS} Lloyd rounds "
    "with deterministic sampled init, then a cluster profile — size, "
    "fixed-point sum of member-to-centroid cosines (order-independent "
    "BIGINT, so bit-exact vs the oracle), smallest member id. Assignment "
    "is a broadcast join + max_by hash aggregate (no per-vector sort); "
    "at scale each Lloyd round shuffles only cells x dims longs.",
    tags=("similarity", "clustering"),
)
def cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The cluster profile is a pure aggregate over the stored
    # assignment table — k-means runs in the index-build job, once.
    _cent, assigned = ivf_index_store(spark, sf_dir)
    return (
        assigned.groupBy("cell_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.floor(F.col("cos") * 1000000 + F.lit(0.5)).cast("long")).alias("sum_cos_fp"),
            F.min("vec_id").alias("min_member"),
        )
        .orderBy("cell_id")
    )


# --------------------------------------------------------- int8 quantized
def _sql_quant(vcol: str) -> str:
    """DuckDB: (scale, int8-quantized vector) for one embedding."""
    mx = f"list_max(list_transform({vcol}, x -> abs(x)))"
    return (
        f"CASE WHEN {mx} = 0 THEN 1.0 ELSE {mx} / 127.0 END AS scale, "
        f"list_transform({vcol}, x -> CAST(floor(x / (CASE WHEN {mx} = 0 THEN 1.0 ELSE {mx} / 127.0 END) + 0.5) AS BIGINT)) AS qv"
    )


_SQL_IDOT = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(list_zip({a}, {b}), p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT))), "
    "(x, y) -> x + y)"
)


@query(
    "sim_quantized_topk",
    oracle=f"""
        WITH e AS ({_SQL_VECS}),
        qz AS (SELECT vec_id, {_sql_quant('v')} FROM e),
        q AS (SELECT scale AS qscale, qv AS qqv FROM qz WHERE vec_id = {QUERY_VEC_ID})
        SELECT z.vec_id,
               round(({_SQL_IDOT.format(a='z.qv', b='q.qqv')} * z.scale * q.qscale)
                     / (sqrt({_SQL_IDOT.format(a='z.qv', b='z.qv')}) * z.scale
                        * sqrt({_SQL_IDOT.format(a='q.qqv', b='q.qqv')}) * q.qscale), 6)
                   AS q_cosine
        FROM qz z, q
        WHERE z.vec_id <> {QUERY_VEC_ID}
        ORDER BY q_cosine DESC, z.vec_id ASC
        LIMIT {TOPK}
    """,
    doc="Cosine top-k over int8 scalar-quantized vectors: per-vector "
    "scale = max|x|/127, q = floor(x/scale + 0.5) (floor(+0.5) is the "
    "one rounding both engines define identically). The dot products "
    "run on INTEGERS — exact, order-independent — so only the final "
    "scale multiplications touch floats. This is the 100 TB memory "
    "lever: 4x smaller vectors (16 GB/B vectors instead of 64 GB per "
    "dim-64 corpus slice) means 4x more index resident per executor; "
    "quantization error only reorders near-ties (compare against "
    "sim_cosine_topk).",
    tags=("similarity", "quantization"),
)
def sim_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _vecs(spark, sf_dir)
    mx = F.array_max(F.transform("v", lambda x: F.abs(x)))
    scale = F.when(mx == 0, F.lit(1.0)).otherwise(mx / 127.0)
    qz = e.select(
        "vec_id",
        scale.alias("scale"),
        F.transform("v", lambda x: F.floor(x / scale + 0.5).cast("long")).alias("qv"),
    )

    def idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    q = qz.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("scale").alias("qscale"), F.col("qv").alias("qqv")
    )
    num = idot(F.col("qv"), F.col("qqv")).cast("double") * F.col("scale") * F.col("qscale")
    den = (
        F.sqrt(idot(F.col("qv"), F.col("qv")).cast("double")) * F.col("scale")
        * F.sqrt(idot(F.col("qqv"), F.col("qqv")).cast("double")) * F.col("qscale")
    )
    return (
        qz.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(num / den, 6).alias("q_cosine"))
        .orderBy(F.col("q_cosine").desc(), F.col("vec_id").asc())
        .limit(TOPK)
    )


@query(
    "sim_cosine_topk_arrow",
    oracle=f"""
        WITH e AS ({_SQL_VECS}),
        q AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID})
        SELECT e.vec_id, {_sql_cosine('e.v', 'q.qv')} AS cosine
        FROM e, q
        WHERE e.vec_id <> {QUERY_VEC_ID}
        ORDER BY cosine DESC, e.vec_id ASC
        LIMIT {TOPK}
    """,
    doc="Arrow-vectorized cosine top-k: the same exact query as "
    "sim_cosine_topk, but the cosine runs in a scalar pandas_udf — "
    "NumPy over Arrow batches, accumulated DIMENSION-BY-DIMENSION "
    "across the batch so every row's FP addition order equals the "
    "sequential fold the JVM/DuckDB versions use (vectorized across "
    "rows, ordered across dims: bit-identical AND fast). This is the "
    "throughput path when vectors are wide and the JVM HOF fold "
    "becomes expression-interpreter-bound.",
    tags=("similarity", "arrow"),
)
def sim_cosine_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Module-level pandas import (below) is required: `from __future__
    # import annotations` stringifies the UDF's type hints, and pyspark
    # resolves them against the function's module globals.
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(v: pd.Series, qv: pd.Series) -> pd.Series:
        import numpy as np

        m = np.stack(v.to_numpy())          # (rows, dim)
        q = np.asarray(qv.iloc[0], dtype=np.float64)
        dot = np.zeros(m.shape[0])
        nv = np.zeros(m.shape[0])
        nq = 0.0
        for d in range(m.shape[1]):         # sequential over dims ⇒ fold order
            dot += m[:, d] * q[d]
            nv += m[:, d] * m[:, d]
            nq += q[d] * q[d]
        return pd.Series(dot / (np.sqrt(nv) * np.sqrt(nq)))

    e = _vecs_scan(spark, sf_dir)
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("v").alias("qv"))
    return (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(_cos(F.col("v"), F.col("qv")), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(TOPK)
    )


# ------------------------------------------------------ product quantization
PQ_M = 8  # subspaces
PQ_SUBDIM = EMB_DIM // PQ_M  # 8 dims each
PQ_CODES = 16  # codebook entries per subspace -> 8x4 bits per vector
PQ_CAND = 300  # ADC candidates reranked exactly (recall knob: rerank cost is
# ~PQ_CAND exact dots per query -- trivial next to the ADC scan. The 4x8
# codebook put the worst true top-10 neighbor at ADC rank 344 at sf0.1
# (recall 0.7 at cand=200); the finer 8x16 codebook pulls it to rank 262
# (recall 0.9 at cand=200, 1.0 at cand=300 -- both measured).


def _l2(a, b):
    """Rounded sequential-fold squared L2 (order matches _sql_l2)."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


def _sql_l2(a: str, b: str) -> str:
    diff = "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
    return (
        f"round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(list_zip({a}, {b}), p -> {diff} * {diff})), "
        f"(x, y) -> x + y), 6)"
    )


def _sql_pq_ctes() -> str:
    """DuckDB CTE chain for the PQ index build + ADC search."""
    sums = ", ".join(
        f"sum(CAST(floor(sub[{d + 1}] * {_FP} + 0.5) AS BIGINT)) AS s{d}"
        for d in range(PQ_SUBDIM)
    )
    comps = ", ".join(
        f"CAST(s{d} AS DOUBLE) / (CAST(n AS DOUBLE) * {_FP})" for d in range(PQ_SUBDIM)
    )
    sub = f"list_slice(v, m * {PQ_SUBDIM} + 1, m * {PQ_SUBDIM} + {PQ_SUBDIM})"
    return f"""
        seeds AS (
            SELECT vec_id, v, rn - 1 AS code FROM (
                SELECT vec_id, v,
                       row_number() OVER (ORDER BY (CAST(vec_id AS BIGINT) * {_SEED_MULT}) % {_SEED_MOD} ASC, vec_id ASC) AS rn
                FROM e)
            WHERE rn <= {PQ_CODES}
        ),
        subs AS (
            SELECT e.vec_id, CAST(t.m AS INT) AS m, {sub} AS sub
            FROM e, generate_series(0, {PQ_M - 1}) t(m)
        ),
        cent0 AS (
            SELECT CAST(t.m AS INT) AS m, s.code, {sub.replace('v', 's.v')} AS c
            FROM seeds s, generate_series(0, {PQ_M - 1}) t(m)
        ),
        a0 AS (
            SELECT vec_id, m, sub, code FROM (
                SELECT s.vec_id, s.m, s.sub, c.code,
                       row_number() OVER (PARTITION BY s.vec_id, s.m
                           ORDER BY {_sql_l2('s.sub', 'c.c')} ASC, c.code ASC) AS rn
                FROM subs s JOIN cent0 c ON s.m = c.m)
            WHERE rn = 1
        ),
        agg0 AS (SELECT m, code, count(*) AS n, {sums} FROM a0 GROUP BY m, code),
        cent1 AS (SELECT m, code, [{comps}] AS c FROM agg0),
        enc AS (
            SELECT vec_id, m, code FROM (
                SELECT s.vec_id, s.m, c.code,
                       row_number() OVER (PARTITION BY s.vec_id, s.m
                           ORDER BY {_sql_l2('s.sub', 'c.c')} ASC, c.code ASC) AS rn
                FROM subs s JOIN cent1 c ON s.m = c.m)
            WHERE rn = 1
        ),
        lut AS (
            SELECT c.m, c.code,
                   CAST(floor({_sql_l2('q.sub', 'c.c')} * 1000000 + 0.5) AS BIGINT) AS qdfp
            FROM (SELECT m, sub FROM subs WHERE vec_id = {QUERY_VEC_ID}) q
            JOIN cent1 c ON q.m = c.m
        ),
        adc AS (
            SELECT n.vec_id, SUM(l.qdfp) AS adc
            FROM enc n JOIN lut l ON n.m = l.m AND n.code = l.code
            WHERE n.vec_id <> {QUERY_VEC_ID}
            GROUP BY n.vec_id
        ),
        cand AS (SELECT vec_id FROM adc ORDER BY adc ASC, vec_id ASC LIMIT {PQ_CAND}),
        q AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID})
    """


def _pq_build(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """PQ index build job → (codebook, codes) DataFrames.

    Codebook = per-subspace seeded-init + one fixed-point Lloyd round
    (bit-replicable across engines); codes = each vector's nearest
    codebook entry per subspace.
    """
    e = _vecs(spark, sf_dir)
    subs = e.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"),
        F.expr(f"slice(v, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM})").alias("sub"),
    )
    # Seed codebooks from the PQ_CODES Knuth-hash-smallest vectors —
    # constant-size driver materialization (codebooks are the PQ analog
    # of k-means centers; PQ_M x PQ_CODES x PQ_SUBDIM = 8x16x8 doubles
    # at ANY corpus scale).
    seed_rows = (
        e.orderBy(
            ((F.col("vec_id").cast("long") * _SEED_MULT) % _SEED_MOD).asc(),
            F.col("vec_id").asc(),
        )
        .limit(PQ_CODES)
        .collect()
    )
    cent_rows = [
        (m, code, list(r["v"][m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]))
        for code, r in enumerate(seed_rows)
        for m in range(PQ_M)
    ]
    cent = spark.createDataFrame(cent_rows, "m int, code int, c array<double>")

    def _assign(cent_df: DataFrame) -> DataFrame:
        d = _l2(F.col("sub"), F.col("c"))
        return (
            subs.join(F.broadcast(cent_df), "m")
            .select("vec_id", "m", "sub", "code", d.alias("d"))
            .groupBy("vec_id", "m")
            .agg(
                F.first("sub").alias("sub"),
                F.min_by("code", F.struct(F.col("d"), F.col("code"))).alias("code"),
            )
        )

    # One Lloyd round: fixed-point BIGINT means per (subspace, code).
    a0 = _assign(cent)
    sums = [
        F.expr(f"sum(cast(floor(element_at(sub, {d + 1}) * {_FP} + 0.5) as bigint))").alias(f"s{d}")
        for d in range(PQ_SUBDIM)
    ]
    comps = [F.expr(f"cast(s{d} as double) / (cast(n as double) * {_FP})") for d in range(PQ_SUBDIM)]
    agg0 = a0.groupBy("m", "code").agg(F.count(F.lit(1)).alias("n"), *sums)
    cent1 = spark.createDataFrame(
        agg0.select("m", "code", F.array(*comps).alias("c")).collect(),
        "m int, code int, c array<double>",
    )
    enc = _assign(cent1).select("vec_id", "m", "code")
    return cent1, enc


def pq_index_store(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(codebook, codes) read from the build-once parquet PQ index.

    The codes table IS the index at scale (4 bytes/vector); the query
    job scans it with a broadcast LUT and never touches raw vectors
    until the exact rerank. Keyed to the fixture's identity+version.
    Parquet round-trips the codebook doubles exactly, so query results
    are bit-identical to an in-session build.
    """
    import os

    from data_pipeline_with_hdfs_sql_integration_spark.catalog import (
        deterministic_tmp_dir,
        params_digest,
        publish_store,
        table_path,
    )

    store = deterministic_tmp_dir(
        f"pqindex{PQ_M}x{PQ_CODES}v{params_digest(_SEED_MULT, _SEED_MOD, _FP, PQ_SUBDIM)}",
        table_path(sf_dir, "embeddings"),
    )

    def build(staging: str) -> None:
        codebook, codes = _pq_build(spark, sf_dir)
        codebook.write.parquet(os.path.join(staging, "codebook"))
        codes.write.parquet(os.path.join(staging, "codes"))

    publish_store(store, build)
    return (
        read_parquet(spark, os.path.join(store, "codebook")),
        read_parquet(spark, os.path.join(store, "codes")),
    )


@query(
    "sim_ann_pq",
    oracle=f"""
        WITH e AS ({_SQL_VECS}),
        {_sql_pq_ctes()}
        SELECT c.vec_id, {_sql_cosine('e.v', 'q.qv')} AS cosine
        FROM cand c JOIN e ON c.vec_id = e.vec_id, q
        ORDER BY cosine DESC, c.vec_id ASC
        LIMIT {IVF_TOPK}
    """,
    doc=f"ANN via product quantization: {PQ_M} subspaces x {PQ_SUBDIM} "
    f"dims, {PQ_CODES}-entry codebook per subspace (seeded init + one "
    "Lloyd round, fixed-point integer means — bit-replicable), encode "
    f"each vector as {PQ_M} codes ({PQ_M}x4 bits, a 64x memory "
    "reduction vs float32), search by asymmetric distance: the query "
    "precomputes a (subspace, code) -> distance lookup table, candidate "
    "distance is an exact BIGINT sum of table entries (no float "
    f"order-dependence), top-{PQ_CAND} candidates rerank exactly. "
    "Completes the ANN toolbox: LSH (signatures), IVF (partitions), "
    "int8 SQ (memory), PQ (extreme compression + table-driven scan). "
    "At 100 TB the codes table is the index: 4 bytes/vector scanned "
    f"with a broadcast {PQ_M * PQ_CODES}-row LUT — a map-only pass plus "
    "one TakeOrderedAndProject.",
    tags=("similarity", "pq"),
)
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scan-native vector read (r13): every consumer of e here is either
    # a single-vector lookup (query subvectors, the rerank q) or the
    # 300-candidate rerank probe — none does per-row corpus math, so
    # the _vecs CPU-spread exchange only added three RoundRobin
    # shuffles (one of them moving exactly ONE row) to the timed path.
    # The parallel scan that matters — the ADC pass — reads the codes
    # store, not e.
    e = _vecs_scan(spark, sf_dir)
    cent1, enc = pq_index_store(spark, sf_dir)
    # Query-side subvectors come from the ONE query vector — the full
    # corpus is never re-sliced at query time.
    qsubs = (
        e.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"),
            F.col("v"),
        )
        .select("m", F.expr(f"slice(v, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM})").alias("qsub"))
    )
    lut = (
        qsubs.join(cent1, "m")
        .select(
            "m", "code",
            F.floor(_l2(F.col("qsub"), F.col("c")) * 1000000 + F.lit(0.5)).cast("long").alias("qdfp"),
        )
    )
    adc = (
        enc.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(lut), ["m", "code"])
        .groupBy("vec_id")
        .agg(F.sum("qdfp").alias("adc"))
    )
    cand = adc.orderBy(F.col("adc").asc(), F.col("vec_id").asc()).limit(PQ_CAND).select("vec_id")
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("v").alias("qv"))
    return (
        cand.join(e, "vec_id")
        .crossJoin(F.broadcast(q))
        .select("vec_id", _cosine(F.col("v"), F.col("qv")).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(IVF_TOPK)
    )


# --------------------------------------------------- random projection (JL)
RP_DIM = 8  # target dimensionality
_rp_rng = random.Random(99)
RP_PLANES: list[list[float]] = [
    [round(_rp_rng.uniform(-0.5, 0.5), 3) for _ in range(EMB_DIM)] for _ in range(RP_DIM)
]


def _rp_cols() -> list:
    return [
        F.round(tf.dot(F.col("v"), F.array(*[F.lit(c) for c in plane])), 6).alias(f"p{k}")
        for k, plane in enumerate(RP_PLANES)
    ]


@query(
    "emb_random_projection",
    oracle=f"""
        WITH e AS ({_SQL_VECS})
        SELECT vec_id,
               {", ".join(
                   f"round({tf.sql_dot('v', _sql_plane_list(plane))}, 6) AS p{k}"
                   for k, plane in enumerate(RP_PLANES)
               )}
        FROM e
    """,
    doc=f"Johnson-Lindenstrauss random projection: every embedding is "
    f"projected from {EMB_DIM} to {RP_DIM} dims against a deterministic "
    "literal matrix (3-decimal coefficients parse to identical doubles "
    "in both engines; sequential-fold dots keep FP order identical). "
    "The standard pre-step before clustering/ANN when vectors are wide: "
    "map-only, zero shuffle, output is 8 doubles/vector — at 100 TB "
    "that's an 8x reduction of everything downstream touches.",
    tags=("similarity", "projection"),
)
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _vecs(spark, sf_dir).select("vec_id", *_rp_cols())


# ----------------------------------------------------------------- MMR
#: MMR diversification: candidate pool size, picks, and the relevance/
#: diversity trade-off 7:3 (lambda = 0.7, scaled x10 so the greedy
#: score stays in exact BIGINTs).
MMR_POOL = 24
MMR_PICKS = 8
MMR_REL_W = 7
MMR_DIV_W = 3


def _cos_e6(a, b):
    """Cosine scaled to an exact BIGINT (ppm) — sequential-fold dot,
    one IEEE divide, one round: both engines produce the identical
    double, so the integer is identical too (same posture as the
    rounded-cosine family)."""
    return F.round(
        tf.dot(a, b) / (F.sqrt(tf.dot(a, a)) * F.sqrt(tf.dot(b, b))) * 1000000
    ).cast("long")


def _sql_cos_e6(a: str, b: str) -> str:
    return (
        f"CAST(round({tf.sql_dot(a, b)} / (sqrt({tf.sql_dot(a, a)}) * "
        f"sqrt({tf.sql_dot(b, b)})) * 1000000) AS BIGINT)"
    )


def _sql_mmr() -> str:
    rounds = []
    prev_all = "all_1"
    rounds.append(
        f"""cand AS MATERIALIZED (
            SELECT e.vec_id, {_sql_cos_e6('e.v', 'q.qv')} AS rel_e6, e.v
            FROM e, q
            WHERE e.vec_id <> {QUERY_VEC_ID}
            ORDER BY rel_e6 DESC, e.vec_id ASC
            LIMIT {MMR_POOL}
        ),
        pairsim AS MATERIALIZED (
            SELECT a.vec_id AS pa, b.vec_id AS pb, {_sql_cos_e6('a.v', 'b.v')} AS sim_e6
            FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
        ),
        p1 AS (
            SELECT vec_id, rel_e6, CAST(1 AS BIGINT) AS pick_round
            FROM cand ORDER BY rel_e6 DESC, vec_id ASC LIMIT 1
        ),
        all_1 AS MATERIALIZED (SELECT vec_id, rel_e6, pick_round FROM p1)"""
    )
    for i in range(2, MMR_PICKS + 1):
        rounds.append(
            f"""sc{i} AS (
            SELECT c.vec_id, c.rel_e6,
                   {MMR_REL_W} * c.rel_e6 - {MMR_DIV_W} * max(ps.sim_e6) AS score
            FROM cand c
            JOIN pairsim ps ON ps.pa = c.vec_id
            JOIN {prev_all} s ON ps.pb = s.vec_id
            WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev_all})
            GROUP BY c.vec_id, c.rel_e6
        ),
        p{i} AS (
            SELECT vec_id, rel_e6, CAST({i} AS BIGINT) AS pick_round
            FROM sc{i} ORDER BY score DESC, vec_id ASC LIMIT 1
        ),
        all_{i} AS MATERIALIZED (
            SELECT vec_id, rel_e6, pick_round FROM {prev_all}
            UNION ALL
            SELECT vec_id, rel_e6, pick_round FROM p{i}
        )"""
        )
        prev_all = f"all_{i}"
    return ",\n        ".join(rounds), prev_all


_MMR_CTES, _MMR_FINAL = _sql_mmr()


@query(
    "sim_mmr_diversify",
    oracle=f"""
        WITH e AS ({_SQL_VECS}),
        q AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
        {_MMR_CTES}
        SELECT pick_round, vec_id, rel_e6 FROM {_MMR_FINAL}
    """,
    doc=f"Maximal-marginal-relevance re-rank: the top-{MMR_POOL} "
    "cosine candidates are greedily re-selected so each pick maximizes "
    f"{MMR_REL_W}*relevance - {MMR_DIV_W}*max-similarity-to-already-"
    f"picked (lambda=0.7), yielding {MMR_PICKS} results that cover the "
    "neighborhood instead of returning near-duplicates of each other "
    "— the standard retrieval diversification between ANN and the "
    "consumer. Everything is exact BIGINT ppm (rounded-cosine "
    "integers; argmax ties by vec_id), so the greedy trace is "
    "bit-identical across engines — the oracle unrolls the same "
    f"{MMR_PICKS} rounds as chained CTEs (the PageRank unrolling "
    "pattern). Scale shape: the DISTRIBUTED work is the candidate "
    "top-K scan (TakeOrderedAndProject, like sim_cosine_topk); the "
    f"greedy runs on the constant-size {MMR_POOL}-candidate pool and "
    f"its {MMR_POOL}x{MMR_POOL} pairwise-sim relation — per-round "
    "cost is independent of corpus size, exactly like the k-means "
    "center collect. At 100 TB swap the exact candidate scan for any "
    "ANN tier (LSH/IVF/PQ) unchanged.",
    tags=("similarity", "topk"),
)
def sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _vecs(spark, sf_dir)
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("v").alias("qv"))
    cand = persist(
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", _cos_e6(F.col("v"), F.col("qv")).alias("rel_e6"), "v")
        .orderBy(F.col("rel_e6").desc(), F.col("vec_id").asc())
        .limit(MMR_POOL)
    )
    ca = cand.alias("ca")
    cb = cand.alias("cb")
    pairsim = persist(
        ca.join(cb, F.col("ca.vec_id") != F.col("cb.vec_id"))
        .select(
            F.col("ca.vec_id").alias("pa"),
            F.col("cb.vec_id").alias("pb"),
            _cos_e6(F.col("ca.v"), F.col("cb.v")).alias("sim_e6"),
        )
    )
    # Each greedy round's argmax is a 1-row driver collect (the
    # constant-size k-means-centers pattern); chaining the rounds as
    # one lazy plan instead would reference round i-1 twice per round
    # and blow the plan up exponentially.
    first = (
        cand.orderBy(F.col("rel_e6").desc(), F.col("vec_id").asc())
        .select("vec_id", "rel_e6")
        .first()
    )
    picks = [(1, first["vec_id"], first["rel_e6"])]
    for i in range(2, MMR_PICKS + 1):
        picked_ids = [p[1] for p in picks]
        row = (
            cand.filter(~F.col("vec_id").isin(picked_ids))
            .join(pairsim, F.col("pa") == F.col("vec_id"))
            .filter(F.col("pb").isin(picked_ids))
            .groupBy("vec_id", "rel_e6")
            .agg(
                (
                    F.lit(MMR_REL_W) * F.col("rel_e6") - F.lit(MMR_DIV_W) * F.max("sim_e6")
                ).alias("score")
            )
            .orderBy(F.col("score").desc(), F.col("vec_id").asc())
            .first()
        )
        picks.append((i, row["vec_id"], row["rel_e6"]))
    return spark.createDataFrame(
        picks, "pick_round bigint, vec_id bigint, rel_e6 bigint"
    )


# ---------------------------------------------------------- grid join
#: Grid-bucketed spatial self-join: radius and cell side (cell = r, so
#: all true neighbors live in the 3x3 neighborhood of a point's cell).
GRID_R2 = 0.0001  # r = 0.01 in the 2-D projection
GRID_CELL = 0.01


@query(
    "sim_grid_neighbors",
    oracle=f"""
        WITH p AS (
            SELECT vec_id,
                   CAST(embedding[1] AS DOUBLE) AS x,
                   CAST(embedding[2] AS DOUBLE) AS y
            FROM embeddings
        ),
        cells AS (
            SELECT vec_id, x, y,
                   CAST(floor(x / {GRID_CELL}) AS BIGINT) AS cx,
                   CAST(floor(y / {GRID_CELL}) AS BIGINT) AS cy
            FROM p
        ),
        probes AS (
            SELECT c.vec_id, c.x, c.y, c.cx + dx.d AS ncx, c.cy + dy.d AS ncy
            FROM cells c,
                 (VALUES (-1), (0), (1)) dx(d),
                 (VALUES (-1), (0), (1)) dy(d)
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y), 9)
                   AS dist2
        FROM probes a
        JOIN cells b ON b.cx = a.ncx AND b.cy = a.ncy AND a.vec_id < b.vec_id
        WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {GRID_R2}
    """,
    doc="Grid-bucketed spatial self-join: all point pairs within "
    "radius r in the embedding's first two dimensions. Cell side = r, "
    "so every true neighbor pair shares a cell or touches an adjacent "
    "one: ONE side replicates to its 9 neighbor cells (bounded "
    "explode), the join is an equi-join on cell id, and the exact "
    "distance check runs only within candidate cells — the canonical "
    "blocked spatial join (work ∝ points-per-cell², never |P|²; no "
    "cross join in the plan). Each qualifying pair is found exactly "
    "once because the build side keys on its OWN cell. Distances are "
    "identical doubles in both engines (same expression order). At "
    "100 TB the cell id is the shuffle key — uniform for "
    "near-uniform point sets; for skewed sets split hot cells by a "
    "secondary hash exactly like the salted-join tooling in "
    "operators/skew.py.",
    tags=("similarity", "join", "spatial"),
)
def sim_grid_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _vecs_scan(spark, sf_dir).select(
        "vec_id",
        F.element_at("v", 1).cast("double").alias("x"),
        F.element_at("v", 2).cast("double").alias("y"),
    )
    cells = pts.select(
        "vec_id",
        "x",
        "y",
        F.floor(F.col("x") / GRID_CELL).cast("long").alias("cx"),
        F.floor(F.col("y") / GRID_CELL).cast("long").alias("cy"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).cast("long").alias("dx"), F.lit(dy).cast("long").alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    probes = cells.select(
        "vec_id", "x", "y", "cx", "cy", F.explode(offsets).alias("o")
    ).select(
        "vec_id",
        "x",
        "y",
        (F.col("cx") + F.col("o.dx")).alias("ncx"),
        (F.col("cy") + F.col("o.dy")).alias("ncy"),
    )
    a = probes.alias("a")
    b = cells.alias("b")
    dist2 = (F.col("a.x") - F.col("b.x")) * (F.col("a.x") - F.col("b.x")) + (
        F.col("a.y") - F.col("b.y")
    ) * (F.col("a.y") - F.col("b.y"))
    return (
        a.join(
            b,
            (F.col("b.cx") == F.col("a.ncx"))
            & (F.col("b.cy") == F.col("a.ncy"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(dist2 <= GRID_R2)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(dist2, 9).alias("dist2"),
        )
    )


# ------------------------------------------------------- curation pipeline
#: Per-cell budget for the diversity-preserving sample.
CURATE_PER_CELL = 8
#: Affine hash index 8 for the deterministic sample rank (count-min
#: uses 0-3, Bloom 4-6, KMV 7).
CURATE_HASH_IDX = 8


def _register_pipeline_embedding_curation() -> None:
    """Called from plans/__init__.load_all_plans AFTER every module has
    registered: the oracle embeds dedup_semantic's oracle text, and
    dedup.py imports THIS module mid-registration — calling at import
    time would race that cycle."""
    from data_pipeline_with_hdfs_sql_integration_spark import registry

    if "pipeline_embedding_curation" in registry._REGISTRY:
        return
    ha, hb = tf.MINHASH_PARAMS[CURATE_HASH_IDX]
    base_oracle = registry._REGISTRY["dedup_semantic"].oracle

    @query(
        "pipeline_embedding_curation",
        oracle=f"""
            WITH base AS ({base_oracle}),
            surv AS (
                SELECT vec_id, cell_id,
                       ({ha} * vec_id + {hb}) % {tf.MOD} AS h
                FROM base WHERE keep = 1
            ),
            ranked AS (
                SELECT vec_id, cell_id,
                       row_number() OVER (PARTITION BY cell_id
                                          ORDER BY h ASC, vec_id ASC) AS rn
                FROM surv
            ),
            sampled AS (
                SELECT cell_id,
                       CAST(count(*) AS BIGINT) AS n_sampled,
                       CAST(sum(vec_id) % {tf.MOD} AS BIGINT) AS sample_checksum
                FROM ranked WHERE rn <= {CURATE_PER_CELL}
                GROUP BY cell_id
            ),
            totals AS (
                SELECT cell_id,
                       CAST(count(*) AS BIGINT) AS n_total,
                       CAST(sum(keep) AS BIGINT) AS n_kept
                FROM base GROUP BY cell_id
            )
            SELECT t.cell_id, t.n_total, t.n_kept,
                   coalesce(s.n_sampled, 0) AS n_sampled,
                   coalesce(s.sample_checksum, 0) AS sample_checksum
            FROM totals t LEFT JOIN sampled s USING (cell_id)
        """,
        doc="End-to-end embedding-curation pipeline, the vector-space "
        "sibling of pipeline_training_corpus: IVF k-means cells (the "
        "build-once ANN index) -> SemDeDup greedy semantic dedup "
        "(dedup_semantic's verdicts, reused verbatim — its oracle is "
        f"embedded as this one's base CTE) -> a {CURATE_PER_CELL}-per-"
        "cell budgeted sample picked by deterministic key hash, so "
        "every region of embedding space keeps representation (the "
        "diversity-aware subsetting a dataset-distillation step runs "
        "after dedup). Per-cell manifest: total, surviving dedup, "
        "sampled, and an order-independent checksum of the sampled "
        "ids. Scale shape: dedup is cell-keyed (SemDeDup), the sample "
        "rank is a per-cell window over survivors, the manifest is a "
        "tiny aggregate — nothing corpus-quadratic anywhere.",
        tags=("pipeline", "embeddings", "training", "sampling"),
    )
    def pipeline_embedding_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql import Window

        base = persist(registry.get("dedup_semantic").fn(spark, sf_dir))
        surv = base.filter(F.col("keep") == 1).select(
            "vec_id",
            "cell_id",
            ((F.lit(ha) * F.col("vec_id") + F.lit(hb)) % tf.MOD).alias("h"),
        )
        rn = F.row_number().over(
            Window.partitionBy("cell_id").orderBy(F.col("h").asc(), F.col("vec_id").asc())
        )
        sampled = (
            surv.select("vec_id", "cell_id", rn.alias("rn"))
            .filter(F.col("rn") <= CURATE_PER_CELL)
            .groupBy("cell_id")
            .agg(
                F.count("*").alias("n_sampled"),
                (F.sum("vec_id") % tf.MOD).alias("sample_checksum"),
            )
        )
        totals = base.groupBy("cell_id").agg(
            F.count("*").alias("n_total"), F.sum("keep").alias("n_kept")
        )
        return (
            totals.join(sampled, "cell_id", "left")
            .select(
                "cell_id",
                "n_total",
                "n_kept",
                F.coalesce("n_sampled", F.lit(0).cast("long")).alias("n_sampled"),
                F.coalesce("sample_checksum", F.lit(0).cast("long")).alias("sample_checksum"),
            )
        )


"""Deterministic sampling operators.

`df.sample()` is seed-dependent *per partition layout*, so its output
changes with split planning — useless for a cross-engine oracle and
dangerous for reproducible 100 TB pipelines (a repartition silently
changes the sample). These operators hash the row KEY instead: a row
is in the sample iff h(key) mod D < rate·D. Fully deterministic,
partition-layout-independent, cheap (one affine mod per row, inside
codegen), and the sample is stable under re-runs, engine changes, and
data re-layout — the property a training-data pipeline actually needs.

h(k) = (A·k + B) mod P with P = 1e9+7 (same constants as
functions/textfns.py MinHash family).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import load
from data_pipeline_with_hdfs_sql_integration_spark.functions import textfns as tf
from data_pipeline_with_hdfs_sql_integration_spark.functions.textfns import MOD
from data_pipeline_with_hdfs_sql_integration_spark.registry import query

HASH_A = 104_729
HASH_B = 12_345


def hash_bucket(key: Column, buckets: int = 100) -> Column:
    """Deterministic bucket in [0, buckets) from an integer key."""
    return ((key.cast("long") * HASH_A + HASH_B) % MOD) % buckets


def sql_hash_bucket(expr: str, buckets: int = 100) -> str:
    return f"(((CAST({expr} AS BIGINT) * {HASH_A} + {HASH_B}) % {MOD}) % {buckets})"


@query(
    "sample_hash_bernoulli",
    oracle=f"""
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_sampled,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sampled_price
        FROM orders
        WHERE {sql_hash_bucket('o_orderkey')} < 10
        GROUP BY o_orderstatus
    """,
    doc="Deterministic 10% Bernoulli sample of orders keyed by "
    "h(o_orderkey): the filter is an arithmetic predicate, so it rides "
    "the normal scan (no shuffle, no RNG state), and the same 10% of "
    "keys is selected no matter how the data is partitioned or which "
    "engine runs it — reproducible subsampling for 100 TB pipelines.",
    tags=("sampling",),
)
def sample_hash_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(hash_bucket(F.col("o_orderkey")) < 10)
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_sampled"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("sampled_price"),
    )


@query(
    "sample_stratified",
    oracle=f"""
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_sampled
        FROM customer
        WHERE {sql_hash_bucket('c_custkey')} <
              CASE c_mktsegment WHEN 'BUILDING' THEN 40
                                WHEN 'MACHINERY' THEN 20
                                ELSE 5 END
        GROUP BY c_mktsegment
    """,
    doc="Stratified deterministic sampling: per-stratum rates (40% "
    "BUILDING, 20% MACHINERY, 5% rest) applied via the same key hash — "
    "the Spark analog of df.sampleBy, minus the seed/partition "
    "nondeterminism. Rates are a CASE over the stratum column; still a "
    "pure scan-side predicate.",
    tags=("sampling", "stratified"),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    rate = (
        F.when(F.col("c_mktsegment") == "BUILDING", 40)
        .when(F.col("c_mktsegment") == "MACHINERY", 20)
        .otherwise(5)
    )
    c = load(spark, sf_dir, "customer").filter(hash_bucket(F.col("c_custkey")) < rate)
    return c.groupBy("c_mktsegment").agg(F.count("*").alias("n_sampled"))


@query(
    "sample_split_manifest",
    oracle=f"""
        WITH tagged AS (
            SELECT source,
                   CASE WHEN {sql_hash_bucket('doc_id')} < 90 THEN 'train'
                        WHEN {sql_hash_bucket('doc_id')} < 95 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        )
        SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs
        FROM tagged GROUP BY source, split
    """,
    doc="Deterministic 90/5/5 train/val/test split manifest: each "
    "document's split comes from the Knuth hash of its KEY, so the "
    "assignment is (a) partition-layout independent, (b) stable "
    "across reruns and engines, (c) structurally disjoint+exhaustive "
    "— one bucket value, one CASE arm. The per-(source, split) "
    "manifest is what a training job consumes; leakage checks reduce "
    "to hash-bucket arithmetic instead of set intersections "
    "(split_leakage_audit is the content-level complement). Map-side "
    "tag + tiny aggregate, no data movement at any scale.",
    tags=("sampling", "training", "split"),
)
def sample_split_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    b = hash_bucket(F.col("doc_id"))
    split = (
        F.when(b < 90, "train").when(b < 95, "val").otherwise("test")
    )
    return (
        d.select("source", split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ------------------------------------------------------------ bootstrap
#: Poisson(1) multiplicity thresholds scaled to 1e6 (inverse-CDF on a
#: uniform integer hash): P(0)=.367879, P(<=1)=.735759, P(<=2)=.919699,
#: P(<=3)=.981012, truncated at 4.
BOOT_REPLICAS = 3
BOOT_CDF_PPM = (367879, 735759, 919699, 981012)
#: Affine hash index 9 (count-min 0-3, Bloom 4-6, KMV 7, curation 8).
BOOT_HASH_IDX = 9


def _boot_mult_sql(u: str) -> str:
    c = BOOT_CDF_PPM
    return (
        f"CASE WHEN {u} < {c[0]} THEN 0 WHEN {u} < {c[1]} THEN 1 "
        f"WHEN {u} < {c[2]} THEN 2 WHEN {u} < {c[3]} THEN 3 ELSE 4 END"
    )


@query(
    "sample_poisson_bootstrap",
    oracle=f"""
        WITH reps AS (
            SELECT o.o_orderkey,
                   CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
                   k.k,
                   ({tf.MINHASH_PARAMS[BOOT_HASH_IDX][0]} * (o.o_orderkey * 10 + k.k)
                    + {tf.MINHASH_PARAMS[BOOT_HASH_IDX][1]}) % {tf.MOD} % 1000000 AS u
            FROM orders o, (SELECT unnest(generate_series(1, {BOOT_REPLICAS})) AS k) k
        )
        SELECT k AS replica,
               CAST(sum({_boot_mult_sql('u')}) AS BIGINT) AS n_rows,
               CAST(sum({_boot_mult_sql('u')} * cents) AS BIGINT) AS sum_cents
        FROM reps
        GROUP BY k
        UNION ALL
        SELECT 0 AS replica,
               CAST(count(*) AS BIGINT),
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        FROM orders
    """,
    doc=f"Deterministic Poisson bootstrap: {BOOT_REPLICAS} bagging "
    "replicas of the orders table where each row's multiplicity in "
    "replica k is Poisson(1) via inverse-CDF over a uniform integer "
    "key hash — the online-bootstrap trick (Oza/Russell) that makes "
    "resampling-with-replacement a MAP-SIDE operation: no global n "
    "to sample against, no RNG state, and the same row always lands "
    "the same multiplicity whatever the partitioning or engine "
    "(replica 0 = the original, for comparison). Per-replica row "
    "counts and exact-cents totals come from one explode + one "
    "map-side-combined aggregate; at 100 TB this is how bagged "
    "models and bootstrap confidence intervals run over data too "
    "big to resample by index.",
    tags=("sampling", "stats", "training"),
)
def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    a, b = tf.MINHASH_PARAMS[BOOT_HASH_IDX]
    c = BOOT_CDF_PPM

    def mult(u):
        return (
            F.when(u < c[0], 0)
            .when(u < c[1], 1)
            .when(u < c[2], 2)
            .when(u < c[3], 3)
            .otherwise(4)
        )

    reps = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("k"),
                        mult(
                            (F.lit(a) * (F.col("o_orderkey") * 10 + k) + F.lit(b))
                            % tf.MOD
                            % 1000000
                        ).alias("m"),
                    )
                    for k in range(1, BOOT_REPLICAS + 1)
                ]
            )
        ).alias("r"),
    )
    boot = reps.groupBy(F.col("r.k").alias("replica")).agg(
        F.sum("r.m").alias("n_rows"),
        F.sum(F.col("r.m") * F.col("cents")).alias("sum_cents"),
    )
    orig = orders.agg(
        F.lit(0).cast("long").alias("replica"),
        F.count("*").alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("sum_cents"),
    )
    return boot.unionAll(orig)

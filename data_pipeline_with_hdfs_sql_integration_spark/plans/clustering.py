"""Duplicate-cluster formation: connected components over near-dup
pairs, plus relational unpivot.

Pair generation (dedup_minhash_lsh) says which documents match; a
training pipeline then needs the transitive CLUSTERS ("A~B and B~C ⇒
keep one of {A,B,C}"). Connected components is the canonical iterative
DataFrame algorithm: label propagation to the component minimum, one
join+aggregate per round, converging in O(graph diameter) rounds.

The DuckDB oracle computes the same components with a recursive CTE
(transitive closure → min reachable id) — an iterative Spark algorithm
checked against a declarative fixpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import checkpoint, load
from data_pipeline_with_hdfs_sql_integration_spark.plans.dedup import (
    SQL_MINHASH_PAIRS_CTES,
    dedup_minhash_lsh,
)
from data_pipeline_with_hdfs_sql_integration_spark.registry import query

MAX_ITERATIONS = 50  # backstop only; diameter bounds the real count


def connected_components(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Min-label propagation over an undirected edge list.

    Returns (node, cluster_id = min node id in the component). Each
    round: every node adopts min(own label, neighbors' labels) — the
    self-loop edges make that ONE join + ONE min-aggregate, and the
    fixpoint check is a one-row sum (labels only decrease, so an
    unchanged sum(label) IS convergence). Both steps shuffle on the
    node id; skew is bounded by max degree. For graphs with huge
    diameters, swap in the large-star/small-star variant (Kiveris et
    al.) — same DataFrame substrate.
    """
    und = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
        pairs.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    # Self-loops fold "own label" into the same neighbor-min aggregate,
    # so each round is ONE join + ONE aggregation (no second join to
    # merge old labels back, no per-round equality join for convergence).
    # Eager localCheckpoint (not persist) per round: a persisted frame
    # keeps its full logical lineage, so after k rounds the plan nests
    # k copies of the edge pipeline — on high-diameter graphs (many
    # rounds) the plan alone overflows the driver heap. Checkpointing
    # truncates each round's plan to its materialized blocks.
    nodes = und.select(F.col("a").alias("n")).distinct()
    edges = checkpoint(und.union(nodes.select(F.col("n").alias("a"), F.col("n").alias("b"))).distinct())
    labels = checkpoint(nodes.select(F.col("n").alias("node"), F.col("n").alias("label")))
    # Labels only ever decrease, so sum(label) strictly decreases until
    # the fixpoint: a one-row aggregate is the convergence check.
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]

    for _ in range(MAX_ITERATIONS):
        labels = checkpoint(
            edges.join(labels, edges.a == labels.node)
            .groupBy(F.col("b").alias("node"))
            .agg(F.min("label").alias("label"))
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        # Hitting the backstop means labels are STALE (nodes farther
        # than MAX_ITERATIONS hops from their component min still carry
        # wrong labels) — failing loudly beats silently-wrong clusters.
        raise RuntimeError(
            f"connected_components did not converge in {MAX_ITERATIONS} rounds "
            "(graph diameter exceeds the round budget); use "
            "connected_components_star, which converges in O(log n) rounds "
            "on any graph"
        )
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


def connected_components_star(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    'Connected Components in MapReduce and Beyond').

    Same (node, cluster_id = component min) contract as
    connected_components, but converges in O(log n) rounds on ANY
    graph — min-label propagation needs O(diameter) rounds, which on a
    path-shaped duplicate chain at 100 TB is the difference between ~40
    shuffles and ~6. Each round is two grouped-min aggregates + joins,
    all shuffling on node ids; the fixpoint check is a one-row
    (count, checksum) collect per round.

    large-star: every node's LARGER neighbors re-attach to its minimum
    neighbor (strictly shrinks tall structures); small-star: every
    node's smaller-or-equal neighbors re-attach to the minimum
    (flattens into stars). At the fixpoint the edge set IS the
    node -> component-min star graph.
    """
    # Eager localCheckpoint per round, NOT persist: each round's plan
    # references the prior round's ~8 times (two symmetrizations, two
    # grouped mins, unions), so lineage grows exponentially — by round
    # ~7 the logical plan alone overflows the driver heap. Checkpointing
    # truncates the plan to the materialized blocks; on a cluster the
    # same call (or a reliable checkpoint dir) is what GraphX-style
    # iterative algorithms do.
    e = checkpoint(
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    nodes = checkpoint(e.select(F.col("a").alias("n")).union(e.select(F.col("b").alias("n"))).distinct())

    def checksum(edges: DataFrame):
        row = edges.agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(F.col("a") * F.lit(1_000_003) + F.col("b")).alias("s"),
        ).collect()[0]
        return row["c"], row["s"]

    def large_star(edges: DataFrame) -> DataFrame:
        sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        withself = sym.union(nodes.select(F.col("n").alias("a"), F.col("n").alias("b")))
        mins = withself.groupBy("a").agg(F.min("b").alias("m"))
        return (
            sym.filter(F.col("b") > F.col("a"))
            .join(mins, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .distinct()
        )

    def small_star(edges: DataFrame) -> DataFrame:
        # Point every edge from the larger to the smaller endpoint, so
        # each node u receives exactly its smaller neighbors.
        pointed = edges.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        withself = pointed.union(
            pointed.select(F.col("a").alias("a"), F.col("a").alias("b")).distinct()
        )
        mins = withself.groupBy("a").agg(F.min("b").alias("m"))
        attach = (
            pointed.join(mins, "a")
            .filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        selfm = mins.select(F.col("a"), F.col("m").alias("b")).filter(F.col("a") != F.col("b"))
        return attach.union(selfm).distinct()

    prev_e, prev = e, checksum(e)
    for _ in range(MAX_ITERATIONS):
        e = checkpoint(small_star(large_star(prev_e)))
        cur = checksum(e)
        # The (count, wrapping-sum) checksum is a cheap fast path that
        # can collide; on apparent convergence confirm the fixpoint
        # EXACTLY (e ⊆ prev ∧ |e| = |prev| ⇒ equality) — one extra job,
        # paid once. A collision then just means one more round, never
        # wrong labels.
        if cur == prev and e.exceptAll(prev_e).isEmpty():
            break
        prev_e, prev = e, cur
    else:
        # Hitting the budget means the edge set was still moving — the
        # star graph is unfinished and labels would be wrong/duplicated.
        # Fail loudly (same contract as connected_components).
        raise RuntimeError(
            f"connected_components_star did not converge in {MAX_ITERATIONS} "
            "rounds — O(log n) contraction should converge far earlier; "
            "the input edge list is pathological or the budget is too low"
        )
    labels = e.select(F.col("a").alias("node"), F.col("b").alias("cluster_id"))
    roots = nodes.join(e.select(F.col("a").alias("n")).distinct(), "n", "left_anti").select(
        F.col("n").alias("node"), F.col("n").alias("cluster_id")
    )
    return labels.union(roots)


@query(
    "dedup_clusters_star",
    oracle=f"""
        WITH RECURSIVE {SQL_MINHASH_PAIRS_CTES},
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM prs
            UNION
            SELECT doc_b, doc_a FROM prs
        ),
        reach AS (
            SELECT a AS n, a AS m FROM edges
            UNION
            SELECT r.n, e.b AS m FROM reach r JOIN edges e ON r.m = e.a
        )
        SELECT CAST(n AS BIGINT) AS doc_id,
               CAST(min(m) AS BIGINT) AS cluster_id
        FROM reach
        GROUP BY n
    """,
    doc="The same duplicate-cluster result as dedup_clusters, computed "
    "by large-star/small-star contraction instead of min-label "
    "propagation: O(log n) rounds on ANY graph shape versus "
    "O(diameter) — the variant to run when duplicate chains are long "
    "(near-identical boilerplate series) or degree is adversarial. "
    "Value-checked against the identical declarative recursive-CTE "
    "fixpoint, so both iterative algorithms are proven to agree with "
    "the same ground truth.",
    tags=("dedup", "clustering", "iterative"),
)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh(spark, sf_dir)
    cc = connected_components_star(pairs, "doc_a", "doc_b")
    return cc.select(F.col("node").cast("long").alias("doc_id"), F.col("cluster_id").cast("long"))


@query(
    "dedup_clusters",
    oracle=f"""
        WITH RECURSIVE {SQL_MINHASH_PAIRS_CTES},
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM prs
            UNION
            SELECT doc_b, doc_a FROM prs
        ),
        reach AS (
            SELECT a AS n, a AS m FROM edges
            UNION
            SELECT r.n, e.b AS m FROM reach r JOIN edges e ON r.m = e.a
        )
        SELECT CAST(n AS BIGINT) AS doc_id,
               CAST(min(m) AS BIGINT) AS cluster_id
        FROM reach
        GROUP BY n
    """,
    doc="Duplicate clusters: connected components (iterative min-label "
    "propagation, two shuffles per round) over the MinHash-LSH pair "
    "graph. cluster_id = min doc_id in the component — the canonical "
    "'keep one representative per cluster' key. Oracle: DuckDB "
    "recursive-CTE transitive closure, so the iterative algorithm is "
    "checked against a declarative fixpoint.",
    tags=("dedup", "clustering", "iterative"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh(spark, sf_dir)
    cc = connected_components(pairs, "doc_a", "doc_b")
    return cc.select(F.col("node").cast("long").alias("doc_id"), F.col("cluster_id").cast("long"))


@query(
    "transform_unpivot",
    oracle="""
        SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value
        FROM part
        UNION ALL
        SELECT p_partkey, 'retailprice' AS metric, CAST(p_retailprice AS DOUBLE) AS value
        FROM part
    """,
    doc="Unpivot (wide→long): part's numeric columns melted to "
    "(key, metric, value) rows via DataFrame.unpivot — the inverse of "
    "agg_pivot_segments. Map-side row expansion, no shuffle.",
    tags=("reshape",),
)
def transform_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").cast("double").alias("retailprice"),
    )
    return p.unpivot("p_partkey", ["size", "retailprice"], "metric", "value")


@query(
    "dedup_keep_representatives",
    oracle=f"""
        WITH RECURSIVE {SQL_MINHASH_PAIRS_CTES},
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM prs
            UNION
            SELECT doc_b, doc_a FROM prs
        ),
        reach AS (
            SELECT a AS n, a AS m FROM edges
            UNION
            SELECT r.n, e.b AS m FROM reach r JOIN edges e ON r.m = e.a
        ),
        clusters AS (
            SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n
        ),
        dropped AS (
            SELECT doc_id FROM clusters WHERE doc_id <> cluster_id
        )
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) FILTER (dr.doc_id IS NULL) AS BIGINT) AS n_kept,
               CAST(count(dr.doc_id) AS BIGINT) AS n_dropped
        FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.doc_id
        GROUP BY d.source
    """,
    doc="End-to-end dedup capstone: shingle → MinHash → LSH candidates → "
    "clusters → keep the component-min representative, reported as "
    "kept/dropped counts per source. The drop set (cluster members that "
    "are not their component's min) broadcasts back onto the corpus as "
    "a LEFT ANTI-style join — at 100 TB the only full-corpus pass is "
    "that final join, everything upstream works on signatures.",
    tags=("dedup", "clustering", "pipeline"),
)
def dedup_keep_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh(spark, sf_dir)
    cc = connected_components(pairs, "doc_a", "doc_b")
    dropped = cc.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    docs = load(spark, sf_dir, "documents")
    return (
        docs.join(F.broadcast(dropped.withColumn("__dropped", F.lit(1))), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("__dropped").isNull(), 1)).alias("n_kept"),
            F.count("__dropped").alias("n_dropped"),
        )
    )


GRAPH_CC_OFFSET = 1_000_000  # suppliers live at suppkey + OFFSET


@query(
    "graph_components_supply",
    oracle=f"""
        WITH RECURSIVE sedges AS (
            SELECT DISTINCT CAST(l_partkey AS BIGINT) AS p,
                            CAST(l_suppkey + {GRAPH_CC_OFFSET} AS BIGINT) AS s
            FROM lineitem
            WHERE l_partkey < 300 AND l_suppkey < 30 AND l_orderkey % 23 = 0
        ),
        edges AS (
            SELECT p AS a, s AS b FROM sedges
            UNION
            SELECT s, p FROM sedges
        ),
        reach AS (
            SELECT a AS n, a AS m FROM edges
            UNION
            SELECT r.n, e.b AS m FROM reach r JOIN edges e ON r.m = e.a
        ),
        labels AS (
            SELECT n, min(m) AS cluster_id FROM reach GROUP BY n
        )
        SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
               CAST(count(*) FILTER (n < {GRAPH_CC_OFFSET}) AS BIGINT) AS n_parts,
               CAST(count(*) FILTER (n >= {GRAPH_CC_OFFSET}) AS BIGINT) AS n_suppliers
        FROM labels
        GROUP BY cluster_id
    """,
    doc="Connected components as a GENERAL graph operator, applied to a "
    "second graph (the sparsified part–supplier supply network — "
    "bounded keys, 1-in-23 orders, so the graph fragments into real "
    "components instead of one giant one): the SAME "
    "connected_components() min-label engine the dedup family uses, "
    "proving it is substrate-agnostic library code, not a dedup "
    "special case. Per component: id (min node) + part/supplier "
    "counts via the node-id range encoding. Oracle: declarative "
    "recursive-CTE fixpoint, as for dedup_clusters.",
    tags=("graph", "clustering", "iterative"),
)
def graph_components_supply(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    edges = (
        li.filter(
            (F.col("l_partkey") < 300)
            & (F.col("l_suppkey") < 30)
            & (F.col("l_orderkey") % 23 == 0)
        )
        .select(
            F.col("l_partkey").cast("long").alias("p"),
            (F.col("l_suppkey") + GRAPH_CC_OFFSET).cast("long").alias("s"),
        )
        .distinct()
    )
    cc = connected_components(edges, "p", "s")
    return cc.groupBy(F.col("cluster_id").cast("long").alias("cluster_id")).agg(
        F.count(F.when(F.col("node") < GRAPH_CC_OFFSET, 1)).alias("n_parts"),
        F.count(F.when(F.col("node") >= GRAPH_CC_OFFSET, 1)).alias("n_suppliers"),
    )

"""Iterative graph analytics over relational edges.

The part<->supplier bipartite graph is implicit in ``lineitem``
(distinct (l_partkey, l_suppkey) supply edges — the same relation the
derived-partsupp TPC-H shapes use). PageRank here complements the
connected-components fixpoint in plans/clustering.py: CC demonstrates
iterate-until-converged, PageRank demonstrates a fixed number of
synchronous value-propagation rounds.

Determinism: ranks are BIGINT fixed-point (scale 1e12). Each round is
integer-only — contribution = rank div degree (exact), damping =
(sum * 17) div 20 (exact 0.85) — so the reduction is partition-order
independent and the DuckDB oracle reproduces every round bit-for-bit.
Each Lloyd-style round is one groupBy shuffle on the destination node;
degrees ride along in the rank relation, so no per-round re-join
against a degree table. At 100 TB the edge relation is the only big
input and it shuffles once per round on node id — the standard
Pregel-style dataflow, expressed as plain DataFrame ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import load, run_sql
from data_pipeline_with_hdfs_sql_integration_spark.operators.global_rank import _pin
from data_pipeline_with_hdfs_sql_integration_spark.registry import query

PR_ITERS = 3
PR_SCALE = 1_000_000_000_000  # 1e12 fixed-point rank units
PR_BASE = 150_000_000_000  # 0.15 * PR_SCALE
SUPP_OFFSET = 1_000_000  # supplier node ids live at offset + s
PR_TOPK = 20


def _sql_pagerank() -> tuple[str, str]:
    parts = [
        """edges AS (
            SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
        ), e2 AS (
            SELECT p AS src, s + 1000000 AS dst FROM edges
            UNION ALL
            SELECT s + 1000000 AS src, p AS dst FROM edges
        ), deg AS (
            SELECT src AS node, COUNT(*) AS d FROM e2 GROUP BY src
        ), r0 AS (
            SELECT node, d, CAST(1000000000000 AS BIGINT) AS rfp FROM deg
        )"""
    ]
    prev = "r0"
    for it in range(PR_ITERS):
        parts.append(
            f"""c{it} AS (
            SELECT e2.dst AS node, SUM(r.rfp // r.d) AS csum
            FROM e2 JOIN {prev} r ON e2.src = r.node
            GROUP BY e2.dst
        ), r{it + 1} AS (
            SELECT r.node, r.d,
                   CAST({PR_BASE} + (c.csum * 17) // 20 AS BIGINT) AS rfp
            FROM {prev} r JOIN c{it} c ON r.node = c.node
        )"""
        )
        prev = f"r{it + 1}"
    return ",\n        ".join(parts), prev


_PR_CTES, _PR_FINAL = _sql_pagerank()


@query(
    "graph_pagerank",
    oracle=f"""
        WITH {_PR_CTES}
        SELECT CASE WHEN node >= {SUPP_OFFSET} THEN 'supplier' ELSE 'part' END AS kind,
               CAST(node % {SUPP_OFFSET} AS BIGINT) AS id,
               round(CAST(rfp AS DOUBLE) / {PR_SCALE}, 6) AS rank
        FROM {_PR_FINAL}
        ORDER BY rfp DESC, node ASC
        LIMIT {PR_TOPK}
    """,
    doc=f"PageRank ({PR_ITERS} synchronous rounds, damping 0.85) over the "
    "bipartite part<->supplier supply graph from distinct lineitem "
    "edges. Integer fixed-point rank units make every round exact and "
    "partition-order independent; per round: one equi-join edges><ranks "
    "plus one groupBy(dst) shuffle — Pregel dataflow in DataFrame ops. "
    "Top-20 via TakeOrderedAndProject, no global sort.",
    tags=("graph",),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # The distinct edge relation drives every round AND both union
    # branches below — persist it (one dedup shuffle total); the
    # direction-doubling union stays a cheap map over the cache.
    edges = _pin(
        li.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")).distinct()
    )
    e2 = edges.select(F.col("p").alias("src"), (F.col("s") + SUPP_OFFSET).alias("dst")).unionAll(
        edges.select((F.col("s") + SUPP_OFFSET).alias("src"), F.col("p").alias("dst"))
    )
    ranks = (
        e2.groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .select(F.col("src").alias("node"), "d", F.lit(PR_SCALE).cast("long").alias("rfp"))
    )
    prev = None
    for _ in range(PR_ITERS):
        # Each round's ranks feed TWO consumers (the contribution join
        # and the update join), and the next round repeats that — an
        # unpersisted lineage re-executes O(2^iters) times. The persist
        # is a distributed barrier (never a driver collect: node count
        # scales with the data). count() materializes this generation
        # into the cache so generation i-1 can be RELEASED immediately
        # — a long Pregel chain holds O(1) cached generations, not
        # O(iters) (storage that a sweep-length session would otherwise
        # accrete; the cost is one count job per round over work the
        # round computes anyway).
        ranks = _pin(ranks)
        ranks.count()
        if prev is not None:
            prev.unpersist(blocking=False)
        prev = ranks
        contrib = (
            e2.join(ranks, e2.src == ranks.node)
            .select("dst", F.expr("rfp div d").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("csum"))
        )
        ranks = (
            ranks.join(contrib, ranks.node == contrib.dst)
            .select(
                "node",
                "d",
                (F.lit(PR_BASE) + F.expr("(csum * 17) div 20")).cast("long").alias("rfp"),
            )
        )
    out = (
        ranks.select(
            F.when(F.col("node") >= SUPP_OFFSET, F.lit("supplier")).otherwise(F.lit("part")).alias("kind"),
            (F.col("node") % SUPP_OFFSET).cast("long").alias("id"),
            F.round(F.col("rfp").cast("double") / PR_SCALE, 6).alias("rank"),
            "rfp",
            "node",
        )
        .orderBy(F.col("rfp").desc(), F.col("node").asc())
        .limit(PR_TOPK)
        .select("kind", "id", "rank")
    )
    return out


_RECURSIVE_ORG_SQL = """
WITH RECURSIVE org AS (
    SELECT s_suppkey AS id, 0 AS depth FROM {supplier} WHERE s_suppkey = 0
    UNION ALL
    SELECT s.s_suppkey AS id, o.depth + 1 AS depth
    FROM {supplier} s JOIN org o
      ON CAST(floor((s.s_suppkey - 1) / 2.0) AS BIGINT) = o.id
    WHERE s.s_suppkey >= 1
)
SELECT CAST(depth AS INT) AS depth,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM org JOIN {supplier} ON s_suppkey = id
GROUP BY depth
"""


@query(
    "recursive_hierarchy_rollup",
    oracle=_RECURSIVE_ORG_SQL.format(supplier="supplier"),
    doc="Recursive CTE (WITH RECURSIVE, new SQL surface in Spark 4): "
    "the same SQL template runs unmodified in Spark and DuckDB — "
    "dialect parity for recursion, like sql_interface_tpch_q1 for "
    "aggregation. The hierarchy is a derived binary-heap org chart "
    "over supplier (parent(k) = floor((k-1)/2), root 0 — arithmetic, "
    "acyclic, depth log2 N), traversed root-down with a per-depth "
    "count + exact-decimal acctbal rollup. Spark executes each "
    "recursion step as a join of the previous level against supplier "
    "— O(log N) bounded iterations, each a broadcast-able equi-join; "
    "the iterative-DataFrame equivalent of this shape is "
    "dedup_clusters' connected components, which handles the cyclic "
    "case a recursive UNION ALL cannot.",
    tags=("sql", "recursive", "graph"),
)
def recursive_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_sql(spark, sf_dir, _RECURSIVE_ORG_SQL)


# -------------------------------------------------------------- triangles
#: Each supplier keeps edges to its top-K co-suppliers by shared-part
#: count (ties by id) — k-NN sparsification, the standard step that
#: makes similarity graphs tractable: the raw co-supply graph is
#: near-complete at every scale, the k-NN graph has <= K*n edges at
#: any scale.
TRI_KNN = 3


_TRI_EDGE_SQL = f"""
        ps AS (
            SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
        ),
        w AS (
            SELECT a.s AS src, b.s AS dst, count(*) AS shared
            FROM ps a JOIN ps b ON a.p = b.p AND a.s <> b.s
            GROUP BY a.s, b.s
        ),
        topk AS (
            SELECT src, dst FROM (
                SELECT src, dst,
                       row_number() OVER (PARTITION BY src
                                          ORDER BY shared DESC, dst ASC) AS rk
                FROM w
            ) WHERE rk <= {TRI_KNN}
        ),
        e AS (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM topk
        )"""


@query(
    "graph_triangle_count",
    oracle=f"""
        WITH {_TRI_EDGE_SQL},
        tri AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM e e1
            JOIN e e2 ON e2.a = e1.b
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        )
        SELECT node AS suppkey, CAST(count(*) AS BIGINT) AS n_triangles
        FROM (
            SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri
        )
        GROUP BY node
    """,
    doc=f"Per-node triangle counts over the top-{TRI_KNN} co-supplier "
    "k-NN graph (edge weight = shared part count, ties by id — the "
    "sparsification every similarity-graph pipeline applies first, "
    "since the raw co-supply graph is near-complete). Counting uses "
    "DEGREE ORIENTATION (Cohen's MapReduce algorithm): each "
    "undirected edge is directed from its lower-(degree, id) endpoint "
    "to the higher, wedges are built only between a node's oriented "
    "out-neighbors, and a wedge closes iff its third edge exists in "
    "the oriented list — every triangle counted exactly once, and "
    "out-degree is O(sqrt(|E|)) for ANY degree distribution, so the "
    "wedge join never explodes on hub nodes (the orientation IS the "
    "skew defense; a hub of degree d contributes wedges from its "
    "low-degree neighbors, not d^2 of its own). The oracle counts the "
    "same triangles by plain id-ordered 3-way self-join — "
    "orientation-independence of the triangle set, value-checked. At "
    "100 TB: build edges once (two shuffles: weight groupBy, top-K "
    "window), then one self-join keyed on wedge center + one keyed on "
    "the closing edge.",
    tags=("graph", "join"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem")
    # The supply-pair relation feeds both sides of the weight join, and
    # the undirected edge list is referenced by deg + orientation +
    # wedge + closing joins — persist both or the expensive co-supply
    # aggregate re-runs once per reference (measured 50 s -> ~8 s at
    # sf0.1).
    ps = _pin(
        li.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")).distinct()
    )
    a = ps.alias("a")
    b = ps.alias("b")
    w = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") != F.col("b.s")))
        .groupBy(F.col("a.s").alias("src"), F.col("b.s").alias("dst"))
        .agg(F.count("*").alias("shared"))
    )
    rk = F.row_number().over(
        Window.partitionBy("src").orderBy(F.col("shared").desc(), F.col("dst").asc())
    )
    topk = w.select("src", "dst", rk.alias("rk")).filter(F.col("rk") <= TRI_KNN)
    und = _pin(
        topk.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )

    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # Orient each edge from the lower (deg, id) endpoint to the higher;
    # carry the head's order key for the wedge comparison. Struct
    # comparison, not packed integers — no overflow surface.
    da = deg.select(F.col("node").alias("a"), F.struct("deg", "node").alias("ord_a"))
    db = deg.select(F.col("node").alias("b"), F.struct("deg", "node").alias("ord_b"))
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(F.col("ord_a") < F.col("ord_b"), F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(F.col("ord_a") < F.col("ord_b"), F.col("b")).otherwise(F.col("a")).alias("dst"),
            F.when(F.col("ord_a") < F.col("ord_b"), F.col("ord_b"))
            .otherwise(F.col("ord_a"))
            .alias("ord_dst"),
        )
    )
    oriented = _pin(oriented)
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src")) & (F.col("e1.ord_dst") < F.col("e2.ord_dst")),
    ).select(
        F.col("e1.src").alias("u"), F.col("e1.dst").alias("v"), F.col("e2.dst").alias("w")
    )
    closing = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tri = wedges.join(closing, ["v", "w"])
    return (
        tri.select(F.explode(F.array("u", "v", "w")).alias("suppkey"))
        .groupBy("suppkey")
        .agg(F.count("*").alias("n_triangles"))
    )

"""Graph analytics over relational facts: PageRank and triangle counting.

The reference has no graph surface (SURVEY.md §2.C); these are the two
graph shapes a warehouse-resident pipeline actually runs — influence
ranking over an interaction graph and clustering-coefficient-style
triangle counts — expressed as plain DataFrame joins/aggregations so
they inherit Catalyst's distribution strategy (no graph framework
dependency).

Graph construction: the customer↔supplier interaction graph from
orders⋈lineitem (who traded with whom), and the supplier co-occurrence
graph (suppliers appearing in the same order).  Both derive from the
TPC-H-ish fact tables the driver ships.

Cross-engine exactness: PageRank is computed in integer MICRO-UNITS
(rank starts at 1_000_000 per node; contributions are integer-divided
by out-degree; damping is ``150_000 + 850_000 * sum // 1_000_000``).
Float PageRank sums are association-order-dependent across engines —
the integer form replays bit-identically in any engine and any
partitioning, which is what makes the query hash-checkable.  The
fixed-point semantics (truncation toward zero == floor for the
non-negative values here) is identical in Spark ``div`` and DuckDB
``//``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_http_full_cache_connector_spark.plans.registry import load_table
from training_data_ops.registry import register

#: PageRank fixed-point: rank in micro-units, 3 iterations, damping 0.85.
PR_MICRO = 1_000_000
PR_DAMP_MICRO = 850_000
PR_BASE_MICRO = PR_MICRO - PR_DAMP_MICRO  # 150_000
PR_ITERS = 3


def _edges_custsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed edge list of the customer↔supplier interaction graph.

    Node ids are disjoint bigints: customer c ↦ 2c, supplier s ↦ 2s+1.
    Every traded (customer, supplier) pair contributes both directions,
    so the graph is symmetric — every node has out-degree ≥ 1 (no
    dangling-mass correction needed) and in-degree ≥ 1 (the per-dst
    aggregation reaches every node).
    """
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("cust_node"),
            (F.col("l_suppkey") * 2 + 1).alias("supp_node"),
        )
        .distinct()
    )
    fwd = pairs.select(F.col("cust_node").alias("src"), F.col("supp_node").alias("dst"))
    rev = pairs.select(F.col("supp_node").alias("src"), F.col("cust_node").alias("dst"))
    return fwd.unionByName(rev)


_DUCK_EDGES = """
    pairs AS (
        SELECT DISTINCT o.o_custkey * 2 AS cust_node,
                        l.l_suppkey * 2 + 1 AS supp_node
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
        SELECT cust_node AS src, supp_node AS dst FROM pairs
        UNION ALL
        SELECT supp_node AS src, cust_node AS dst FROM pairs
    ),
    outdeg AS (SELECT src, count(*)::bigint AS deg FROM edges GROUP BY src)
"""


def _duck_pr_iter(i: int) -> str:
    """One unrolled micro-unit PageRank step as a DuckDB CTE."""
    prev = f"r{i - 1}" if i > 1 else "r0"
    return f"""
    r{i} AS (
        SELECT e.dst AS node,
               {PR_BASE_MICRO} + ({PR_DAMP_MICRO}
                   * sum(p.rank // d.deg)) // {PR_MICRO} AS rank
        FROM edges e
        JOIN {prev} p ON e.src = p.node
        JOIN outdeg d ON e.src = d.src
        GROUP BY e.dst
    )"""


@register(
    "pagerank_nodes",
    f"""
    WITH {_DUCK_EDGES},
    r0 AS (SELECT src AS node, {PR_MICRO}::bigint AS rank FROM outdeg),
    {",".join(_duck_pr_iter(i) for i in range(1, PR_ITERS + 1))}
    SELECT node, node % 2 = 0 AS is_customer, rank::bigint AS rank_micro
    FROM r{PR_ITERS}
    """,
    doc=f"PageRank ({PR_ITERS} power iterations, damping 0.85) over the "
    "customer-supplier interaction graph (symmetric edges from "
    "orders-lineitem, disjoint 2c/2s+1 node ids). Integer micro-unit "
    "fixed point: contributions are rank div outdeg, damping is "
    "base + damp*sum div 1e6 — bit-identical in any engine/partitioning "
    "where float PageRank would drift with summation order. Per "
    "iteration: one src-key join (edges against parts-sized rank "
    "relation) + one dst-key partial-agg shuffle — the standard "
    "distributed PageRank dataflow; edges and out-degrees are persisted "
    "once and reused by all iterations. "
    "Cited shape: reference has no graph surface (SURVEY.md 2.C).",
)
def pagerank_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _edges_custsupp(spark, sf_dir).persist()
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg")).persist()
    ranks = outdeg.select(
        F.col("src").alias("node"), F.lit(PR_MICRO).cast("long").alias("rank")
    )
    for _ in range(PR_ITERS):
        # attach deg to the NODES-sized rank relation first, so the
        # edge-sized side goes through ONE join per iteration instead of
        # two (r11: the old edges⋈ranks⋈outdeg shape ran a second
        # edge-sized join per iteration; rank⋈deg is cached-outdeg-sized
        # and broadcasts).  Same integer arithmetic, same results.
        rd = (
            ranks.join(outdeg, ranks.node == outdeg.src)
            .select("node", "rank", "deg")
        )
        contrib = edges.join(rd, edges.src == rd.node).select(
            "dst", F.expr("rank div deg").alias("contrib")
        )
        ranks = contrib.groupBy("dst").agg(
            (
                F.lit(PR_BASE_MICRO)
                + F.expr(f"{PR_DAMP_MICRO} * sum(contrib) div {PR_MICRO}")
            ).alias("rank")
        ).select(F.col("dst").alias("node"), "rank")
    return ranks.select(
        "node",
        (F.col("node") % 2 == 0).alias("is_customer"),
        F.col("rank").cast("long").alias("rank_micro"),
    )


#: graph_triangles edge gate: keep supplier pairs whose co-occurrence
#: count exceeds TRI_NUM/TRI_DEN x the average pair weight (6/5 = 1.2x).
#: Average-relative (exact integer cross-multiplication), because on this
#: data EVERY supplier pair co-occurs at least once — the unthresholded
#: graph is complete and its triangle count is the degenerate C(n,3).
#: Thresholding on the weight distribution's upper tail yields a sparse
#: "preferred-partner" graph whose triangles are structural, and the
#: relative threshold tracks the distribution at any SF.
TRI_NUM = 6
TRI_DEN = 5


@register(
    "graph_triangles",
    f"""
    WITH order_supp AS (
        SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
    ),
    weighted AS (
        SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(*)::bigint AS w
        FROM order_supp a JOIN order_supp b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        GROUP BY a.l_suppkey, b.l_suppkey
    ),
    wtotal AS (
        SELECT sum(w)::bigint AS total_w, count(*)::bigint AS n_pairs
        FROM weighted
    ),
    raw_edges AS (
        SELECT u, v FROM weighted, wtotal
        WHERE w * n_pairs * {TRI_DEN} > total_w * {TRI_NUM}
    ),
    deg AS (
        SELECT node, count(*)::bigint AS d FROM (
            SELECT u AS node FROM raw_edges
            UNION ALL SELECT v AS node FROM raw_edges
        ) GROUP BY node
    ),
    oriented AS (
        SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS lo,
               CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS hi
        FROM raw_edges e
        JOIN deg du ON e.u = du.node
        JOIN deg dv ON e.v = dv.node
    )
    SELECT (SELECT count(*) FROM deg)::bigint AS n_nodes,
           (SELECT count(*) FROM raw_edges)::bigint AS n_edges,
           (SELECT count(*)
            FROM oriented e1
            JOIN oriented e2 ON e1.lo = e2.lo AND e1.hi < e2.hi
            JOIN raw_edges c ON (c.u = LEAST(e1.hi, e2.hi)
                                 AND c.v = GREATEST(e1.hi, e2.hi))
           )::bigint AS n_triangles
    """,
    doc="Triangle count of the thresholded supplier co-occurrence graph "
    f"(pairs co-appearing in > {TRI_NUM}/{TRI_DEN}x the average number "
    "of shared orders — the unthresholded graph is complete here, see "
    "TRI_NUM). Edge generation is the per-order pair join — cost sum of "
    "k-squared over orders, bounded by lines-per-order, not corpus "
    "size — followed by a pair-key partial agg and a broadcast scalar "
    "gate. Counting uses degree orientation: each edge points "
    "low-(degree,id) to high, bounding every out-neighborhood by "
    "O(sqrt(E)), so the wedge join (out-neighbor pairs per apex, closed "
    "by an edge lookup) is the subquadratic E^1.5 algorithm instead of "
    "the naive three-way join. All-integer — hash-exact cross-engine.",
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    order_supp = li.select("l_orderkey", "l_suppkey").distinct()
    a = order_supp.alias("a")
    b = order_supp.alias("b")
    weighted = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("w"))
        .persist()
    )
    wtotal = weighted.agg(
        F.sum("w").alias("total_w"), F.count("*").alias("n_pairs")
    )
    raw_edges = (
        weighted.join(F.broadcast(wtotal))
        .where(F.col("w") * F.col("n_pairs") * TRI_DEN > F.col("total_w") * TRI_NUM)
        .select("u", "v")
        .persist()
    )
    deg = (
        raw_edges.select(F.col("u").alias("node"))
        .unionByName(raw_edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        raw_edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
        )
        .persist()
    )
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.lo") == F.col("e2.lo")) & (F.col("e1.hi") < F.col("e2.hi")),
    ).select(
        F.least(F.col("e1.hi"), F.col("e2.hi")).alias("u"),
        F.greatest(F.col("e1.hi"), F.col("e2.hi")).alias("v"),
    )
    tri = wedges.join(raw_edges, ["u", "v"]).agg(
        F.count("*").alias("n_triangles")
    )
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    n_edges = raw_edges.agg(F.count("*").alias("n_edges"))
    return (
        n_nodes.join(F.broadcast(n_edges))
        .join(F.broadcast(tri))
        .select("n_nodes", "n_edges", "n_triangles")
    )

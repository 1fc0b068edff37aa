"""Graph-analytics queries: iterative PageRank and triangle counting
(SURVEY.md §2 [EXT] — iterative algorithms, the operator shape plain
one-pass SQL doesn't cover; the oracle unrolls the recurrence instead).

The graphs are derived from the TPC-H fixtures so they're organic, not
planted: the nation trade graph (customer nation → supplier nation,
weighted by lineitem count, Q7's join shape) and the part co-purchase
adjacency graph (parts on consecutive lineitems of the same order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import graph as G
from .core import _t
from .registry import register

_TRADE_EDGES_CTE = """
        edges AS (
            SELECT cn.n_name AS src, sn.n_name AS dst,
                   CAST(count(*) AS DOUBLE) AS weight
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation cn ON c.c_nationkey = cn.n_nationkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation sn ON s.s_nationkey = sn.n_nationkey
            GROUP BY cn.n_name, sn.n_name
        )"""


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        # nation is a fixed-size 25-row dim — a legitimate forced broadcast
        .join(
            F.broadcast(nation.select(
                F.col("n_nationkey").alias("cn_key"),
                F.col("n_name").alias("src"),
            )),
            F.col("c_nationkey") == F.col("cn_key"),
        )
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(
            F.broadcast(nation.select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("dst"),
            )),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("weight"))
    )


@register(
    "pagerank_nation_trade",
    oracle=G.pagerank_oracle_sql(_TRADE_EDGES_CTE, damping=0.85, iters=10),
    doc="Iterative weighted PageRank (10 rounds, d=0.85) over the "
        "nation trade graph — customer nation → supplier nation edges "
        "weighted by lineitem count (Q7's join shape builds the edge "
        "list). Each Spark round is one O(V) shuffle of rank rows "
        "against edge partials cached+partitioned by src ONCE; eager "
        "localCheckpoints truncate the lineage so round 10's plan "
        "equals round 1's (the classic iterative-Spark failure mode, "
        "avoided). The oracle unrolls the identical recurrence as 10 "
        "chained SQL CTEs — no recursive-CTE aggregation restrictions, "
        "bit-for-bit the same fixpoint trajectory to 6dp (§2 [EXT] "
        "iterative).",
    tags=("graph", "iterative"),
)
def pagerank_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _trade_edges(spark, sf_dir)
    ranks = G.pagerank(edges, damping=0.85, iters=10)
    return ranks.select(
        "node", F.round(F.col("rank") * 1000, 6).alias("rank_k")
    )


@register(
    "triangle_count_copurchase",
    oracle="""
        WITH und AS (
            SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                            greatest(a.l_partkey, b.l_partkey) AS v
            FROM lineitem a
            JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                           AND b.l_linenumber = a.l_linenumber + 1
            WHERE a.l_partkey != b.l_partkey
        ), deg AS (
            SELECT node, count(*) AS deg FROM (
                SELECT u AS node FROM und UNION ALL SELECT v FROM und
            ) GROUP BY node
        ), oriented AS (
            SELECT CASE WHEN du.deg < dv.deg
                             OR (du.deg = dv.deg AND und.u < und.v)
                        THEN und.u ELSE und.v END AS s,
                   CASE WHEN du.deg < dv.deg
                             OR (du.deg = dv.deg AND und.u < und.v)
                        THEN und.v ELSE und.u END AS t
            FROM und
            JOIN deg du ON du.node = und.u
            JOIN deg dv ON dv.node = und.v
        )
        SELECT (SELECT count(*) FROM oriented) AS n_edges,
               (SELECT count(*)
                FROM oriented e1
                JOIN oriented e2 ON e2.s = e1.t
                JOIN oriented e3 ON e3.s = e1.s AND e3.t = e2.t
               ) AS n_triangles
    """,
    doc="Distributed triangle counting over the part co-purchase "
        "adjacency graph (parts on consecutive lineitems of one "
        "order). Edges are degree-ordered (lower-degree endpoint "
        "first, ties by id) so each triangle is enumerated exactly "
        "once AND hot-vertex join fan-out is bounded by oriented "
        "out-degree ≤ √(2E) — the standard skew guard that keeps the "
        "wedge intermediate from exploding at 100 TB. ~294k edges / "
        "4.7k triangles at sf0.1 (§2 [EXT] graph).",
    tags=("graph",),
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir)
    return G.triangle_count(edges)


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part co-purchase pairs: parts on consecutive lineitems of the
    same order (the organic graph both triangle counting and
    connected components run on)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber"
    )
    a = li.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_partkey").alias("a"),
        F.col("l_linenumber").alias("ln"),
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_partkey").alias("b"),
        (F.col("l_linenumber") - 1).alias("ln"),
    )
    return a.join(b, ["ok", "ln"]).filter(F.col("a") != F.col("b")).select("a", "b")


_COPURCHASE_UND_CTE = """
        und AS (
            SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                            greatest(a.l_partkey, b.l_partkey) AS v
            FROM lineitem a
            JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                           AND b.l_linenumber = a.l_linenumber + 1
            WHERE a.l_partkey != b.l_partkey
        )"""


@register(
    "connected_components_copurchase",
    oracle=G.connected_components_oracle_sql(_COPURCHASE_UND_CTE, iters=6)
    + """
        SELECT label AS component, count(*) AS n_nodes
        FROM l6 GROUP BY label
    """,
    doc="Connected components by min-label propagation (6 fixed "
        "rounds — measured convergence is 5 at BOTH test SFs, so 6 "
        "carries one round of margin; the r4 slot ran 8 and the extra "
        "two rounds were pure headline cost. The sibling "
        "connected_components_converged query asserts the data-driven "
        "round count every run, so diameter drift is caught there, "
        "loudly, not by this fixed-round slot silently un-converging) "
        "over the part co-purchase graph: component sizes "
        "keyed by each component's minimum part id. The doubled "
        "adjacency (+ self-loops) is built and hash-partitioned on "
        "dst ONCE (cached); each round shuffles only O(V) label rows "
        "and re-aggregates min per node — edges never reshuffle, and "
        "eager localCheckpoints keep round 8's plan as small as round "
        "1's. Fixed iteration count makes the label function "
        "deterministic whether or not propagation has converged, so "
        "the unrolled-CTE oracle states the identical recurrence "
        "(§2 [EXT] iterative; same device as pagerank_nation_trade). "
        "This is also exactly the scale-safe clustering path the "
        "near-dup dedup family uses (operators/dedup.py "
        "min-propagation), surfaced as a first-class graph query.",
    tags=("graph", "iterative"),
)
def connected_components_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir)
    labels = G.connected_components(edges, iters=6)
    return labels.groupBy(F.col("label").alias("component")).agg(
        F.count("*").alias("n_nodes")
    )


@register(
    "connected_components_converged",
    oracle=G.connected_components_oracle_sql(_COPURCHASE_UND_CTE, iters=12)
    + """
        SELECT label AS component, count(*) AS n_nodes
        FROM l12 GROUP BY label
    """,
    doc="Connected components run to FIXPOINT — min-label propagation "
        "with per-round convergence detection (an Observation counting "
        "label changes rides each round's checkpoint materialization: "
        "zero extra jobs), stopping when no label moves. This is the "
        "DATA-DRIVEN-iteration shape the fixed-round variant "
        "deliberately avoids, i.e. real production semantics where the "
        "graph diameter isn't known in advance. At convergence labels "
        "are a pure function of the graph (per-component minima), so "
        "any unrolled recurrence with >= diameter rounds states the "
        "oracle — 12 rounds here vs measured convergence in 5 at both "
        "test SFs, and the query raises if rounds_used ever reaches "
        "the oracle's unroll depth instead of silently hash-"
        "mismatching (§2 [EXT] iterative).",
    tags=("graph", "iterative"),
)
def connected_components_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir)
    labels, rounds = G.connected_components_converged(edges, max_iters=50)
    if rounds >= 12:
        raise AssertionError(
            f"convergence took {rounds} rounds — the 12-round unrolled "
            "oracle no longer has margin; regenerate it with more rounds"
        )
    return labels.groupBy(F.col("label").alias("component")).agg(
        F.count("*").alias("n_nodes")
    )


@register(
    "connected_components_star",
    oracle=G.connected_components_oracle_sql(_COPURCHASE_UND_CTE, iters=12)
    + """
        SELECT label AS component, count(*) AS n_nodes
        FROM l12 GROUP BY label
    """,
    doc="Connected components by alternating large-star/small-star "
        "contraction (Kiveris et al., SoCC 2014) — the adversarial-"
        "diameter variant: each round rewires every node toward its "
        "neighborhood minimum, so distances-to-min HALVE per round and "
        "convergence is O(log d) rounds instead of min-propagation's "
        "O(d). On the short-diameter co-purchase graph both variants "
        "cost similar wall-clock; on a planted diameter-2000 path "
        "graph star converges in 12 rounds where min-propagation "
        "needs 2000 (git show a3c7b0a:tools/scale_check_r5.py). At "
        "the fixpoint labels are the per-component minima — a pure "
        "function of the graph — so the SAME unrolled min-propagation "
        "oracle as connected_components_converged states the result "
        "(12 rounds ≥ measured diameter 5 at both SFs, and that "
        "sibling query raises if convergence ever nears the unroll "
        "depth). Non-convergence cannot return a partial contraction: "
        "the operator itself raises when the round budget exhausts "
        "without a verified fixpoint, so labels here are fixpoint "
        "labels by contract (§2 [EXT] iterative).",
    tags=("graph", "iterative"),
)
def connected_components_star_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir)
    labels, _rounds = G.connected_components_star(edges, max_iters=30)
    return labels.groupBy(F.col("label").alias("component")).agg(
        F.count("*").alias("n_nodes")
    )


@register(
    "kcore_copurchase",
    oracle=G.kcore_oracle_sql(_COPURCHASE_UND_CTE, k=20, iters=26)
    + """
        SELECT count(*) AS n_core_nodes,
               CAST(coalesce(sum(deg), 0) AS BIGINT) // 2 AS n_core_edges
        FROM (
            SELECT node, count(*) AS deg FROM (
                SELECT e.u AS node FROM und e
                JOIN n26 a ON a.node = e.u JOIN n26 b ON b.node = e.v
                UNION ALL
                SELECT e.v FROM und e
                JOIN n26 a ON a.node = e.u JOIN n26 b ON b.node = e.v
            ) GROUP BY node
        )
    """,
    doc="20-core of the co-purchase graph by iterative peeling (drop "
        "degree<20 nodes until fixpoint): node and induced-edge counts "
        "of the unique maximal subgraph with all degrees >= 20. Third "
        "iterative-control shape after fixed-rounds and "
        "changed-labels convergence: here the fixpoint test is FREE "
        "because the survivor set shrinks monotonically — count "
        "equality is set equality, and the count rides each round's "
        "checkpoint via an Observation (zero extra jobs). Measured "
        "convergence: 15 rounds at sf0.01, 21 at sf0.1; the oracle "
        "unrolls 26 MATERIALIZED rounds (materialization is "
        "load-bearing: each round is referenced twice, default CTE "
        "inlining would be exponential) and the query raises if the "
        "peel ever needs >= 26 rounds instead of silently mismatching "
        "(§2 [EXT] iterative).",
    tags=("graph", "iterative"),
)
def kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir)
    core, rounds = G.kcore(edges, k=20, max_iters=50)
    if rounds >= 26:
        raise AssertionError(
            f"k-core peel took {rounds} rounds — the 26-round unrolled "
            "oracle no longer has margin; regenerate it with more rounds"
        )
    und = (
        edges.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    surv = (
        und.join(core.select(F.col("node").alias("u")), "u", "left_semi")
        .join(core.select(F.col("node").alias("v")), "v", "left_semi")
    )
    return core.agg(F.count("*").alias("n_core_nodes")).crossJoin(
        surv.agg(F.count("*").cast("bigint").alias("n_core_edges"))
    )


@register(
    "label_propagation_communities",
    oracle="""
        WITH RECURSIVE """ + _COPURCHASE_UND_CTE.lstrip() + """,
        adj AS MATERIALIZED (
            SELECT u AS node, v AS nbr FROM und
            UNION ALL
            SELECT v AS node, u AS nbr FROM und
        ),
        r0 AS MATERIALIZED (
            SELECT DISTINCT node, node AS label FROM adj
        ),
        r1 AS MATERIALIZED (
            SELECT node, label FROM (
                SELECT a.node, l.label, count(*) AS c,
                       row_number() OVER (PARTITION BY a.node
                                          ORDER BY count(*) DESC, l.label) AS rn
                FROM adj a JOIN r0 l ON a.nbr = l.node
                GROUP BY a.node, l.label
            ) WHERE rn = 1
        ),
        r2 AS MATERIALIZED (
            SELECT node, label FROM (
                SELECT a.node, l.label, count(*) AS c,
                       row_number() OVER (PARTITION BY a.node
                                          ORDER BY count(*) DESC, l.label) AS rn
                FROM adj a JOIN r1 l ON a.nbr = l.node
                GROUP BY a.node, l.label
            ) WHERE rn = 1
        ),
        r3 AS MATERIALIZED (
            SELECT node, label FROM (
                SELECT a.node, l.label, count(*) AS c,
                       row_number() OVER (PARTITION BY a.node
                                          ORDER BY count(*) DESC, l.label) AS rn
                FROM adj a JOIN r2 l ON a.nbr = l.node
                GROUP BY a.node, l.label
            ) WHERE rn = 1
        )
        SELECT label AS community, CAST(count(*) AS BIGINT) AS n_nodes
        FROM r3 GROUP BY label
    """,
    doc="Synchronous label propagation (3 rounds) — community "
        "detection, the mode-of-neighbors dual of connected "
        "components' min-of-neighbors: each round every node adopts "
        "its neighbors' most frequent label (tie -> smallest label, "
        "which makes synchronous LPA fully deterministic). Communities "
        "differ from components: LPA splits a connected graph along "
        "density boundaries. Per round: one (node, label)-keyed "
        "partial-agg shuffle + a per-node WindowGroupLimit-style "
        "rank-1 pick — O(E) per round like CC, never materializing "
        "neighbor label multisets. The symmetrized adjacency is "
        "localCheckpointed ONCE (the und self-join would otherwise "
        "re-execute every round — same lesson as "
        "connected_components). Oracle = 3 unrolled MATERIALIZED CTE "
        "rounds (materialization load-bearing vs exponential "
        "re-inlining, same as kcore). Cf. Raghavan et al. "
        "near-linear-time LPA; SURVEY.md 2.12 graph.",
    tags=("graph", "iterative", "communities"),
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    edges = _copurchase_edges(spark, sf_dir)
    und = (
        edges.select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        ).distinct()
    )
    adj = und.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionByName(
        und.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    ).localCheckpoint(eager=True)
    labels = adj.select("node").distinct().withColumn("label", F.col("node"))
    w = Window.partitionBy("node").orderBy(F.col("c").desc(), F.col("label"))
    for _ in range(3):
        labels = (
            adj.join(labels.withColumnRenamed("node", "nbr"), "nbr")
            .groupBy("node", "label")
            .agg(F.count("*").alias("c"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count("*").alias("n_nodes")
    )

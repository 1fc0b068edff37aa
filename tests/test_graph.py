"""Iterative PageRank + triangle counting (SURVEY §2 [EXT] graph), and
star contraction's canonical-input hint."""

from __future__ import annotations

import pytest

from open_crime_etl_pipeline_spark.operators import graph as G


def test_pagerank_matches_numpy_matrix_power(spark):
    import numpy as np

    edges = [
        ("a", "b", 1.0), ("a", "c", 3.0), ("b", "c", 1.0),
        ("c", "a", 1.0), ("d", "a", 2.0), ("b", "d", 1.0),
    ]
    df = spark.createDataFrame(edges, ["src", "dst", "weight"])
    got = {r["node"]: r["rank"] for r in G.pagerank(df, 0.85, iters=10).collect()}

    nodes = sorted({e[0] for e in edges} | {e[1] for e in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    P = np.zeros((n, n))
    outw = {}
    for s, d, w in edges:
        outw[s] = outw.get(s, 0.0) + w
    for s, d, w in edges:
        P[idx[d], idx[s]] += w / outw[s]
    r = np.full(n, 1.0 / n)
    for _ in range(10):
        r = (1 - 0.85) / n + 0.85 * (P @ r)
    for name, i in idx.items():
        assert got[name] == pytest.approx(r[i], abs=1e-12)


def test_pagerank_oracle_sql_matches_operator(spark):
    import duckdb

    edges = [("a", "b", 1.0), ("b", "c", 2.0), ("c", "a", 1.0), ("a", "c", 1.0)]
    df = spark.createDataFrame(edges, ["src", "dst", "weight"])
    got = {
        r["node"]: round(r["rank"] * 1000, 6)
        for r in G.pagerank(df, 0.85, iters=10).collect()
    }
    cte = """
        edges AS (
            SELECT * FROM (VALUES
                ('a', 'b', 1.0), ('b', 'c', 2.0),
                ('c', 'a', 1.0), ('a', 'c', 1.0)
            ) AS t(src, dst, weight)
        )"""
    sql = G.pagerank_oracle_sql(cte, 0.85, iters=10)
    ref = {n: v for n, v in duckdb.connect().execute(sql).fetchall()}
    assert set(got) == set(ref)
    for k in got:
        assert got[k] == pytest.approx(ref[k], abs=1e-6)


def test_triangle_count_hand_built(spark):
    # K4 on 1-4 (4 triangles) + pendant edge + duplicate/reversed/self edges
    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),   # K4
        (4, 5),                                            # pendant
        (2, 1), (3, 1),                                    # reversed dups
        (5, 5),                                            # self loop
        (1, 2),                                            # exact dup
    ]
    df = spark.createDataFrame(edges, ["a", "b"])
    row = G.triangle_count(df).collect()[0]
    assert row["n_edges"] == 7
    assert row["n_triangles"] == 4


def test_triangle_count_empty_and_triangle_free(spark):
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["a", "b"])  # path
    row = G.triangle_count(df).collect()[0]
    assert (row["n_edges"], row["n_triangles"]) == (3, 0)


def test_connected_components_hand_built(spark):
    # two components {1,2,3} and {10,11}, plus an isolated self-ish node
    # introduced only via a duplicate/reversed edge — labels must be the
    # per-component minimum id
    edges = [
        (1, 2), (2, 3), (3, 1),        # triangle component
        (10, 11), (11, 10), (10, 10),  # duplicate/reversed/self edges
    ]
    df = spark.createDataFrame(edges, ["a", "b"])
    got = {r["node"]: r["label"] for r in G.connected_components(df, iters=8).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_oracle_sql_matches_operator(spark):
    import duckdb

    # a 6-node path (needs 5 propagation hops) plus a pair
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (20, 21)]
    df = spark.createDataFrame(edges, ["a", "b"])
    got = {r["node"]: r["label"] for r in G.connected_components(df, iters=8).collect()}
    cte = """
        und AS (
            SELECT * FROM (VALUES
                (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (20, 21)
            ) AS t(u, v)
        )"""
    sql = G.connected_components_oracle_sql(cte, iters=8) + \
        " SELECT node, label FROM l8"
    ref = dict(duckdb.connect().execute(sql).fetchall())
    assert got == ref
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 20: 20, 21: 20}


def test_connected_components_fixed_iters_before_convergence(spark):
    # 8 fixed rounds on a 12-node path: nodes further than 8 hops from
    # node 1 must carry the min id within their 8-hop ball — the
    # deterministic not-yet-converged semantics the oracle pins
    edges = [(i, i + 1) for i in range(1, 12)]
    df = spark.createDataFrame(edges, ["a", "b"])
    got = {r["node"]: r["label"] for r in G.connected_components(df, iters=8).collect()}
    for node in range(1, 13):
        assert got[node] == max(1, node - 8)


def test_graph_operators_leave_no_cached_blocks(spark):
    """ADVICE r3: pagerank/triangle_count/connected_components must
    unpersist their internal caches — repeated invocations (a 170-query
    correctness run, bench loops) must not accumulate cached blocks and
    push other queries' hot data out via LRU."""
    # cache() entries live in the shared CacheManager, which holds
    # strong references until unpersist() — the leak class flagged.
    # (localCheckpoint blocks are different: ContextCleaner reclaims
    # them once the result RDD is garbage collected.)
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    # shared test session: other tests may legitimately hold caches —
    # start from a clean slate so emptiness-after is attributable
    spark.catalog.clearCache()
    assert cache_mgr.isEmpty()
    edges_w = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 2.0), ("c", "a", 1.0)],
        ["src", "dst", "weight"],
    )
    G.pagerank(edges_w, iters=4).collect()
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], ["a", "b"])
    G.triangle_count(pairs).collect()
    G.connected_components(pairs, iters=4).collect()
    assert cache_mgr.isEmpty(), "graph operator left cached DataFrames behind"


def test_connected_components_converged_equals_fixed_iters(spark):
    """Run-to-fixpoint labels must equal the fixed-round labels once
    rounds >= diameter, and rounds_used must be the true convergence
    round count (+1 detection round)."""
    # 6-node path: diameter 5 → converges when no label changes
    edges = [(i, i + 1) for i in range(1, 6)] + [(20, 21)]
    df = spark.createDataFrame(edges, ["a", "b"])
    labels, rounds = G.connected_components_converged(df, max_iters=50)
    got = {r["node"]: r["label"] for r in labels.collect()}
    fixed = {
        r["node"]: r["label"]
        for r in G.connected_components(df, iters=10).collect()
    }
    assert got == fixed
    assert got[6] == 1 and got[21] == 20
    # path needs 5 propagation rounds; detection costs one no-change round
    assert rounds == 6


def test_kcore_hand_built(spark):
    """K5 + a pendant chain: 3-core = exactly the K5; 5-core empty."""
    from itertools import combinations

    k5 = list(combinations(range(1, 6), 2))
    chain = [(5, 10), (10, 11), (11, 12)]
    df = spark.createDataFrame(k5 + chain, ["a", "b"])
    core, rounds = G.kcore(df, k=3, max_iters=20)
    assert sorted(r["node"] for r in core.collect()) == [1, 2, 3, 4, 5]
    assert rounds >= 2  # chain peels over multiple rounds, then fixpoint
    empty, _ = G.kcore(df, k=5, max_iters=20)
    assert empty.count() == 0


def test_kcore_oracle_sql_matches_operator(spark):
    import duckdb

    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (2, 4), (1, 4)]
    df = spark.createDataFrame(edges, ["a", "b"])
    core, _ = G.kcore(df, k=2, max_iters=20)
    got = sorted(r["node"] for r in core.collect())
    cte = """
        und AS (
            SELECT * FROM (VALUES
                (1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (2, 4), (1, 4)
            ) AS t(u, v)
        )"""
    sql = G.kcore_oracle_sql(cte, k=2, iters=10) + " SELECT node FROM n10 ORDER BY node"
    ref = [r[0] for r in duckdb.connect().execute(sql).fetchall()]
    assert got == ref == [1, 2, 3, 4]


def test_star_cc_equals_minprop_on_random_graph(spark):
    """Large-star/small-star labels must equal the min-propagation
    fixpoint exactly (both are the per-component minima)."""
    import random

    rng = random.Random(11)
    edges = [(rng.randrange(120), rng.randrange(120)) for _ in range(90)]
    df = spark.createDataFrame(edges, ["a", "b"])
    star, _ = G.connected_components_star(df)
    conv, _ = G.connected_components_converged(df, max_iters=50)
    assert {(r.node, r.label) for r in star.collect()} == {
        (r.node, r.label) for r in conv.collect()
    }


def test_star_cc_logarithmic_rounds_on_path(spark):
    """A diameter-63 path costs min-propagation 63 rounds; star
    contraction must converge in O(log d) — the property the variant
    exists for (graph.py's 100-TB adversarial-diameter answer)."""
    from pyspark.sql import functions as F

    path = spark.range(63).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    labels, rounds = G.connected_components_star(path)
    rows = labels.collect()
    assert len(rows) == 64
    assert all(r.label == 0 for r in rows)
    assert rounds <= 10  # log2(63) ≈ 6; measured 7 incl. detection


def test_star_cc_raises_on_budget_exhaustion(spark):
    """A budget too small for the graph's depth must RAISE, never
    return a partial contraction — and convergence exactly ON the
    final round must still succeed (the two cases a bare
    rounds == max_iters readout cannot distinguish)."""
    import pytest
    from pyspark.sql import functions as F

    path = spark.range(63).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    with pytest.raises(RuntimeError, match="fixpoint"):
        G.connected_components_star(path, max_iters=2)
    # same graph, budget == exact rounds needed: find the true round
    # count, then re-run with max_iters pinned to it — must succeed
    _, rounds = G.connected_components_star(path, max_iters=30)
    labels, used = G.connected_components_star(path, max_iters=rounds)
    assert used == rounds
    assert all(r.label == 0 for r in labels.collect())


def test_star_cc_handles_duplicates_selfloops_orientation(spark):
    """Same input-normalization contract as the other CC variants:
    duplicates, both orientations, and self-loops are cleaned."""
    df = spark.createDataFrame(
        [(2, 3), (3, 2), (3, 3), (2, 3), (4, 3), (9, 5)], ["a", "b"]
    )
    labels, _ = G.connected_components_star(df)
    assert sorted((r.node, r.label) for r in labels.collect()) == [
        (2, 2), (3, 2), (4, 2), (5, 5), (9, 5)
    ]


class TestTriangleOrientedPin:
    def test_counts_unchanged(self, spark):
        """oriented is pinned (localCheckpoint), no longer cached: the
        count must match the direct closed form on a known graph."""
        from open_crime_etl_pipeline_spark.operators.graph import triangle_count

        # K4 (4 triangles... actually C(4,3)=4) plus a pendant edge
        edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
        df = spark.createDataFrame(edges, "a long, b long")
        spark.catalog.clearCache()  # shared session: isolate the check
        row = triangle_count(df).collect()[0]
        assert row.n_edges == 7
        assert row.n_triangles == 4
        jsc = spark._jsparkSession.sharedState().cacheManager()
        assert jsc.isEmpty()


class TestStarAssumeCanonical:
    def test_canonical_hint_matches_default(self, spark):
        """Wave 5: on an already-canonical (a < b, deduplicated,
        self-loop-free, materialized) edge set, assume_canonical=True
        must return the identical fixpoint labels and round count as
        the default canonicalizing path."""
        from open_crime_etl_pipeline_spark.checkpointing import pin
        from open_crime_etl_pipeline_spark.operators.graph import (
            connected_components_star,
        )

        rows = [(1, 2), (2, 3), (5, 6), (8, 9), (3, 9)]
        edges = pin(spark.createDataFrame(rows, "a long, b long"))
        ref_labels, ref_rounds = connected_components_star(edges)
        got_labels, got_rounds = connected_components_star(
            edges, assume_canonical=True
        )
        ref = sorted(map(tuple, ref_labels.collect()))
        got = sorted(map(tuple, got_labels.collect()))
        assert got == ref and got_rounds == ref_rounds

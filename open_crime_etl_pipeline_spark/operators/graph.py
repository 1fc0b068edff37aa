"""Iterative graph analytics on DataFrames (SURVEY.md §2 [EXT]:
iterative algorithms — the one operator shape plain SQL doesn't cover).

PageRank is the canonical iterative join+agg: each round shuffles rank
mass along edges and re-aggregates per destination. The Spark-first
shape is

    ranks ⟵ ranks ⋈ edges (on src) → groupBy(dst).sum → damp

with :func:`..checkpointing.pin` (localCheckpoint by default; opt-in
reliable ``checkpoint()`` via the ``spark.openCrimeEtl.
reliableCheckpointDir`` conf, which survives executor loss on a real
cluster) every few rounds to truncate the lineage (otherwise the plan doubles per iteration and the optimizer
chokes long before the data does — the classic iterative-Spark
failure). Edges are hash-partitioned on ``src`` once and reused every
round, so each iteration is ONE shuffle of rank rows (O(V)), never of
the edge table.

Triangle counting uses the standard orientation trick: order each
undirected edge from its lower-degree endpoint to the higher (ties by
id), so every triangle is counted exactly once and the join fan-out of
hot vertices is bounded by their *oriented* out-degree (≤ √(2E) for
any graph) instead of their raw degree — this is what keeps
celebrity-vertex skew from exploding the intermediate at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..checkpointing import pin


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Weighted PageRank over ``edges(src, dst, weight)``.

    Out-weights are normalized per src (transition probability =
    weight / Σ out-weight). Vertices = union of endpoints; ranks start
    uniform at 1/V. No dangling-mass redistribution (dangling rank
    decays into the teleport term) — the oracle states the identical
    recurrence, so both engines compute the same fixpoint trajectory.

    Scale shape: ``probs`` (edges with normalized weight) is computed
    once and cached; each iteration shuffles only O(V) rank rows.
    Lineage is truncated with eager localCheckpoints so the 10th
    iteration's plan is as small as the 1st's. The returned ranks are
    eagerly materialized so the iteration caches can be unpersisted
    before returning (no cached blocks leak into the caller's
    session); ``_pagerank_lazy`` exposes the pre-materialization plan
    for receipts/tests.
    """
    ranks, caches = _pagerank_lazy(edges, damping, iters, checkpoint_every)
    ranks = ranks.transform(pin)
    for c in caches:
        c.unpersist()
    return ranks


def _pagerank_lazy(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    checkpoint_every: int = 3,
):
    """Plan-building core of :func:`pagerank`: returns (ranks, caches)
    WITHOUT the final materialization/cleanup — the caller owns the
    cached DataFrames. Used by plan receipts and plan-shape tests that
    need to inspect the iteration plan itself."""
    verts = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .cache()  # joined every round — uncached it re-scans edges 10×
    )
    out_w = edges.groupBy("src").agg(F.sum("weight").alias("out_weight"))
    probs = (
        edges.join(out_w, "src")
        .select("src", "dst", (F.col("weight") / F.col("out_weight")).alias("p"))
        .repartition("src")
        .cache()
    )
    n_verts = verts.count()  # also materializes the vertex cache
    teleport = (1.0 - damping) / n_verts

    ranks = verts.select("node", F.lit(1.0 / n_verts).alias("rank"))
    for i in range(iters):
        contribs = (
            ranks.join(probs, ranks["node"] == probs["src"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("p")).alias("mass"))
        )
        ranks = (
            verts.join(contribs, verts["node"] == contribs["dst"], "left")
            .select(
                "node",
                (F.lit(teleport)
                 + F.lit(damping) * F.coalesce(F.col("mass"), F.lit(0.0))
                 ).alias("rank"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            ranks = ranks.transform(pin)
    return ranks, [verts, probs]


def pagerank_oracle_sql(edges_cte: str, damping: float = 0.85, iters: int = 10) -> str:
    """Unrolled-SQL PageRank oracle: the same recurrence as
    :func:`pagerank`, written as ``iters`` chained (non-recursive)
    CTEs so DuckDB — which disallows aggregation in recursive CTE
    terms — can state it exactly. ``edges_cte`` must define
    ``edges(src, dst, weight)``."""
    d = damping
    parts = [edges_cte.rstrip().rstrip(","), """,
        verts AS (
            SELECT src AS node FROM edges
            UNION
            SELECT dst FROM edges
        ), nv AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),
        probs AS (
            SELECT e.src, e.dst,
                   e.weight / sum(e.weight) OVER (PARTITION BY e.src) AS p
            FROM edges e
        ),
        r0 AS (SELECT node, 1.0 / (SELECT n FROM nv) AS rank FROM verts)"""]
    for i in range(iters):
        parts.append(f""",
        r{i + 1} AS (
            SELECT v.node,
                   (1.0 - {d}) / (SELECT n FROM nv)
                   + {d} * coalesce(m.mass, 0.0) AS rank
            FROM verts v LEFT JOIN (
                SELECT p.dst AS node, sum(r.rank * p.p) AS mass
                FROM r{i} r JOIN probs p ON p.src = r.node
                GROUP BY p.dst
            ) m ON m.node = v.node
        )""")
    parts.append(f"""
        SELECT node, round(rank * 1000, 6) AS rank_k FROM r{iters}""")
    return "WITH " + "".join(parts)


def connected_components(
    edges: DataFrame, iters: int = 8, checkpoint_every: int = 4
) -> DataFrame:
    """Connected-components labels by min-label propagation over an
    undirected graph given as (a, b) pairs: after k rounds each node's
    label is the minimum node id within k hops — at convergence, the
    component's global minimum id. ``iters`` is FIXED (not
    run-to-convergence) so the result is a deterministic function of
    the graph for any engine stating the same recurrence, which is
    what lets an unrolled-SQL oracle pin it exactly (same device as
    :func:`pagerank`).

    Scale shape: the doubled adjacency (+ self-loops, so isolated-ish
    nodes and converged labels are fixpoints of the min) is built once,
    hash-partitioned on ``dst`` and cached; each round shuffles O(V)
    label rows into that partitioning, aggregates min per src — edge
    rows never reshuffle. Lineage is truncated with eager
    pins (local by default, reliable via conf — see checkpointing.py). Min-propagation costs O(diameter) rounds — the
    right default for the short-diameter similarity/co-occurrence
    graphs this engine builds (same propagation the near-dup
    clusterer uses for its scale-safe path, operators/dedup.py); for
    adversarially long paths at 100 TB the large-star/small-star
    variant halves distances per round, at the cost of a non-SQL
    recurrence.

    The returned labels are eagerly materialized so the adjacency
    cache can be unpersisted before returning; ``_connected_components_lazy``
    exposes the pre-materialization plan for receipts/tests.
    """
    labels, caches = _connected_components_lazy(edges, iters, checkpoint_every)
    labels = labels.transform(pin)
    for c in caches:
        c.unpersist()
    return labels


def _connected_components_lazy(
    edges: DataFrame, iters: int = 8, checkpoint_every: int = 4
):
    """Plan-building core of :func:`connected_components`: returns
    (labels, caches) without the final materialization/cleanup."""
    und = (
        edges.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # materialize ONCE: the adjacency build below references und
        # four times (both unions + verts' two projections); without a
        # barrier the upstream edge derivation — often a join, e.g. the
        # lineitem self-join in the co-purchase query — executes 4x.
        # Measured end-to-end at sf0.1: 9.6s -> 4.8s.
        .transform(pin)
    )
    verts = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .distinct()
    )
    adj = (
        und.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionByName(und.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .unionByName(verts.select(F.col("node").alias("src"), F.col("node").alias("dst")))
        .repartition("dst")
        .cache()
    )
    adj.count()  # materialize once; every round reuses the cached partitioning
    # Initial labels from the cached adjacency's self-loop rows (one
    # row per vertex by construction) — avoids re-deriving the edge
    # list a third time just to seed l0. checkpoint_every defaults to
    # 4: measured at 294k edges/8 rounds, per-3-round eager
    # checkpoints cost 2x the whole query (6.6s vs 2.7s) — the
    # truncation cadence should amortize over several rounds of
    # lineage, not dominate the wall clock.
    labels = adj.filter(F.col("src") == F.col("dst")).select(
        F.col("src").alias("node"), F.col("src").alias("label")
    )
    for i in range(iters):
        labels = (
            adj.join(labels, adj["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("label"))
            .withColumnRenamed("src", "node")
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            labels = labels.transform(pin)
    return labels, [adj]


def connected_components_oracle_sql(und_cte: str, iters: int = 8) -> str:
    """Unrolled-SQL min-label propagation: the identical recurrence as
    :func:`connected_components` as chained CTEs (DuckDB disallows
    aggregation in recursive CTE terms). ``und_cte`` must define
    ``und(u, v)`` — deduplicated undirected edges, u < v. Yields
    ``l{iters}(node, label)``; the caller appends the final SELECT."""
    parts = [und_cte.rstrip().rstrip(","), """,
        verts AS (
            SELECT u AS node FROM und UNION SELECT v FROM und
        ), adj AS (
            SELECT u AS src, v AS dst FROM und
            UNION ALL SELECT v, u FROM und
            UNION ALL SELECT node, node FROM verts
        ),
        l0 AS (SELECT node, node AS label FROM verts)"""]
    for i in range(iters):
        parts.append(f""",
        l{i + 1} AS (
            SELECT a.src AS node, min(l.label) AS label
            FROM adj a JOIN l{i} l ON l.node = a.dst
            GROUP BY a.src
        )""")
    return "WITH " + "".join(parts)


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count over an undirected simple graph given as
    (a, b) pairs (self-loops ignored, duplicates/multi-edges
    deduplicated, either orientation accepted).

    Degree-orders each edge (lower-degree endpoint first, ties by id)
    so each triangle is enumerated exactly once via
    e1(a→b) ⋈ e2(b→c) ⋈ e3(a→c), with hot-vertex join fan-out bounded
    by oriented out-degree ≤ √(2E). Returns a single-row DataFrame
    (n_edges, n_triangles), eagerly materialized so the oriented-edge
    cache can be unpersisted before returning; ``_triangle_count_lazy``
    exposes the pre-materialization plan for receipts/tests."""
    out, caches = _triangle_count_lazy(edges)
    out = out.transform(pin)
    for c in caches:
        c.unpersist()
    return out


def _triangle_count_lazy(edges: DataFrame):
    """Plan-building core of :func:`triangle_count`: returns
    (result, caches) without the final materialization/cleanup."""
    und = (
        edges.select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # deliberately NOT cached although it is referenced 3× while
        # building `oriented`: measured A/B at sf0.1 (294k edges), the
        # cached form is ~60% SLOWER (4.8–6.1 s vs 3.0–3.7 s) — the
        # block-store round-trip costs more than recomputing the cheap
        # self-join, and the cache boundary blocks codegen fusion
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    oriented = (
        und.join(du, "u").join(dv, "v")
        .select(
            F.when(
                (F.col("deg_u") < F.col("deg_v"))
                | ((F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            ).otherwise(
                F.struct(F.col("v").alias("s"), F.col("u").alias("t"))
            ).alias("e")
        )
        .select(F.col("e.s").alias("s"), F.col("e.t").alias("t"))
        # pin (localCheckpoint), not .cache(): read 4x (3 wedge legs +
        # the edge count) either way, but the columnar cache build is
        # BIMODAL on this engine — interleaved A/B (4 reps, sf0.1)
        # measured cache at 2.91s median with an 11.8s outlier vs 2.75s
        # flat for the checkpoint (r12; the same persist pathology seen
        # in minhash_near_dup_pairs). UnsafeRow blocks skip the encode.
        .transform(pin)
    )
    e1 = oriented.select(F.col("s").alias("a"), F.col("t").alias("b"))
    e2 = oriented.select(F.col("s").alias("b"), F.col("t").alias("c"))
    e3 = oriented.select(F.col("s").alias("a"), F.col("t").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    out = oriented.agg(F.count("*").alias("n_edges")).crossJoin(
        tri.agg(F.count("*").alias("n_triangles"))
    )
    return out, []  # r12: oriented is pinned, not cached — nothing to unpersist


def connected_components_converged(
    edges: DataFrame, max_iters: int = 50, checkpoint_every: int = 1
) -> tuple:
    """Connected components run to FIXPOINT: min-label propagation with
    per-round convergence detection, stopping when no label changes.
    Returns (labels, rounds_used).

    This is the dynamic-iteration-count shape :func:`connected_components`
    deliberately avoids (fixed rounds → unrolled-SQL oracle); here the
    round count is DATA-DRIVEN, which is what a production run wants —
    diameter is rarely known in advance. The convergence check costs no
    extra pass: each round's labels are eagerly materialized anyway
    (localCheckpoint), and an Observation counting label != prev rides
    that same materialization — zero additional jobs per round.

    At convergence the labels are exactly the per-component minima, a
    pure function of the graph — so the result is oracle-checkable by
    ANY unrolled recurrence with >= diameter rounds (the registered
    query asserts rounds_used stays under its oracle's unroll depth,
    failing loudly if the data ever outgrows the margin).
    """
    from pyspark.sql import Observation

    und = (
        edges.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(pin)
    )
    verts = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .distinct()
    )
    # is_self marks the (node, node) rows: after the per-round join,
    # the self-loop row's joined label IS the node's previous label, so
    # the convergence comparison folds into the SAME aggregate instead
    # of a second join back to the previous labels (r12; guide §2.4:
    # remove shuffles outright — one join per round, not two). Wall-
    # neutral at sf0.1 (interleaved A/B medians 6.6 vs 6.5s — round
    # latency is scheduling-bound there), kept for the structural
    # shape: per round, one join + one aggregate instead of two joins;
    # labels and round count identical.
    adj = (
        und.select(
            F.col("u").alias("src"), F.col("v").alias("dst"),
            F.lit(False).alias("is_self"),
        )
        .unionByName(und.select(
            F.col("v").alias("src"), F.col("u").alias("dst"),
            F.lit(False).alias("is_self"),
        ))
        .unionByName(verts.select(
            F.col("node").alias("src"), F.col("node").alias("dst"),
            F.lit(True).alias("is_self"),
        ))
        .repartition("dst")
        .cache()
    )
    adj.count()
    labels = adj.filter("is_self").select(
        F.col("src").alias("node"), F.col("src").alias("label")
    ).transform(pin)
    rounds = 0
    for i in range(max_iters):
        new = (
            adj.join(labels, adj["dst"] == labels["node"])
            .groupBy("src")
            .agg(
                F.min("label").alias("label"),
                # exactly one self row per src — min() just unwraps it
                F.min(F.when(F.col("is_self"), F.col("label"))).alias("prev"),
            )
            .withColumnRenamed("src", "node")
        )
        obs = Observation(f"cc_round_{i}")
        inst = new.observe(
            obs,
            F.sum(
                F.when(F.col("label") != F.col("prev"), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_changed"),
        )
        labels = inst.select("node", "label").transform(pin)
        rounds += 1
        if obs.get["n_changed"] == 0:
            break
    adj.unpersist()
    return labels, rounds


def _star_round(e: DataFrame, obs) -> DataFrame:
    """One large-star + small-star round over canonical edges
    ``e(a, b)`` (a < b; duplicates allowed), as the node-keyed frame
    ``(node, parent)`` the round pins: one ``(b, a)`` row per distinct
    output edge and one ``(a, NULL)`` marker per parent, with ``obs``
    counting the rows of nodes that hold more than one row. Shared by
    :func:`connected_components_star` and ``tools/gen_plans.py``."""
    # large-star: m = min(Γ(u) ∪ {u}) from ONE partitioning of the
    # neighbour list on u; (m, v) for v > u leaves the same partition
    nbrs = e.select("a", "b").union(e.select("b", "a")).toDF("u", "v")
    u_min = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    large = (
        nbrs.withColumn("m", u_min)
        .filter(F.col("v") > F.col("u"))
        # m <= u < v: already canonical; duplicates are left to the
        # node-keyed dedup below
        .select(F.col("m").alias("a"), F.col("v").alias("b"))
    )
    # small-star on b: m = min of b's smaller neighbours. A row with
    # a != m emits (m, a); the row(s) holding m itself emit (m, b) and
    # m's marker — as node-keyed rows, one per edge endpoint below
    m = F.col("m")

    def at(node, parent):
        return F.struct(node.alias("node"), parent.alias("parent"))

    rows = (
        large.withColumn("m", F.min("a").over(Window.partitionBy("b")))
        .select(F.inline(
            F.when(F.col("a") != m, F.array(at(F.col("a"), m))).otherwise(F.array(
                at(F.col("b"), m), at(m, F.lit(None).cast(e.schema["a"].dataType))
            ))
        ))
        # ONE exchange keyed by node: the distinct and the per-node
        # row count both run inside its partitions
        .repartition("node")
        .distinct()
        .withColumn("n_rows", F.count(F.lit(1)).over(Window.partitionBy("node")))
    )
    n_split = F.count(F.when(F.col("n_rows") > 1, 1)).alias("n_split")
    return rows.observe(obs, n_split).select("node", "parent")


def connected_components_star(
    edges: DataFrame, max_iters: int = 50, assume_canonical: bool = False
) -> tuple:
    """Connected components by alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC 2014). Returns (labels, rounds_used) where one
    round = one large-star + one small-star phase; the operator stops
    on the first round whose output is a star forest with every node
    attached directly to its component's minimum id — the same labels
    min-label propagation converges to, reached in O(log² n) rounds
    (O(log d) in practice) instead of O(diameter).

    This is the adversarial-diameter answer the min-propagation
    variants (:func:`connected_components`, the 100-TB caveat in its
    docstring) defer to: a path-shaped or filament graph of diameter
    10⁴ costs min-propagation 10⁴ synchronous shuffles but this
    variant ~log₂(10⁴) ≈ 14, because each phase rewires every node to
    the MINIMUM of its current neighborhood, halving distances-to-min
    rather than walking them.

    Phase semantics on the canonical edge set E (a < b):

    - large-star: for each node u, with m = min(Γ(u) ∪ {u}), emit
      (m, v) for every neighbor v > u. Each canonical edge is seen
      from its smaller endpoint, so |E| never grows.
    - small-star: for each node u over its smaller neighbors
      S = {v ∈ Γ(u), v < u}, with m = min(S), emit (m, v) for v ∈ S
      and (m, u). Self-loops are dropped.

    Scale shape: each phase is ONE exchange — a window min over the
    neighbor list partitioned by the grouping node, emitting from the
    same partition, with no join back and no ``distinct`` between the
    phases (duplicate edges only make the next phase emit duplicates).
    Hot vertices are never held as adjacency arrays: a hub's rows sit
    in the window's spillable partition buffer. The round's dedup is
    the third exchange, keyed by node: one ``(node=b, parent=a)`` row
    per edge plus a ``(node=a, parent=NULL)`` marker, deduplicated
    inside the node partitions, and eagerly checkpointed (lineage
    truncation; ``_star_round`` builds the round).

    Stopping rule: an Observation on that frame counts rows of nodes
    holding more than one row — a node with two parents, or one that
    is both a parent and a child. Zero means every node is either a
    root (its marker only) or a leaf under exactly one root: the edge
    set is a star forest whose roots sit below their leaves. Such
    a set is a fixpoint of both phases (large-star re-emits each
    root's leaves from the root, small-star each leaf's root edge),
    and since contraction preserves components, each star's root is
    its component's minimum. The test rides the round's own
    checkpoint, so there is no count, no comparison against the
    previous round and no confirming round: the operator returns one
    round earlier than a compare-with-previous fixpoint test would
    (in the same round when the input already is such a star forest).

    Contract: labels are returned ONLY from a verified star forest —
    if ``max_iters`` rounds pass without one, the call raises rather
    than returning a partial contraction (whose labels would not be
    component minima). ``rounds_used == max_iters`` in a successful
    return therefore means "converged on the final round", never
    "budget exhausted".

    ``assume_canonical=True`` is a physical hint (like ``small_graph``
    elsewhere): the caller asserts ``edges`` is ALREADY canonical
    (a < b, no self-loops, deduplicated) and materialized, so the
    operator skips its canonicalize + distinct shuffle and the pin —
    r12 wave 5 (guide §2.4): the near-dup pipelines feed a pinned
    verified-pair table that is canonical by construction (id_a < id_b
    out of the LSH join, distinct out of the verify), so one whole
    shuffle + one eager materialization job per call were redundant.
    Wrong input under the hint means wrong components — leave False
    unless the producer guarantees the shape.
    """
    from pyspark.sql import Observation

    e = edges if assume_canonical else (
        edges.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(pin)
    )
    for rounds in range(1, max_iters + 1):
        obs = Observation(f"star_round_{rounds}")
        forest = _star_round(e, obs).transform(pin)
        if obs.get["n_split"] == 0:
            break
        e = forest.filter(F.col("parent").isNotNull()).select(
            F.col("parent").alias("a"), F.col("node").alias("b")
        )
    else:
        # Exhausting the budget is an ERROR, not a result: a partial
        # contraction is NOT a star forest, so the label read-out below
        # would silently return wrong components. Callers previously had
        # to guess non-convergence from rounds == max_iters — ambiguous,
        # because legitimate convergence ON the final round returns the
        # same count. The operator now owns the contract: labels are
        # returned only from a verified star forest.
        raise RuntimeError(
            f"star contraction did not reach a fixpoint in {max_iters} "
            "rounds — raise max_iters (convergence is O(log d) rounds, "
            "so this means a pathologically deep graph or a budget far "
            "below log2(diameter))"
        )
    # star forest: one row per node — a leaf under its root, or a root
    labels = forest.select(
        "node", F.coalesce("parent", "node").alias("label")
    )
    return labels, rounds


def kcore(edges: DataFrame, k: int, max_iters: int = 50) -> tuple:
    """k-core decomposition by iterative peeling: repeatedly drop nodes
    whose degree in the surviving induced subgraph is < k, until no
    node drops. Returns (core_nodes, rounds_used) — the unique maximal
    subgraph with all induced degrees >= k.

    Fixpoint detection is FREE here: the survivor set shrinks
    monotonically, so set equality ⟺ count equality, and each round's
    count rides the eager checkpoint via an Observation — no
    comparison join, no extra job (contrast
    :func:`connected_components_converged`, where labels change
    without the node set changing and a prev-join is required).

    Scale shape: the edge list is materialized once (checkpoint
    barrier) and each round is two semi-joins of edges against the
    current node set (shrinking; AQE broadcasts it when small) plus
    one degree aggregation — O(E_surviving) per round, nothing
    quadratic. Peeling takes O(max-degree) rounds worst-case; the
    registered query's oracle unrolls with measured margin and the
    query asserts rounds stay inside it.
    """
    from pyspark.sql import Observation

    und = (
        edges.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(pin)
    )
    cur = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .distinct()
        .transform(pin)
    )
    prev_n = cur.count()
    rounds = 0
    for i in range(max_iters):
        au = cur.select(F.col("node").alias("u"))
        av = cur.select(F.col("node").alias("v"))
        surv = und.join(au, "u", "left_semi").join(av, "v", "left_semi")
        deg = (
            surv.select(F.col("u").alias("node"))
            .unionByName(surv.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k)
            .select("node")
        )
        obs = Observation(f"kcore_round_{i}")
        inst = deg.observe(obs, F.count(F.lit(1)).alias("n"))
        cur = inst.transform(pin)
        rounds += 1
        n = obs.get["n"]
        if n == prev_n:
            break
        prev_n = n
    return cur, rounds


def kcore_oracle_sql(und_cte: str, k: int, iters: int) -> str:
    """Unrolled-SQL k-core peel: ``iters`` MATERIALIZED rounds of the
    identical recurrence (MATERIALIZED is load-bearing — each round
    references the previous one twice, so DuckDB's default CTE
    inlining would expand the chain exponentially). ``und_cte`` must
    define ``und(u, v)``; yields ``n{iters}(node)`` for the caller's
    final SELECT."""
    head = und_cte.rstrip().rstrip(",").replace(
        "und AS (", "und AS MATERIALIZED (", 1
    )
    parts = [head, """,
        n0 AS MATERIALIZED (SELECT u AS node FROM und UNION SELECT v FROM und)"""]
    for i in range(iters):
        parts.append(f""",
        n{i + 1} AS MATERIALIZED (
            SELECT node FROM (
                SELECT e.u AS node FROM und e
                JOIN n{i} a ON a.node = e.u JOIN n{i} b ON b.node = e.v
                UNION ALL
                SELECT e.v FROM und e
                JOIN n{i} a ON a.node = e.u JOIN n{i} b ON b.node = e.v
            ) GROUP BY node HAVING count(*) >= {k}
        )""")
    return "WITH " + "".join(parts)

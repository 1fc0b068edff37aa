"""Similarity search over embedding columns (SURVEY.md §2.11 [EXT]).

Exact brute-force cosine top-k is the correctness baseline: broadcast
the (small) query set, score corpus-side with Catalyst array HOFs
(zip_with dot product — JVM-vectorizable, no Python), rank per query.
Cost is |Q|·|corpus| — fine for small |Q| at any corpus size because
the corpus is never shuffled, only scanned.

The scale path is LSH bucketing (random-hyperplane signatures →
equi-join on bucket), trading recall for a corpus-partitionable join;
recall is measured against the exact baseline in tests. An IVF variant
would replace hyperplanes with k-means centroids — same join shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_double_array(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k neighbors per query: (query_id, neighbor_id, sim, rank).

    Norms are precomputed per side (not per pair): the scored cross
    product evaluates ONE dot product per pair instead of three HOF
    aggregates — at |corpus|·|Q| pairs that's the dominant cost."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            as_double_array(vec_col).alias("qvec"),
        ).withColumn("qnorm", l2_norm(F.col("qvec")))
    )
    sc = corpus.sparkSession.sparkContext
    if corpus.rdd.getNumPartitions() < sc.defaultParallelism:
        corpus = corpus.repartition(sc.defaultParallelism)  # scoring is compute-bound
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(vec_col).alias("cvec"),
    ).withColumn("cnorm", l2_norm(F.col("cvec")))
    scored = c.crossJoin(q)
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = scored.select(
        "query_id",
        "neighbor_id",
        (dot(F.col("qvec"), F.col("cvec")) / (F.col("qnorm") * F.col("cnorm"))
         ).alias("raw_sim"),
    )
    # Rank on the UNROUNDED similarity (round only in the projection):
    # ranking on a 6dp-rounded sim would let two neighbors whose raw
    # sims differ by <1e-6 be ordered by the neighbor_id tiebreak while
    # a raw-sim ranker (every oracle, hard_negative_mining) orders them
    # by sim — a data-dependent top-k divergence hazard.
    w = Window.partitionBy("query_id").orderBy(
        F.col("raw_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("raw_sim", 6).alias("sim"), "rank")
    )


def _hyperplane(dim: int, plane: int, table: int = 0) -> list[float]:
    """Deterministic pseudo-random ±1 hyperplane components (seeded by
    (table, plane, component) — no RNG state, reproducible everywhere)."""
    comps = []
    for d in range(dim):
        h = ((table * 7919 + plane) * 1_000_003 + d * 131 + 7) * 2654435761 % (2**32)
        comps.append(1.0 if (h >> 16) & 1 else -1.0)
    return comps


def lsh_bucket_signature(vec_col, dim: int, n_planes: int = 12, table: int = 0) -> Column:
    """Random-hyperplane signature: bit p = sign(<v, h_p>) packed into a
    long — a scan-side expression, no shuffle."""
    v = as_double_array(vec_col)
    sig = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = F.array(*[F.lit(x) for x in _hyperplane(dim, p, table)])
        bit = F.when(dot(v, plane) >= 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(
            F.lit(0).cast("long")
        )
        sig = sig.bitwiseOR(bit)
    return sig


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 8,
) -> DataFrame:
    """Approximate top-k with the standard multi-table LSH layout:
    ``n_tables`` independent hash tables of ``n_planes`` hyperplane
    bits each; candidates share any table's bucket, then exact cosine
    within candidates. Recall ≈ 1-(1-p^m)^L for bit-agreement
    probability p = 1-θ/π. Multi-probe (1-bit flips) widens recall
    further at ~n_planes× candidate cost.

    Scale shape: the per-table bucket join is an equi-join on
    (table, bucket) — the corpus is shuffled once by bucket key, never
    crossed; candidate volume is |corpus|·L/2^m per query."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(vec_col).alias("cvec"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(t).alias("tbl"),
                    lsh_bucket_signature(vec_col, dim, n_planes, t).alias("bucket"),
                )
                for t in range(n_tables)
            ])
        ).alias("tb"),
    ).select("neighbor_id", "cvec", "tb.tbl", "tb.bucket")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_array(vec_col).alias("qvec"),
        *[
            lsh_bucket_signature(vec_col, dim, n_planes, t).alias(f"qb_{t}")
            for t in range(n_tables)
        ],
    )
    # probe own bucket + all 1-bit-flip buckets, per table
    probes = q.select(
        "query_id", "qvec",
        F.explode(
            F.flatten(
                F.array(*[
                    F.array(
                        F.struct(F.lit(t).alias("tbl"), F.col(f"qb_{t}").alias("bucket")),
                        *[
                            F.struct(
                                F.lit(t).alias("tbl"),
                                F.col(f"qb_{t}").bitwiseXOR(F.lit(1 << p)).alias("bucket"),
                            )
                            for p in range(n_planes)
                        ],
                    )
                    for t in range(n_tables)
                ])
            )
        ).alias("pb"),
    ).select("query_id", "qvec", "pb.tbl", "pb.bucket")
    scored = (
        probes.join(c, on=["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("sim"),
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.95,
    n_planes: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH self-join: vectors
    in the same hyperplane bucket with cosine ≥ threshold."""
    sig = df.select(
        F.col(id_col),
        as_double_array(vec_col).alias("v"),
        lsh_bucket_signature(vec_col, dim, n_planes).alias("bucket"),
    )
    a, b = sig.alias("a"), sig.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(cosine(F.col("a.v"), F.col("b.v")), 6).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine):
    broadcast the centroid table, score, argmax via row_number. This is
    the IVF build step — the corpus is scanned once, never shuffled by
    anything wider than (id, cluster)."""
    # Norms eps-clamped: an all-zero vector gets affinity 0 to every
    # centroid (ties broken to the lowest cluster_id below) instead of a
    # DIVIDE_BY_ZERO under ANSI mode / NaN affinities otherwise.
    c = F.broadcast(
        centroids.select(
            F.col("cluster_id"), F.col("cvec"),
        ).withColumn("cnorm", F.greatest(l2_norm(F.col("cvec")), F.lit(1e-12)))
    )
    v = df.select(
        F.col(id_col), as_double_array(vec_col).alias("v")
    ).withColumn("vnorm", F.greatest(l2_norm(F.col("v")), F.lit(1e-12)))
    scored = v.crossJoin(c).select(
        id_col, "v",
        "cluster_id",
        (dot(F.col("v"), F.col("cvec")) / (F.col("vnorm") * F.col("cnorm"))).alias("aff"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("aff").desc(), F.col("cluster_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, "v", "cluster_id")
    )


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector min/max scalar quantization to uint8 codes — the 4×
    vector-compression step an ANN index runs before sharding at scale
    (code arrays ship across the wire instead of float32). Returns
    (id, qvec array<int>, scale_min, scale_max); dequantize as
    ``mn + q/255·(mx−mn)``. Degenerate constant vectors (mx == mn)
    quantize to all-zero codes. Pure Catalyst HOF — one scan-side pass,
    no shuffle, engine-portable arithmetic (float→double promotion is
    exact, so codes reproduce bit-identically in ANSI SQL)."""
    v = as_double_array(vec_col)
    mn, mx = F.array_min(v), F.array_max(v)
    rng = F.when(mx > mn, mx - mn).otherwise(F.lit(1.0))
    return df.select(
        F.col(id_col),
        F.transform(v, lambda x: F.round((x - mn) / rng * 255).cast("int")).alias("qvec"),
        mn.alias("scale_min"),
        mx.alias("scale_max"),
    )


def seed_centroids(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic centroid seeding: the k vectors with the smallest
    xxhash64(id) — a reproducible uniform sample. The cheapest init;
    ``kmeans_parallel_centroids`` below is the quality path."""
    w = Window.orderBy(F.xxhash64(F.col(id_col).cast("string")), F.col(id_col))
    return (
        df.select(F.col(id_col), as_double_array(vec_col).alias("cvec"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select((F.col("__rn") - 1).alias("cluster_id"), "cvec")
    )


def _nearest_affinity(v_df: DataFrame, cents: DataFrame) -> DataFrame:
    """(__vid, v, best_aff): max cosine of each vector to the current
    centroid set (broadcast scan — corpus never shuffles)."""
    c = F.broadcast(cents.withColumn("cnorm", l2_norm(F.col("cvec"))))
    best = (
        v_df.crossJoin(c)
        .groupBy("__vid")
        .agg(
            F.max(
                dot(F.col("v"), F.col("cvec")) / (F.col("vnorm") * F.col("cnorm"))
            ).alias("best_aff")
        )
    )
    return v_df.join(best, "__vid")


def kmeans_parallel_centroids(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init_rounds: int = 3,
    oversample: int | None = None,
    lloyd_iters: int = 2,
) -> DataFrame:
    """k-means|| centroids (Bahmani et al., VLDB 2012 — the MLlib init)
    refined by distributed spherical Lloyd iterations. Deterministic:
    all sampling is xxhash64-thresholded, no RNG state.

    Init: start from one seed; each round samples ~``oversample``
    (default 2k) points with probability ∝ cosine distance to the
    nearest current candidate (far points are likely new cluster
    cores), accumulating ≈ rounds·2k candidates. The candidate set is
    O(k) — it alone is collected and reclustered driver-side by
    weighted farthest-point traversal (exactly MLlib's shape: corpus
    stays distributed, only centroid candidates hit the driver).

    Refine: ``lloyd_iters`` rounds of broadcast-assign → component-mean
    per cluster (posexplode + groupBy(cluster, pos): the shuffle keys
    are (k·dim) cells, never whole vectors to one place). Empty
    clusters keep their previous centroid.
    """
    v_df = (
        df.select(F.col(id_col).alias("__vid"), as_double_array(vec_col).alias("v"))
        .withColumn("vnorm", l2_norm(F.col("v")))
        .persist()
    )
    l = oversample or 2 * k
    # round 0: the min-hash point, as in seed_centroids
    cand = seed_centroids(df, 1, id_col, vec_col)
    for r in range(init_rounds):
        scored = _nearest_affinity(v_df, cand)
        # d(x) = 1 - best cosine ∈ [0,2]; sample P(x) = min(1, l·d/Σd)
        tot = scored.agg(F.sum(1 - F.col("best_aff"))).first()[0] or 1e-12
        # deterministic Bernoulli: uniform in [0,1) from xxhash64(id, round)
        u = (
            F.pmod(F.xxhash64(F.col("__vid").cast("string"), F.lit(r)), F.lit(1_000_000))
            / 1_000_000.0
        )
        picked = scored.filter(
            u < (F.lit(float(l)) * (1 - F.col("best_aff")) / F.lit(float(tot)))
        ).select(F.lit(-1).alias("cluster_id"), F.col("v").alias("cvec"))
        cand = cand.select("cluster_id", "cvec").unionByName(picked).localCheckpoint()
    # weight candidates by how many corpus points they attract, then
    # recluster the O(k) candidate set driver-side (MLlib does the same)
    cand_idx = cand.select("cvec").distinct().select(
        # distinct first: a re-sampled duplicate would otherwise make the
        # index tie-break (and thus the weights) nondeterministic
        F.row_number().over(
            Window.orderBy(F.col("cvec").cast("string"))
        ).alias("cluster_id"),
        "cvec",
    )
    assigned = ivf_assign(
        v_df.select(F.col("__vid").alias(id_col), F.col("v").alias("__arr")),
        cand_idx, id_col, "__arr",
    )
    weights = {
        r["cluster_id"]: r["w"]
        for r in assigned.groupBy("cluster_id").agg(F.count("*").alias("w")).collect()
    }
    cand_rows = cand_idx.collect()
    # weighted farthest-point traversal: start at the heaviest candidate,
    # greedily add the candidate maximizing weight·distance-to-chosen
    import numpy as np

    vecs = {r["cluster_id"]: np.asarray(r["cvec"], dtype=np.float64) for r in cand_rows}
    ids = sorted(vecs)
    norm = {i: float(np.linalg.norm(vecs[i])) or 1.0 for i in ids}
    chosen = [max(ids, key=lambda i: (weights.get(i, 0), -i))]
    while len(chosen) < min(k, len(ids)):
        def score(i):
            d = min(
                1.0 - float(np.dot(vecs[i], vecs[j])) / (norm[i] * norm[j])
                for j in chosen
            )
            return (weights.get(i, 0) * d, -i)
        nxt = max((i for i in ids if i not in chosen), key=score)
        chosen.append(nxt)
    spark = df.sparkSession
    from ..localrel import local_df

    cents = local_df(
        spark,
        [(ci, [float(x) for x in vecs[i]]) for ci, i in enumerate(sorted(chosen))],
        "cluster_id int, cvec array<double>",
    )
    # distributed spherical Lloyd refinement
    for _ in range(lloyd_iters):
        a = ivf_assign(
            v_df.select(F.col("__vid").alias(id_col), F.col("v").alias("__arr")),
            cents, id_col, "__arr",
        )
        means = (
            a.select("cluster_id", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster_id", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cluster_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("cvec")
            )
        )
        # empty clusters keep their previous centroid
        cents = (
            cents.alias("old")
            .join(means.alias("new"), "cluster_id", "left")
            .select(
                "cluster_id",
                F.coalesce(F.col("new.cvec"), F.col("old.cvec")).alias("cvec"),
            )
            .localCheckpoint()
        )
    v_df.unpersist()
    return cents


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    centroid_init: str = "seed",
) -> DataFrame:
    """IVF approximate top-k: corpus bucketed by nearest centroid;
    each query scores only its ``n_probe`` closest clusters' members.
    Candidate volume ≈ |corpus|·n_probe/n_clusters per query, and the
    probe join is an equi-join on cluster_id — the shape that scales:
    the inverted lists shuffle once at build and are reusable across
    query batches (persist/write the assignment).

    ``centroid_init``: "seed" (hash-sample, cheapest) or "kmeans||"
    (Bahmani init + Lloyd refinement — better-balanced lists, higher
    recall at the same n_probe; the build costs a few extra corpus
    scans, amortized across query batches)."""
    if centroid_init == "kmeans||":
        cents = kmeans_parallel_centroids(corpus, n_clusters, id_col, vec_col).persist()
    else:
        cents = seed_centroids(corpus, n_clusters, id_col, vec_col).persist()
    assigned = ivf_assign(corpus, cents, id_col, vec_col).withColumnRenamed(
        id_col, "neighbor_id"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("qv")
    ).withColumn("qnorm", l2_norm(F.col("qv")))
    qc = q.crossJoin(F.broadcast(cents.withColumn("cnorm", l2_norm(F.col("cvec"))))).select(
        "query_id", "qv", "qnorm", "cluster_id",
        (dot(F.col("qv"), F.col("cvec")) / (F.col("qnorm") * F.col("cnorm"))).alias("aff"),
    )
    wprobe = Window.partitionBy("query_id").orderBy(F.col("aff").desc(), F.col("cluster_id"))
    probes = (
        qc.withColumn("__rn", F.row_number().over(wprobe))
        .filter(F.col("__rn") <= n_probe)
        .select("query_id", "qv", "qnorm", "cluster_id")
    )
    scored = (
        probes.join(assigned, on="cluster_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * l2_norm(F.col("v"))), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def standardize_by_group(
    df: DataFrame,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group vector standardization as an ``applyInPandas``
    grouped-map stage (SURVEY §2.10): within each group, center every
    component on the group's scalar mean-of-components and scale by the
    group's std — the normalize-before-index step of an embedding
    pipeline, and the engine's oracle-gated demonstration of the
    grouped-map UDF pattern (numpy kernel, Arrow batches, one group per
    call).

    Scale shape: one shuffle on ``group_col``; groups stream through
    workers as Arrow batches, so memory is bounded by the largest
    group, and the kernel is vectorized numpy, not per-row Python.
    The closure is self-contained (numpy/pandas only) — workers never
    import this package.
    """
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField(id_col, df.schema[id_col].dataType),
        T.StructField(group_col, df.schema[group_col].dataType),
        T.StructField("std_embedding", T.ArrayType(T.DoubleType())),
    ])

    def standardize(pdf):
        import numpy as np
        import pandas as pd

        # shuffle delivers group rows in arbitrary order; sorting first
        # makes pairwise float summation (and thus the rounded outputs)
        # bit-stable across runs
        pdf = pdf.sort_values(id_col)
        mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        mu = float(mat.mean())
        sd = float(mat.std()) or 1.0
        std = (mat - mu) / sd
        return pd.DataFrame({
            id_col: pdf[id_col].values,
            group_col: pdf[group_col].values,
            "std_embedding": [np.round(row, 6).tolist() for row in std],
        })

    return (
        df.select(id_col, group_col, vec_col)
        .groupBy(group_col)
        .applyInPandas(standardize, schema=out_schema)
    )


def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    threshold: float = 0.9,
    use_kmeans: bool = False,
    small_graph: bool = True,
    pairwise: str = "pandas",
    assign: str = "pandas",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings, then pruning within-cluster
    pairs whose cosine exceeds ``threshold``, keeping the min-id
    representative of each semantic-duplicate group. Returns
    (id, had_semantic_dup) for the KEPT rows.

    Scale shape — the reason SemDeDup clusters first: the pairwise
    cosine join is confined to same-cluster pairs, so with k chosen
    ∝ corpus size (constant expected cluster size, as in the paper)
    the candidate count stays linear in the corpus instead of N².
    The corpus shuffles once keyed by cluster_id carrying normalized
    vectors; centroids are always broadcast (ivf_assign). The pair
    graph is dup-group-sized, so representative election is the same
    union-find / min-propagation machinery as text near-dedup.

    ``pairwise="pandas"`` (default) computes each cluster's pairwise
    cosines as ONE Arrow-batched numpy gram matrix (X @ X.T) per
    cluster — exactly the paper's per-cluster dense matmul, and the
    legitimate Pandas-UDF case: a quadratic-in-cluster-size kernel a
    row-expression join can only express as candidate-pair lambdas
    (measured ~4x slower at 64-dim). Per-task memory is cluster_size²,
    the knob n_clusters already bounds. ``pairwise="sql"`` keeps the
    pure-Catalyst join (used to cross-check the kernel in tests).

    ``assign="pandas"`` (default) does centroid assignment the same
    way: collect the O(k) centroid table driver-side (the MLlib
    collect-the-small-side pattern), broadcast it into a mapInPandas
    closure, and argmax one X @ C.T matmul per Arrow batch. Assignment
    is the O(N·k) term — with the paper's k ∝ N it is the asymptotic
    bottleneck, and the Catalyst crossJoin form pays ~64 array-lambda
    ops per (vector, centroid): measured 15.8x wall at 10x corpus
    (``git show a3c7b0a:tools/scale_check_llm2.py``) vs near-linear.
    ``assign="sql"`` keeps the ivf_assign crossJoin for cross-checks.
    """
    from .dedup import cluster_representatives

    if pairwise not in ("pandas", "sql") or assign not in ("pandas", "sql"):
        raise ValueError(
            f"pairwise/assign must be 'pandas' or 'sql', got {pairwise!r}/{assign!r}"
        )
    cents = (
        kmeans_parallel_centroids(df, n_clusters, id_col, vec_col)
        if use_kmeans
        else seed_centroids(df, n_clusters, id_col, vec_col)
    )
    if assign == "pandas":
        import numpy as np
        import pandas as pd

        cent_rows = sorted(cents.collect(), key=lambda r: r.cluster_id)
        C = np.asarray([r.cvec for r in cent_rows], dtype=np.float64)
        # Clamp norms: an all-zero embedding must get affinity 0 to every
        # centroid (argmax -> cluster 0, matching the sql path's NaN-desc
        # ordering which also lands on the lowest cluster_id), never NaN
        # rows whose argmax is silently undefined.
        Cn = (C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)).T  # dim x k

        def assign_batches(batches):
            for pdf in batches:
                X = np.asarray(list(pdf[vec_col]), dtype=np.float64)
                Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
                # np.argmax takes the FIRST max → lowest cluster_id on
                # ties, matching ivf_assign's (aff desc, cluster_id) order
                best = np.argmax(Xn @ Cn, axis=1)
                yield pd.DataFrame(
                    {"__id": pdf[id_col], "v": list(X), "cluster_id": best}
                )

        assigned = df.select(id_col, as_double_array(vec_col).alias(vec_col)).mapInPandas(
            assign_batches, "__id long, v array<double>, cluster_id int"
        ).withColumnRenamed("__id", id_col)
    else:
        assigned = ivf_assign(df, cents, id_col, vec_col)
    if pairwise == "pandas":
        import pandas as pd

        def gram_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
            import numpy as np

            ids = pdf["__id"].to_numpy()
            X = np.asarray(list(pdf["v"]), dtype=np.float64)
            # eps-clamped: a zero vector normalizes to the zero vector
            # (sim 0 to everything -> never a near-dup pair), same as the
            # sql path's clamped l2_norm below.
            X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            S = X @ X.T
            ia, ib = np.nonzero(np.triu(S >= threshold, k=1))
            a_ids, b_ids = ids[ia], ids[ib]
            lo = np.minimum(a_ids, b_ids)
            hi = np.maximum(a_ids, b_ids)
            return pd.DataFrame({"id_a": lo, "id_b": hi})

        pairs = (
            assigned.select(F.col(id_col).alias("__id"), "v", "cluster_id")
            .groupBy("cluster_id")
            .applyInPandas(gram_pairs, "id_a long, id_b long")
        )
    else:
        # MATERIALIZE the normalized vectors before the self-join:
        # without the barrier Catalyst re-inlines the transform/l2_norm
        # into the join, recomputing the normalization per CANDIDATE
        # PAIR instead of per vector (same re-inline failure mode the
        # minhash pipeline hit — PERF.md §1).
        normed = assigned.select(
            F.col(id_col),
            "cluster_id",
            # greatest(norm, eps): zero vectors normalize to zero (sim 0,
            # never a pair) instead of NaN components — NaN compares
            # GREATER than the threshold under Spark's NaN ordering and
            # would fabricate pairs the pandas kernel never emits.
            F.transform(
                "v", lambda x: x / F.greatest(l2_norm(F.col("v")), F.lit(1e-12))
            ).alias("nv"),
        ).localCheckpoint()
        a = normed.select(
            F.col(id_col).alias("id_a"), F.col("cluster_id"), F.col("nv").alias("nv_a")
        )
        b = normed.select(
            F.col(id_col).alias("id_b"), F.col("cluster_id"), F.col("nv").alias("nv_b")
        )
        pairs = (
            a.join(b, "cluster_id")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(dot(F.col("nv_a"), F.col("nv_b")) >= F.lit(threshold))
            .select("id_a", "id_b")
        )
    reps = cluster_representatives(pairs, small_graph=small_graph)
    drops = reps.filter(F.col("member_id") != F.col("rep_id")).select(
        F.col("member_id").alias(id_col)
    )
    flagged = reps.filter(F.col("member_id") == F.col("rep_id")).select(
        F.col("rep_id").alias(id_col), F.lit(True).alias("had_semantic_dup")
    )
    # NO forced broadcast: drops/flagged are the semantic-dup fraction
    # of the corpus (SemDeDup prunes up to half of web-scale data) —
    # unbounded sets a forced broadcast would OOM on; AQE broadcasts
    # them anyway when they are actually small.
    return (
        df.select(id_col)
        .join(drops, id_col, "left_anti")
        .join(flagged, id_col, "left")
        .select(
            id_col, F.coalesce("had_semantic_dup", F.lit(False)).alias("had_semantic_dup")
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze, Schmid — TPAMI 2011)
# ---------------------------------------------------------------------------
#
# PQ is the ANN-compression half that scalar int8 quantization
# (quantize_int8) lacks: split each d-dim vector into m contiguous
# sub-vectors, vector-quantize each subspace against its own k-entry
# codebook, and store only the m codes (m bytes/vector for k<=256 —
# 32x smaller than float32 at d=64/m=8). Query-time asymmetric
# distance (ADC) never decodes: per query, precompute the |Q|*m*k
# table of exact query-subvector-to-centroid squared distances, then a
# candidate's distance is just m table lookups summed.
#
# Scale shape (the reason every 100 TB vector store uses this):
#   - training: distance argmin is a map-side partial groupBy-min over
#     the (row, subspace, centroid) product with a BROADCAST codebook
#     (m*k rows) — shuffle is O(N*m) best-code rows, never O(N*m*k);
#     centroid means reduce in long (s, cid, pos) form exactly like
#     embedding_centroids_by_label (|codebook|*dsub running sums).
#   - encode: broadcast join + scan, shuffle O(N*m) code rows.
#   - search: the corpus is scanned as CODES (m small ints/row); the
#     per-query lookup table is O(|Q|*m*k) and broadcast. Nothing
#     query-dependent ever shuffles the corpus.
#
# Determinism for the cross-engine oracle: every squared distance is a
# pinned LEFT-FOLD over sub-vector positions (F.aggregate — matches a
# left-associative `t1 + t2 + ...` SQL chain exactly in IEEE order),
# argmin ties break on centroid id via lexicographic struct-min, Lloyd
# means are rounded to 6dp (the repo-wide float-agg pin), and the ADC
# sum over the m per-subspace terms is an explicit pivot + fixed-order
# add chain, not an order-unspecified SUM over doubles.


def sq_dist(a: Column, b: Column) -> Column:
    """Squared L2 distance as a pinned left fold: the summation order
    is element order on every executor AND in the SQL-oracle's
    left-associative chain, so cross-engine results are bit-equal."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, y: acc + y,
    )


def pq_subvectors(
    df: DataFrame, id_col: str, vec_col: str, m: int, dsub: int,
    out_id: str = "vec_id",
) -> DataFrame:
    """(id, s, sub): split vec_col (length m*dsub) into m contiguous
    dsub-length double sub-vectors — one scan, no shuffle. NOT
    fan_out-guarded (r12 revert): with the un-pinned multi-consumer
    plans below, the guard's round-robin exchange re-executes per
    consumer and measured strictly slower at sf0.1 (pq 2.7s vs 2.3s,
    ivfpq 5.6s vs 4.4s, interleaved medians); the broadcast-argmin
    folds downstream are already parallelized by the shuffle their
    groupBys introduce."""
    slices = F.array(*[
        F.slice(as_double_array(vec_col), s * dsub + 1, dsub) for s in range(m)
    ])
    return df.select(
        F.col(id_col).alias(out_id), F.posexplode(slices).alias("s", "sub")
    )


def pq_assign(
    subs: DataFrame, codebook: DataFrame, id_col: str = "vec_id",
    carry_cols: tuple = (),
) -> DataFrame:
    """Nearest-centroid code per (row, subspace): (id, *carry, s, cid, d2).

    Broadcast the m*k codebook, compute the pinned-fold distance
    scan-side, and take the argmin as a lexicographic struct-min
    (ties -> smallest cid) under ONE partial-aggregating groupBy —
    map-side combine collapses the m*k candidates to one row per
    (id, s) before any shuffle. `carry_cols` are columns functionally
    dependent on the id (e.g. an IVF cell id) carried through the
    group key — same cardinality, and it saves the caller an O(N)
    rejoin to recover them."""
    j = subs.join(F.broadcast(codebook), "s")
    best = (
        j.select(
            id_col, *carry_cols, "s",
            F.struct(
                sq_dist(F.col("sub"), F.col("cvec")).alias("d2"),
                F.col("cid").alias("cid"),
            ).alias("cand"),
        )
        .groupBy(id_col, *carry_cols, "s")
        .agg(F.min("cand").alias("best"))
    )
    return best.select(
        id_col, *carry_cols, "s",
        F.col("best.cid").alias("cid"), F.col("best.d2").alias("d2"),
    )


def pq_train_codebook(
    subs: DataFrame, init: DataFrame, rounds: int = 1, id_col: str = "vec_id",
    dsub: int | None = None,
) -> DataFrame:
    """Lloyd-refine an initial (s, cid, cvec) codebook for `rounds`
    iterations: assign (broadcast argmin) -> per-(s, cid) element-wise
    means -> rebuild arrays. Means are rounded to 6dp (repo float-agg
    pin); centroids that attract no members are dropped (both engines
    mirror this).

    With ``dsub`` (the fixed sub-vector width) the mean step is ONE
    fixed-width groupBy of dsub avg columns over the assigned⋈subs
    join (r12 optimization wave 5, guide §2.4): that removes the
    posexplode (×dsub row amplification) and the second groupBy with
    its collect_list + array_sort. (Carrying the sub-vector through
    the argmin struct to ALSO kill the re-join was tried and measured
    SLOWER — min over a struct with an array field drops the argmin
    out of the fixed-width hash-aggregate path; interleaved A/B at
    sf0.1: ivfpq 4.42s vs 4.05s median — so the thin argmin + join
    stays.) Still scale-correct: the aggregate partial-aggregates
    map-side and its state is |codebook|·dsub running sums, same as
    the long form. Without ``dsub`` the original long-form path runs
    (kept for callers that don't know the width statically); values
    are identical — same argmin, same avg over the same elements,
    same 6dp round."""
    cb = init
    for _ in range(rounds):
        if dsub is not None:
            assigned = pq_assign(subs, cb, id_col).select(id_col, "s", "cid")
            cb = (
                assigned.join(subs, [id_col, "s"])
                .groupBy("s", "cid")
                .agg(F.array(*[
                    F.round(F.avg(F.col("sub")[i]), 6) for i in range(dsub)
                ]).alias("cvec"))
            )
            continue
        assigned = pq_assign(subs, cb, id_col).select(id_col, "s", "cid")
        cells = assigned.join(subs, [id_col, "s"]).select(
            "s", "cid", F.posexplode("sub").alias("pos", "val")
        )
        means = cells.groupBy("s", "cid", "pos").agg(
            F.round(F.avg("val"), 6).alias("mval")
        )
        cb = means.groupBy("s", "cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mval"))),
                lambda st: st["mval"],
            ).alias("cvec")
        )
    return cb


def collect_codebook(cb: DataFrame) -> list[tuple[int, int, list[float]]]:
    """Collect a tiny (s, cid, cvec) codebook frame to the driver as a
    canonically ordered row list (sorted by (s, cid) so expression
    trees built from it are deterministic). A PQ codebook is O(m·k)
    rows — constant in corpus size — so this is model-state-to-driver,
    exactly the split the BPE/GD training loops already use; the
    corpus itself never moves."""
    return sorted(
        (int(r["s"]), int(r["cid"]), [float(x) for x in r["cvec"]])
        for r in cb.collect()
    )


def codebook_df(spark, rows: list[tuple[int, int, list[float]]]) -> DataFrame:
    """Driver-collected codebook rows back as a (s, cid, cvec) frame —
    a TRUE LocalRelation (SQL ``VALUES``), same schema the join-based
    consumers (e.g. :func:`pq_adc_topk`'s distance table) expect.
    NOT ``spark.createDataFrame(list)``: that parallelizes the rows
    into a defaultParallelism-partition PICKLED RDD, so every
    broadcast over it runs a whole 32-task scan job with a Python
    worker round-trip per task (~0.2s/task of pure overhead —
    measured as the two dominant stages of the r13 pq profile). A
    ``VALUES`` relation constant-folds driver-side: broadcasts build
    from driver memory with ZERO jobs. Doubles round-trip via
    ``repr`` (shortest exact form), so distances computed from this
    frame are bit-identical to ones from the original lineage."""
    from ..localrel import local_df

    return local_df(spark, rows, "s INT, cid BIGINT, cvec ARRAY<DOUBLE>")


def sql_double(x: float) -> str:
    """A double as exact SQL text (repr round-trips the IEEE value)."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def sql_arr(cvec: list[float]) -> str:
    """A literal double array as SQL text."""
    return "array(" + ", ".join(sql_double(x) for x in cvec) + ")"


def sql_sq_dist(col_sql: str, arr_sql: str) -> str:
    """:func:`sq_dist` as SQL text — the IDENTICAL Catalyst expression
    (zip_with + left-fold aggregate, same lambda bodies), just parsed
    from one string instead of built through thousands of py4j
    Column-DSL round-trips (~1ms each; the first literal-codebook
    formulation spent several SECONDS of driver time just constructing
    expressions — r13 measurement)."""
    return (
        f"aggregate(zip_with({col_sql}, {arr_sql}, "
        f"(x, c) -> (x - c) * (x - c)), {sql_double(0.0)}, "
        f"(acc, y) -> acc + y)"
    )


def inline_nearest_single(
    rows: list[tuple[int, int, list[float]]], sub_col: str = "sub"
) -> Column:
    """Nearest-centroid struct(d2, cid) computed ENTIRELY scan-side
    against a driver-collected SINGLE-subspace codebook (r13, guide
    §2.4 "remove shuffles outright"): a ``least`` over one literal
    candidate struct per centroid — no broadcast join, no partial-agg
    groupBy shuffle, no exchange. Distances are the same
    :func:`sq_dist` pinned fold over the same doubles (the centroid
    is a constant-folded literal array) and ties break on cid exactly
    like the struct-min in :func:`pq_assign`, so values are
    bit-identical. Built as SQL text (:func:`sql_sq_dist`) — one
    F.expr parse, not O(kc·dsub) py4j calls. Meant for SMALL candidate
    sets (an IVF coarse quantizer: kc ≈ 8-256): the expression is
    O(kc) nodes. For the m×k residual codebook keep the join-based
    :func:`pq_assign` — a CASE-dispatched m·k literal tree measured
    strictly worse (r13 measured-revert note)."""
    if {s for s, _, _ in rows} != {0}:
        raise ValueError("inline_nearest_single: codebook must have s == 0 only")
    structs = [
        f"named_struct('d2', {sql_sq_dist(sub_col, sql_arr(cvec))}, "
        f"'cid', CAST({cid} AS BIGINT))"
        for _, cid, cvec in rows
    ]
    if len(structs) == 1:
        return F.expr(structs[0])
    return F.expr("least(" + ", ".join(structs) + ")")


def py_sq_dist(a: list[float], b: list[float]) -> float:
    """:func:`sq_dist`'s pinned left fold executed on the DRIVER:
    CPython floats are IEEE doubles and ``acc + (x-c)*(x-c)`` is the
    identical operation sequence (no FMA, no extended precision), so
    the result is bit-equal to the Spark/SQL fold over the same
    values. Used for O(|Q|·m·k) query-side model state only — never
    anything corpus-sized."""
    acc = 0.0
    for x, c in zip(a, b):
        d = x - c
        acc = acc + d * d
    return acc


def adc_pd_rows(
    qrows: list[tuple[int, list[float]]],
    cb_rows: list[tuple[int, int, list[float]]],
    m: int, dsub: int,
) -> list[tuple[int, int, int, float]]:
    """The ADC lookup table (query_id, s, cid, pd) computed driver-
    side from collected query vectors + a driver-held codebook (r13,
    guide §2.4 at job granularity): the table is O(|Q|·m·k) — constant
    in corpus size, the per-query model state every ADC engine
    precomputes — so building it as a job (scan + join + broadcast
    build) was pure stage overhead. Distances via :func:`py_sq_dist`
    (bit-equal)."""
    out = []
    for qid, vec in qrows:
        for s in range(m):
            sub = vec[s * dsub:(s + 1) * dsub]
            for s2, cid, cvec in cb_rows:
                if s2 == s:
                    out.append((qid, s, cid, py_sq_dist(sub, cvec)))
    return out


def pq_adc_topk(
    codes: DataFrame, codebook: DataFrame, query_subs: DataFrame,
    m: int, k: int = 5, exclude_self: bool = True,
    precomputed_pd: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k: (query_id, neighbor_id, adc_dist2, rank).

    `codes` is the compressed corpus (vec_id, s, cid); `query_subs`
    is (query_id, s, sub) for the (small) query set. The per-query
    distance table (query_id, s, cid, pd) has |Q|*m*|codebook| rows
    and is broadcast; the corpus side is scanned once and reduced by
    a partial-agg pivot. The final distance is an explicit
    left-associative chain over the m pivoted columns — fixed FP
    order, no order-unspecified double SUM.

    ``precomputed_pd``: a caller-supplied distance table (e.g. from
    :func:`adc_pd_rows` as a LocalRelation) — the broadcast then
    builds from driver memory with no scan job; values must be the
    same pinned fold (``query_subs``/``codebook`` are ignored for the
    table when given)."""
    from functools import reduce as _reduce

    if precomputed_pd is not None:
        pd = precomputed_pd
    else:
        pd = query_subs.join(codebook, "s").select(
            "query_id", "s", "cid",
            sq_dist(F.col("sub"), F.col("cvec")).alias("pd"),
        )
    j = codes.join(F.broadcast(pd), ["s", "cid"])
    if exclude_self:
        j = j.filter(F.col("vec_id") != F.col("query_id"))
    pivoted = j.groupBy("query_id", F.col("vec_id").alias("neighbor_id")).agg(
        *[F.max(F.when(F.col("s") == i, F.col("pd"))).alias(f"_d{i}")
          for i in range(m)]
    )
    adc = _reduce(lambda a, b: a + b, [F.col(f"_d{i}") for i in range(m)])
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return (
        pivoted.select("query_id", "neighbor_id", adc.alias("adc"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id",
            F.round("adc", 6).alias("adc_dist2"), "rank",
        )
    )

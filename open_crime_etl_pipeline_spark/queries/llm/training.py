"""Training-loop family (§2.11/2.12): logistic GD, quality classifier train→apply, AUC/PR-AUC/calibration evaluation, Naive Bayes, AdaBoost stumps, ALS, OLS, PCA + whitening, k-means steps, bigram-LM scoring, anomaly fences."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...checkpointing import pin
from ...operators import dedup as D
from ...operators import multimodal as M
from ...operators import similarity as S
from ...operators import textstats as TS
from ..core import _t
from ..registry import register


@register(
    "pca_top_component_projection",
    oracle="""
        WITH RECURSIVE flat AS (
            SELECT vec_id, u.i AS i, u.x AS x
            FROM (SELECT vec_id, unnest(embedding) AS x,
                         generate_subscripts(embedding, 1) AS i
                  FROM embeddings) u(vec_id, x, i)
        ), mu AS (
            SELECT i, avg(x) AS m FROM flat GROUP BY i
        ), cent AS MATERIALIZED (
            SELECT f.vec_id, f.i, f.x - mu.m AS x
            FROM flat f JOIN mu USING (i)
        ), cov AS MATERIALIZED (
            SELECT a.i AS i, b.i AS j, sum(a.x * b.x) / (max(cnt.n) - 1) AS c
            FROM cent a JOIN cent b USING (vec_id)
            CROSS JOIN (SELECT count(*) AS n FROM embeddings) cnt
            GROUP BY a.i, b.i
        ), pi AS (
            -- deterministic power iteration, identical to the engine's
            -- driver-side loop: v0 = 1/sqrt(d), 200 matvec+normalize steps
            SELECT 0 AS it, i.i AS i, 1.0 / sqrt(64) AS v
            FROM (SELECT DISTINCT i FROM mu) i
            UNION ALL
            SELECT it + 1, i, w / sqrt(sum(w * w) OVER ()) AS v
            FROM (
                SELECT p.it AS it, cov.i AS i, sum(cov.c * p.v) AS w
                FROM pi p JOIN cov ON cov.j = p.i
                WHERE p.it < 200
                GROUP BY p.it, cov.i
            )
        ), vfin AS (
            SELECT i, v FROM pi WHERE it = 200
        ), sgn AS (
            -- engine's sign convention: first nonzero component positive
            SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS s
            FROM vfin WHERE abs(v) > 1e-12 ORDER BY i LIMIT 1
        ), proj AS (
            SELECT c.vec_id, sum(c.x * vf.v) AS p
            FROM cent c JOIN vfin vf ON vf.i = c.i
            GROUP BY c.vec_id
        )
        SELECT e.vec_id, e.label, round(p.p * sgn.s, 6) AS pc1
        FROM proj p JOIN embeddings e USING (vec_id) CROSS JOIN sgn
    """,
    doc="Distributed PCA, end to end: the covariance matrix reduces "
        "across the cluster as one-pass Gram partials (O(partitions·d²) "
        "shuffle rows, nothing proportional to N — see "
        "embedding_covariance_gram), the d×d result collects to the "
        "driver (2080 rows, N-independent), 200 deterministic power-"
        "iteration steps extract the top eigenvector (O(d²) flops, "
        "driver-local — data-sized work distributed, model-sized work "
        "local), and the component + mean vectors re-enter the plan as "
        "ARRAY LITERALS for a scan-side centered projection (zip_with/"
        "aggregate HOFs, no shuffle, no Python — the broadcast-model-"
        "apply pattern). The iterate after a FIXED 200 steps is a pure "
        "function of the covariance matrix even where the eigengap is "
        "small, so the oracle — covariance by centered self-join, the "
        "SAME 200 matvec+normalize steps as a recursive CTE, the same "
        "first-nonzero-positive sign convention — must reproduce every "
        "per-row projection to 6dp. Embedding-space decorrelation / "
        "whitening is a standard curation preprocessing step (SemDeDup "
        "and friends operate in this space) (§2.11 embeddings/training).",
    tags=("llm", "similarity", "training"),
)
def pca_top_component_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pca_projection_over(_t(spark, sf_dir, "embeddings"))

def pca_projection_over(emb: DataFrame) -> DataFrame:
    """pca_top_component_projection's full pipeline over an arbitrary
    (vec_id, embedding, label) frame — shared with the scale proof
    (``git show a3c7b0a:tools/scale_check_r5b.py``) so it measured
    exactly what the registered query runs."""
    from ...operators import linalg as LA

    cov = LA.covariance_pairs(emb, "embedding", d=64)
    # bounded collect: d(d+1)/2 = 2080 rows regardless of N
    rows = [r.asDict() for r in cov.collect()]
    _, v = LA.power_iteration_top_eig(rows, d=64, iters=200)
    mu = [0.0] * 64
    for r in rows:
        if r["i"] == r["j"]:
            mu[r["i"] - 1] = float(r["mean_i"])
    proj = LA.project_expr("embedding", mu, [float(x) for x in v])
    return emb.select("vec_id", "label", F.round(proj, 6).alias("pc1"))

@register(
    "pca_whitening_top2",
    oracle="""
        WITH RECURSIVE flat AS (
            SELECT vec_id, u.i AS i, u.x AS x
            FROM (SELECT vec_id, unnest(embedding) AS x,
                         generate_subscripts(embedding, 1) AS i
                  FROM embeddings) u(vec_id, x, i)
        ), mu AS (
            SELECT i, avg(x) AS m FROM flat GROUP BY i
        ), cent AS MATERIALIZED (
            SELECT f.vec_id, f.i, f.x - mu.m AS x
            FROM flat f JOIN mu USING (i)
        ), cov AS MATERIALIZED (
            SELECT a.i AS i, b.i AS j, sum(a.x * b.x) / (max(cnt.n) - 1) AS c
            FROM cent a JOIN cent b USING (vec_id)
            CROSS JOIN (SELECT count(*) AS n FROM embeddings) cnt
            GROUP BY a.i, b.i
        ), pi AS (
            SELECT 0 AS it, i.i AS i, 1.0 / sqrt(64) AS v
            FROM (SELECT DISTINCT i FROM mu) i
            UNION ALL
            SELECT it + 1, i, w / sqrt(sum(w * w) OVER ()) AS v
            FROM (
                SELECT p.it AS it, cov.i AS i, sum(cov.c * p.v) AS w
                FROM pi p JOIN cov ON cov.j = p.i
                WHERE p.it < 200
                GROUP BY p.it, cov.i
            )
        ), v1 AS MATERIALIZED (
            SELECT i, v FROM pi WHERE it = 200
        ), lam1 AS (
            -- Rayleigh BEFORE the sign fix (deflation is sign-invariant),
            -- exactly like power_iteration_components
            SELECT sum(va.v * c.c * vb.v) AS l
            FROM cov c JOIN v1 va ON va.i = c.i JOIN v1 vb ON vb.i = c.j
        ), cov2 AS MATERIALIZED (
            -- Hotelling deflation: C2 = C - lam1 * v1 v1^T
            SELECT c.i AS i, c.j AS j, c.c - lam1.l * va.v * vb.v AS c
            FROM cov c JOIN v1 va ON va.i = c.i JOIN v1 vb ON vb.i = c.j
            CROSS JOIN lam1
        ), pi2 AS (
            SELECT 0 AS it, i.i AS i, 1.0 / sqrt(64) AS v
            FROM (SELECT DISTINCT i FROM mu) i
            UNION ALL
            SELECT it + 1, i, w / sqrt(sum(w * w) OVER ()) AS v
            FROM (
                SELECT p.it AS it, cov2.i AS i, sum(cov2.c * p.v) AS w
                FROM pi2 p JOIN cov2 ON cov2.j = p.i
                WHERE p.it < 200
                GROUP BY p.it, cov2.i
            )
        ), v2 AS MATERIALIZED (
            SELECT i, v FROM pi2 WHERE it = 200
        ), lam2 AS (
            SELECT sum(va.v * c.c * vb.v) AS l
            FROM cov2 c JOIN v2 va ON va.i = c.i JOIN v2 vb ON vb.i = c.j
        ), sgn1 AS (
            SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS s
            FROM v1 WHERE abs(v) > 1e-12 ORDER BY i LIMIT 1
        ), sgn2 AS (
            SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS s
            FROM v2 WHERE abs(v) > 1e-12 ORDER BY i LIMIT 1
        ), tr AS (
            SELECT sum(c) AS t FROM cov WHERE i = j
        ), p1 AS (
            SELECT c.vec_id, sum(c.x * v.v) AS p
            FROM cent c JOIN v1 v ON v.i = c.i GROUP BY c.vec_id
        ), p2 AS (
            SELECT c.vec_id, sum(c.x * v.v) AS p
            FROM cent c JOIN v2 v ON v.i = c.i GROUP BY c.vec_id
        )
        SELECT e.vec_id, e.label,
               round(p1.p * sgn1.s / sqrt(lam1.l), 6) AS z1,
               round(p2.p * sgn2.s / sqrt(lam2.l), 6) AS z2,
               round(lam1.l / tr.t, 6) AS evr1,
               round(lam2.l / tr.t, 6) AS evr2
        FROM p1 JOIN p2 USING (vec_id) JOIN embeddings e USING (vec_id)
        CROSS JOIN sgn1 CROSS JOIN sgn2
        CROSS JOIN lam1 CROSS JOIN lam2 CROSS JOIN tr
    """,
    doc="PCA WHITENING to the top-2 subspace — the decorrelate-and-"
        "rescale preprocessing SemDeDup-style embedding curation "
        "assumes: same one-pass Gram reduce as "
        "pca_top_component_projection (d²-row shuffle independent of "
        "N, O(k·d²) driver eigensolve), extended to a SECOND component "
        "by Hotelling deflation (C2 = C − λ1·v1v1ᵀ, sign-invariant "
        "Rayleigh λ taken before the sign pin) and another fixed-200-"
        "step power iteration. Both components + the mean re-enter "
        "the plan as array literals; each whitened coordinate zj = "
        "(x−μ)·vj / √λj is a shuffle-free pinned HOF fold over the "
        "scan, and the explained-variance ratios λj/tr(C) ride along "
        "as literals. A fixed iteration count is a pure function of "
        "the covariance (ulp noise decays toward the same fixpoint), "
        "so the oracle — the SAME deflation and second recursive-CTE "
        "power iteration — must reproduce every 6dp coordinate "
        "(§2.11 embeddings/training).",
    tags=("llm", "embeddings", "training"),
)
def pca_whitening_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ...operators import linalg as LA

    emb = _t(spark, sf_dir, "embeddings")
    cov = LA.covariance_pairs(emb, "embedding", d=64)
    rows = [r.asDict() for r in cov.collect()]  # bounded: d(d+1)/2 rows
    (l1, v1), (l2, v2) = LA.power_iteration_components(
        rows, d=64, n_components=2, iters=200
    )
    diag = {r["i"]: (float(r["cov"]), float(r["mean_i"]))
            for r in rows if r["i"] == r["j"]}
    # index-ordered driver sum: deterministic across runs/partitionings
    trace = sum(c for _, (c, _) in sorted(diag.items()))
    mu = [diag[i + 1][1] for i in range(64)]
    z1 = LA.project_expr("embedding", mu, [float(x) for x in v1]) / math.sqrt(l1)
    z2 = LA.project_expr("embedding", mu, [float(x) for x in v2]) / math.sqrt(l2)
    return emb.select(
        "vec_id", "label",
        F.round(z1, 6).alias("z1"),
        F.round(z2, 6).alias("z2"),
        F.round(F.lit(l1 / trace), 6).alias("evr1"),
        F.round(F.lit(l2 / trace), 6).alias("evr2"),
    )

@register(
    "bigram_lm_logprob_quality",
    oracle="""
        WITH t AS (
            SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
            FROM documents
        ), bigrams AS (
            SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
            FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
        ), bg AS (
            SELECT w1, w2, count(*) AS c2 FROM bigrams GROUP BY w1, w2
        ), ug AS (
            SELECT w1, count(*) AS c1 FROM bigrams GROUP BY w1
        ), vocab AS (
            SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM (
                SELECT unnest(toks) AS tok FROM t
            )
        )
        SELECT b.doc_id,
               count(*) AS n_bigrams,
               round(avg(ln((CAST(bg.c2 AS DOUBLE) + 0.5)
                            / (CAST(ug.c1 AS DOUBLE) + 0.5 * vocab.v))), 6)
                   AS avg_bigram_logprob
        FROM bigrams b
        JOIN bg ON bg.w1 = b.w1 AND bg.w2 = b.w2
        JOIN ug ON ug.w1 = b.w1, vocab
        GROUP BY b.doc_id
    """,
    doc="Bigram language-model quality score — the next step up from "
        "the unigram perplexity proxy: per-document mean "
        "ln P(w_i | w_(i-1)) under add-0.5-smoothed corpus bigram "
        "statistics (alpha-smoothing over the corpus vocabulary V, so "
        "unseen continuations are well-defined). Sequential structure "
        "is what unigram scoring cannot see: shuffled word salad "
        "scores near the unigram bound while natural n-gram order "
        "scores higher. Scale shape: bigram expansion via zipped "
        "array slices (Catalyst HOFs, no UDF), dictionary-sized "
        "bigram/unigram count tables joined back on the bigram key — "
        "shuffles carry (w1, w2) pairs and counts, never documents; "
        "one partial agg per doc. ln() ulp noise absorbed by 6dp "
        "rounding on an O(10) result, same argument as "
        "token_entropy_quality (§2.11 quality).",
    tags=("llm", "text", "quality"),
)
def bigram_lm_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", TS.tokens("text").alias("toks"))
    n = F.size("toks")
    bigrams = (
        toks.filter(n >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("toks", 1, n - 1).alias("w1"),
                    F.slice("toks", 2, n - 1).alias("w2"),
                )
            ).alias("bg"),
        )
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    bg = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    ug = bigrams.groupBy(F.col("w1").alias("u_w1")).agg(F.count("*").alias("c1"))
    vocab = float(
        toks.select(F.explode("toks").alias("tok")).select("tok").distinct().count()
    )
    lp = F.log(
        (F.col("c2").cast("double") + F.lit(0.5))
        / (F.col("c1").cast("double") + F.lit(0.5) * F.lit(vocab))
    )
    return (
        bigrams.join(bg, ["w1", "w2"])
        .join(ug, bigrams["w1"] == F.col("u_w1"))
        .select("doc_id", lp.alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("lp"), 6).alias("avg_bigram_logprob"),
        )
    )

_CLASSIFIER_WEIGHTS = (
    ("spark", "2.50"), ("data", "1.20"), ("slow", "-3.00"),
    ("the", "-0.80"), ("query", "1.70"), ("batch", "0.90"),
)

_CLASSIFIER_BIAS = -0.2

@register(
    "linear_classifier_inference",
    oracle="""
        WITH w(term, wt) AS (VALUES
            ('spark', CAST(2.50 AS DECIMAL(4,2))), ('data', CAST(1.20 AS DECIMAL(4,2))),
            ('slow', CAST(-3.00 AS DECIMAL(4,2))), ('the', CAST(-0.80 AS DECIMAL(4,2))),
            ('query', CAST(1.70 AS DECIMAL(4,2))), ('batch', CAST(0.90 AS DECIMAL(4,2)))
        ), toks AS (
            SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS toks
            FROM documents
        ), dl AS (
            SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks
        ), tf AS (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest(toks) AS term FROM toks)
            GROUP BY doc_id, term
        ), dot AS (
            SELECT tf.doc_id, sum(w.wt * tf.tf) AS dot_dec
            FROM tf JOIN w USING (term) GROUP BY tf.doc_id
        ), z AS (
            SELECT dl.doc_id,
                   -0.2 + coalesce(CAST(dot.dot_dec AS DOUBLE), 0.0) / dl.dl AS z
            FROM dl LEFT JOIN dot ON dl.doc_id = dot.doc_id
        )
        SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS prob,
               1.0 / (1.0 + exp(-z)) > 0.5 AS quality_pass
        FROM z
    """,
    doc="Broadcast-model batch inference: a fasttext-style linear "
        "quality classifier (term weights + bias, features = tf/dl) "
        "scored over every document with a sigmoid. The model is a "
        "6-row broadcast table — the canonical 100 TB inference shape "
        "(model ships to executors; the corpus never moves beyond its "
        "tf groupBy). Weighted dot product accumulates in DECIMAL "
        "(exact, order-independent) and converts to DOUBLE once "
        "before the division/sigmoid, so the cross-engine float "
        "story has no sum-order hazard (the repo's DECIMAL-sum "
        "discipline applied to a model dot product). Docs matching "
        "no model term still score (bias-only) via the left join. "
        "Cf. fastText/CCNet LM quality filtering (§2.11 text).",
    tags=("llm", "text", "inference"),
)
def linear_classifier_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ...localrel import local_df

    weights = local_df(
        spark, [(t, w) for t, w in _CLASSIFIER_WEIGHTS], "term string, wt string"
    ).select("term", F.col("wt").cast("decimal(4,2)").alias("wt"))
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", TS.tokens("text").alias("toks"))
    dl = toks.select("doc_id", F.size("toks").cast("long").alias("dl"))
    tf = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dot = (
        tf.join(F.broadcast(weights), "term")
        .groupBy("doc_id")
        .agg(F.sum(F.col("wt") * F.col("tf")).alias("dot_dec"))
    )
    z = dl.join(dot, "doc_id", "left").select(
        "doc_id",
        (
            F.lit(_CLASSIFIER_BIAS)
            + F.coalesce(F.col("dot_dec").cast("double"), F.lit(0.0)) / F.col("dl")
        ).alias("z"),
    )
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z")))
    return z.select(
        "doc_id", F.round(prob, 6).alias("prob"), (prob > 0.5).alias("quality_pass")
    )

@register(
    "ols_trend_per_source",
    oracle="""
        WITH s AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sx,
                   CAST(sum(n_chars) AS BIGINT) AS sy,
                   CAST(sum(doc_id * n_chars) AS BIGINT) AS sxy,
                   CAST(sum(doc_id * doc_id) AS BIGINT) AS sxx
            FROM documents GROUP BY source
        )
        SELECT source, n,
               round(CAST(n * sxy - sx * sy AS DOUBLE)
                     / (n * sxx - sx * sx), 9) AS slope,
               round((sy - (CAST(n * sxy - sx * sy AS DOUBLE)
                            / (n * sxx - sx * sx)) * sx) / n, 6) AS intercept
        FROM s
    """,
    doc="Grouped OLS (per-source linear trend of document length over "
        "corpus position): closed-form slope/intercept from the five "
        "classic sufficient statistics (n, Σx, Σy, Σxy, Σx²) — ALL "
        "integer-exact, so the only float ops are the two final "
        "divisions and the result is bit-deterministic cross-engine "
        "with no Welford/accumulator divergence (why the oracle states "
        "the closed form rather than DuckDB's regr_slope). One "
        "partial-agg shuffle of 5 longs per (source) group — the "
        "distributed-regression shape that scales to any group count; "
        "per-group state is O(1). §2.11 analytics/monitoring (drift "
        "trend per corpus source).",
    tags=("llm", "analytics", "regression"),
)
def ols_trend_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("doc_id").alias("sx"),
        F.sum("n_chars").alias("sy"),
        F.sum(F.col("doc_id") * F.col("n_chars")).alias("sxy"),
        F.sum(F.col("doc_id") * F.col("doc_id")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num / den
    return s.select(
        "source", "n",
        F.round(slope, 9).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias("intercept"),
    )

def _jl_signs(dim_in: int, j: int) -> list[float]:
    """Deterministic ±1 Achlioptas-style signs for output dim j, derived
    from md5 so the SQL oracle can re-derive the identical matrix with
    its own md5()."""
    import hashlib

    return [
        1.0 if ord(hashlib.md5(f"{i}_{j}".encode()).hexdigest()[0]) % 2 == 0 else -1.0
        for i in range(1, dim_in + 1)
    ]

_JL_DIM_IN = 64

_JL_DIM_OUT = 8

def _jl_oracle() -> str:
    cols = ",\n               ".join(
        f"""round(list_reduce(list_transform(generate_series(1, {_JL_DIM_IN}), i ->
                   CAST(embedding[i] AS DOUBLE) *
                   (CASE WHEN ascii(substr(md5(CAST(i AS VARCHAR) || '_' || '{j}'), 1, 1)) % 2 = 0
                         THEN 1.0 ELSE -1.0 END)), (a, b) -> a + b)
                   / sqrt(8.0), 6) AS p{j}"""
        for j in range(1, _JL_DIM_OUT + 1)
    )
    return f"""
        SELECT vec_id,
               {cols}
        FROM embeddings
    """

@register(
    "jl_random_projection",
    oracle=_jl_oracle(),
    doc="Johnson-Lindenstrauss random projection 64→8: a deterministic "
        "±1 sign matrix (md5-derived, so both engines own the identical "
        "matrix — Spark embeds it as literal arrays, the model-as-"
        "broadcast-constant shape; the oracle re-derives it with SQL "
        "md5) projects every embedding via y_j = Σ x_i·s_ij / √8. Each "
        "dot product is a FIXED-ORDER sequential fold (F.aggregate "
        "from 0.0 ≡ DuckDB list_reduce from x₁ since 0.0+x₁ is exact), "
        "so no float add-order hazard. Pure scan-side map — zero "
        "shuffles, the cheap-ANN preprocessing step (project, then "
        "bucket in 8-d). Cf. Achlioptas database-friendly random "
        "projections; §2.11 embeddings.",
    tags=("llm", "embeddings", "projection"),
)
def jl_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    x = F.col("embedding").cast("array<double>")
    cols = [F.col("vec_id")]
    for j in range(1, _JL_DIM_OUT + 1):
        w = F.array(*[F.lit(s) for s in _jl_signs(_JL_DIM_IN, j)])
        dot = F.aggregate(
            F.zip_with(x, w, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        cols.append(F.round(dot / F.sqrt(F.lit(8.0)), 6).alias(f"p{j}"))
    return emb.select(*cols)

_GD_LR = 0.05

_GD_TERMS = ("spark", "data", "slow")

_GD_ORACLE_CTES = """
        WITH toks AS (
            SELECT doc_id, n_chars,
                   list_filter(string_split(text, ' '), t -> t != '') AS toks
            FROM documents
        ), feat AS (
            SELECT doc_id, CAST(n_chars > 250 AS INT) AS y,
                   CAST(len(list_filter(toks, t -> t = 'spark')) AS BIGINT) AS x1,
                   CAST(len(list_filter(toks, t -> t = 'data')) AS BIGINT) AS x2,
                   CAST(len(list_filter(toks, t -> t = 'slow')) AS BIGINT) AS x3
            FROM toks
        ), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM feat),
        g1 AS (
            -- w=0 => p=0.5 exactly; every contribution is k*0.5, exact in
            -- DECIMAL, so the step-1 gradient is order-independent-exact
            SELECT CAST(sum(CAST((0.5 - y) * x1 AS DECIMAL(38,6))) AS DOUBLE) AS s1,
                   CAST(sum(CAST((0.5 - y) * x2 AS DECIMAL(38,6))) AS DOUBLE) AS s2,
                   CAST(sum(CAST((0.5 - y) * x3 AS DECIMAL(38,6))) AS DOUBLE) AS s3,
                   CAST(sum(CAST(0.5 - y AS DECIMAL(38,6))) AS DOUBLE) AS sb
            FROM feat
        ), w1t AS (
            SELECT -0.05 * s1 / nn.n AS wa, -0.05 * s2 / nn.n AS wb,
                   -0.05 * s3 / nn.n AS wc, -0.05 * sb / nn.n AS bb
            FROM g1, nn
        ), p2 AS (
            SELECT f.y, f.x1, f.x2, f.x3,
                   1.0 / (1.0 + exp(-(((w1t.bb + w1t.wa * f.x1)
                                       + w1t.wb * f.x2) + w1t.wc * f.x3))) AS p
            FROM feat f, w1t
        ), g2 AS (
            -- step-2 contributions are arbitrary doubles; the DECIMAL(38,18)
            -- cast pins each FIXED per-row value once, then the sum is exact
            -- and order-independent (the distributed-agg hazard is the SUM
            -- order, not the per-row value)
            SELECT CAST(sum(CAST((p - y) * x1 AS DECIMAL(38,18))) AS DOUBLE) AS s1,
                   CAST(sum(CAST((p - y) * x2 AS DECIMAL(38,18))) AS DOUBLE) AS s2,
                   CAST(sum(CAST((p - y) * x3 AS DECIMAL(38,18))) AS DOUBLE) AS s3,
                   CAST(sum(CAST(p - y AS DECIMAL(38,18))) AS DOUBLE) AS sb
            FROM p2
        ), w2t AS (
            SELECT w1t.wa - 0.05 * g2.s1 / nn.n AS wa,
                   w1t.wb - 0.05 * g2.s2 / nn.n AS wb,
                   w1t.wc - 0.05 * g2.s3 / nn.n AS wc,
                   w1t.bb - 0.05 * g2.sb / nn.n AS bb
            FROM w1t, g2, nn
        )
"""

@register(
    "logistic_regression_gd_steps",
    oracle=_GD_ORACLE_CTES + """
        SELECT 'bias' AS param, round(bb, 6) AS value FROM w2t
        UNION ALL SELECT 'w_spark', round(wa, 6) FROM w2t
        UNION ALL SELECT 'w_data', round(wb, 6) FROM w2t
        UNION ALL SELECT 'w_slow', round(wc, 6) FROM w2t
    """,
    doc="Distributed model TRAINING, not just inference: two unrolled "
        "batch-gradient-descent steps of logistic regression (lr=0.05, "
        "integer token-count features, label = long-document) with the "
        "canonical Spark training loop — per-step gradients reduce "
        "across the cluster (one partial-agg shuffle of 4 decimal "
        "sums), weights come back to the driver and re-broadcast as "
        "literals into the next step's plan. Determinism: step-1 "
        "contributions are exact halves in DECIMAL; step-2 casts each "
        "fixed per-row double to DECIMAL(38,18) so the distributed sum "
        "is exact and order-independent (the sum ORDER is the "
        "cross-engine hazard, not the per-row values); weight algebra "
        "runs the same IEEE ops in the same order in Python and SQL. "
        "The oracle unrolls both steps in CTEs. At 100 TB this is "
        "exactly mini-batch GD with per-step O(|features|) driver "
        "state (§2.11 training).",
    tags=("llm", "training", "regression"),
)
def logistic_regression_gd_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    return logistic_gd_over(_t(spark, sf_dir, "documents"))

def _gd_features(docs: DataFrame) -> DataFrame:
    """(doc_id, y, x1..x3) training frame: label = long-document,
    features = integer token counts of the three probe terms."""
    # NOT fan_out-guarded (r12): the frame is persisted by its trainer
    # and each consumer is a 4-sum aggregate — measured A/B at sf0.1
    # showed the guard's exchange buys nothing here (wash/noise)
    toks = docs.select("doc_id", "n_chars", TS.tokens("text").alias("toks"))
    return toks.select(
        "doc_id",
        (F.col("n_chars") > 250).cast("int").alias("y"),
        *[
            F.size(F.filter("toks", (lambda term: lambda t: t == term)(term)))
            .cast("long")
            .alias(f"x{i}")
            for i, term in enumerate(_GD_TERMS, 1)
        ],
    )

def logistic_gd_over(docs: DataFrame) -> DataFrame:
    """logistic_regression_gd_steps' full two-step training loop over
    an arbitrary (doc_id, n_chars, text) frame — shared with the
    scale proof (``git show a3c7b0a:tools/scale_check_r5.py``) so it
    measured exactly what the registered query runs."""
    spark = docs.sparkSession
    w2, b2 = _gd_train_params(docs)
    names = ["bias", "w_spark", "w_data", "w_slow"]
    vals = [b2, w2[0], w2[1], w2[2]]
    # F.round (HALF_UP) — not Python round() (banker's) — to match SQL
    from ...localrel import local_df

    return local_df(
        spark, list(zip(names, vals)), "param string, value double"
    ).select("param", F.round("value", 6).alias("value"))

def _gd_train_params(docs: DataFrame, feat: DataFrame | None = None) -> tuple:
    """The two unrolled GD steps; returns (w2 list-of-3, b2) as plain
    Python floats, so apply-side queries can embed the trained model as
    plan literals. The weight algebra runs the same IEEE ops in the
    same order as the SQL oracle's CTEs — the floats are cross-engine
    reproducible (see logistic_regression_gd_steps' doc).

    ``feat``: optionally pass an ALREADY-MATERIALIZED feature frame
    (r12): train-then-apply queries scan the features once for the two
    gradient aggregates AND the scoring pass — without this, the
    tokenize+featurize chain ran once inside the persist here and
    AGAIN for the caller's scoring scan (guide §1.2: don't compute
    things twice). The caller owns the materialization lifetime."""
    own = feat is None
    if own:
        feat = _gd_features(docs).persist()
    try:
        row = feat.agg(
            F.count("*").alias("n"),
            *[
                F.sum(((F.lit(0.5) - F.col("y")) * F.col(f"x{i}"))
                      .cast("decimal(38,6)")).alias(f"s{i}")
                for i in range(1, 4)
            ],
            F.sum((F.lit(0.5) - F.col("y")).cast("decimal(38,6)")).alias("sb"),
        ).collect()[0]
        n = float(row["n"])
        w = [-_GD_LR * float(row[f"s{i}"]) / n for i in range(1, 4)]
        b = -_GD_LR * float(row["sb"]) / n
        z = (
            (F.lit(b) + F.lit(w[0]) * F.col("x1"))
            + F.lit(w[1]) * F.col("x2")
        ) + F.lit(w[2]) * F.col("x3")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        row2 = feat.select("y", "x1", "x2", "x3", p.alias("p")).agg(
            *[
                F.sum(((F.col("p") - F.col("y")) * F.col(f"x{i}"))
                      .cast("decimal(38,18)")).alias(f"s{i}")
                for i in range(1, 4)
            ],
            F.sum((F.col("p") - F.col("y")).cast("decimal(38,18)")).alias("sb"),
        ).collect()[0]
        w2 = [w[i] - _GD_LR * float(row2[f"s{i+1}"]) / n for i in range(3)]
        b2 = b - _GD_LR * float(row2["sb"]) / n
    finally:
        if own:
            feat.unpersist()
    return w2, b2

@register(
    "quality_classifier_train_apply",
    oracle=_GD_ORACLE_CTES + """
        SELECT f.doc_id AS doc_id,
               CAST(f.y AS INT) AS label_long_doc,
               round(1.0 / (1.0 + exp(-(((w2t.bb + w2t.wa * f.x1)
                     + w2t.wb * f.x2) + w2t.wc * f.x3))), 6) AS quality_p,
               (1.0 / (1.0 + exp(-(((w2t.bb + w2t.wa * f.x1)
                     + w2t.wb * f.x2) + w2t.wc * f.x3)))) >= 0.5 AS keep
        FROM feat f, w2t
    """,
    doc="The quality-filter training LOOP closed end to end (the "
        "fineweb/CCNet curation shape): train the logistic model with "
        "the two distributed GD steps of logistic_regression_gd_steps "
        "(per-step gradient = one partial-agg shuffle of 4 decimal "
        "sums), then re-broadcast the trained weights as plan LITERALS "
        "and score EVERY document scan-side — sigmoid over the same "
        "token-count features, keep = p ≥ 0.5. Train and apply read "
        "the same feature frame; apply is shuffle-free (model state is "
        "O(|features|) driver constants, the broadcast-model-apply "
        "pattern that scales to 100 TB corpora unchanged). The oracle "
        "appends a per-document scoring SELECT to the SAME weight CTEs "
        "the training oracle uses, so every per-doc probability (6dp) "
        "and keep decision must match across engines — differentially "
        "testing exp() parity and the pinned IEEE weight algebra "
        "(§2.11 training/quality).",
    tags=("llm", "training", "quality"),
)
def quality_classifier_train_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # r12: one featurize pass shared by train + apply (see
    # classifier_auc_calibration); values unchanged
    feat = pin(_gd_features(docs))
    w, b = _gd_train_params(docs, feat=feat)
    # identical association order to the oracle's scoring expression
    z = (
        (F.lit(b) + F.lit(w[0]) * F.col("x1"))
        + F.lit(w[1]) * F.col("x2")
    ) + F.lit(w[2]) * F.col("x3")
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return feat.select(
        "doc_id",
        F.col("y").cast("int").alias("label_long_doc"),
        F.round(p, 6).alias("quality_p"),
        (p >= F.lit(0.5)).alias("keep"),
    )

@register(
    "classifier_auc_calibration",
    oracle=_GD_ORACLE_CTES + """
        , scored AS (
            SELECT CAST(f.y AS BIGINT) AS y,
                   1.0 / (1.0 + exp(-(((w2t.bb + w2t.wa * f.x1)
                         + w2t.wb * f.x2) + w2t.wc * f.x3))) AS p
            FROM feat f, w2t
        ), d AS (
            SELECT p, CAST(sum(y) AS BIGINT) AS np,
                   CAST(count(*) - sum(y) AS BIGINT) AS nn
            FROM scored GROUP BY p
        ), tot AS (
            SELECT CAST(sum(np) AS DOUBLE) AS pp,
                   CAST(sum(nn) AS DOUBLE) AS qq
            FROM d
        ), dw AS (
            SELECT p, np, nn,
                   coalesce(sum(nn) OVER (ORDER BY p
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS cneg_below,
                   sum(np) OVER (ORDER BY p DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cpos_ge,
                   sum(nn) OVER (ORDER BY p DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cneg_ge
            FROM d
        ), aucs AS (
            SELECT CAST(sum(CAST(np * (cneg_below + nn / 2.0)
                                 AS DECIMAL(38,6))) AS DOUBLE)
                       / (t.pp * t.qq) AS roc_auc,
                   CAST(sum(CAST((np / t.pp)
                                 * (cpos_ge / CAST(cpos_ge + cneg_ge AS DOUBLE))
                                 AS DECIMAL(38,18))) AS DOUBLE) AS pr_auc
            FROM dw, tot t GROUP BY t.pp, t.qq
        ), bins AS (
            -- derived from the distinct-score table, not the corpus:
            -- sum over n equal copies of cast(p, scale 18) == cast(p)*n
            -- exactly, so the bin stats need no row-level pass
            SELECT CAST(least(floor(p * 10), 9) AS INT) AS bin,
                   CAST(sum(np + nn) AS BIGINT) AS n_docs,
                   CAST(sum(CAST(p AS DECIMAL(19,18))
                            * CAST(np + nn AS DECIMAL(10,0))) AS DOUBLE)
                       / CAST(sum(np + nn) AS BIGINT) AS avg_p,
                   CAST(sum(np) AS DOUBLE)
                       / CAST(sum(np + nn) AS BIGINT) AS frac_pos
            FROM d GROUP BY 1
        )
        SELECT b.bin, b.n_docs, round(b.avg_p, 6) AS avg_p,
               round(b.frac_pos, 6) AS frac_pos,
               round(a.roc_auc, 6) AS roc_auc, round(a.pr_auc, 6) AS pr_auc
        FROM bins b, aucs a
    """,
    doc="Distributed evaluation for the classifier train→apply loop — "
        "the missing third leg (any real curation pipeline "
        "threshold-tunes its quality filter): exact ROC-AUC, exact "
        "PR-AUC (average precision), and 10-bucket reliability/ "
        "calibration bins over the quality classifier's scores, one "
        "output row per bin with the scalar AUCs repeated. "
        "ROC-AUC is the sort-free rank statistic: group the N scored "
        "rows by score ONCE (partial-agg shuffle; the full corpus is "
        "never sorted), then AUC = sum(np_i*(negs_below_i + nn_i/2)) "
        "/ (P*N) over the DISTINCT-score table — exact tie handling "
        "(ties count 1/2) with integer/half-integer terms, so the "
        "distributed sum is exact in any order. PR-AUC sums "
        "delta-recall*precision over distinct thresholds descending; "
        "each term is a fixed double cast to DECIMAL(38,18) so the "
        "cross-engine sum is order-independent (the GD-gradient "
        "discipline). The ordered pass runs over DISTINCT scores only "
        "— here the feature-vector cardinality, and at 100 TB scores "
        "quantize into the same bin machinery first, keeping the "
        "windowed table bounded. The corpus is touched ONCE: the "
        "distinct-score table is checkpointed and AUC, PR-AUC, totals "
        "and the calibration bins (bin = floor(10p), n/avg-score/"
        "empirical-positive-rate) all derive from it — per-bin "
        "avg-score stays DECIMAL-exact as cast(p)*n product sums "
        "(§2.11 training/quality).",
    tags=("llm", "training", "quality", "evaluation"),
)
def classifier_auc_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:

    docs = _t(spark, sf_dir, "documents")
    # r12: featurize ONCE (pin) and share the frame between the two GD
    # gradient aggregates and the scoring pass — the tokenize+filter
    # chain previously ran twice (once under the trainer's persist,
    # once for this scoring scan). Values unchanged: same frame, same
    # arithmetic (guide §1.2).
    feat = pin(_gd_features(docs))
    w, b = _gd_train_params(docs, feat=feat)
    # identical association order to the oracle's scoring expression
    z = (
        (F.lit(b) + F.lit(w[0]) * F.col("x1"))
        + F.lit(w[1]) * F.col("x2")
    ) + F.lit(w[2]) * F.col("x3")
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    scored = feat.select(F.col("y").cast("long").alias("y"), p.alias("p"))
    return auc_calibration_over(scored)

def auc_calibration_over(scored: DataFrame) -> DataFrame:
    """classifier_auc_calibration's metric engine over any (y in {0,1}
    long, p double) frame — factored out so the rank-statistic math is
    unit-testable against hand-computed AUC/AP values (ties included);
    see the registered query's doc for the scale/determinism design.

    ONE corpus pass: the (score, n_pos, n_neg) distinct-score table is
    materialized once (localCheckpoint — it is feature-cardinality-
    sized, not corpus-sized) and AUC, PR-AUC, totals AND the
    calibration bins all derive from it; the un-refactored form
    re-scanned and re-featurized the corpus three times per run
    (.explain showed 3 parquet scans). avg-score-per-bin stays
    DECIMAL-exact without row-level data: sum over n equal copies of
    cast(p as DECIMAL(19,18)) == cast(p) * n exactly (the cast rounds
    once at scale 18; multiplying by an integer within 38-digit
    headroom is exact), and both engines state the identical
    product-sum.

    Scale: the cumulative pos/neg counts ride
    :func:`operators.ranking.global_running_sums` (two-pass range-
    partition prefix sums), NOT an unpartitioned window — a continuous-
    score classifier makes the distinct-score table corpus-sized, and
    ``sum() OVER (ORDER BY p)`` would funnel it through ONE task.
    Scores are distinct after the groupBy, so the order is total; the
    ge-side cumulatives derive from the ascending inclusive sums and
    the already-collected class totals (sp - cum_np + np), so one
    window pass serves both directions."""
    from ...operators.ranking import global_running_sums

    d = scored.groupBy("p").agg(
        F.sum("y").alias("np"),
        (F.count(F.lit(1)) - F.sum("y")).alias("nn"),
    ).localCheckpoint(eager=True)
    # r13: the class totals ride the prefix-sum pass's own
    # per-partition sums (with_totals — the same zero-extra-jobs
    # device the weighted-percentile threshold table uses), replacing
    # the separate d.agg(...).first() job the r12 form ran before the
    # ranking pass. The both-classes guard is unchanged — it still
    # raises during query construction, before any result is handed
    # back (AUC is undefined without both classes; pp*qq = 0 would
    # silently emit NaN into every row).
    cum, _totals = global_running_sums(
        d, ["p"], {"cum_np": "np", "cum_nn": "nn"}, with_totals=True
    )
    sp, sn = int(_totals["cum_np"]), int(_totals["cum_nn"])
    if not sp or not sn:
        raise ValueError(
            f"AUC needs both classes: positives={sp}, negatives={sn}"
        )
    dw = cum.select(
        "p", "np", "nn",
        (F.col("cum_nn") - F.col("nn")).alias("cneg_below"),
        (F.lit(sp).cast("long") - F.col("cum_np") + F.col("np")).alias("cpos_ge"),
        (F.lit(sn).cast("long") - F.col("cum_nn") + F.col("nn")).alias("cneg_ge"),
    )
    pp, qq = F.lit(float(sp)), F.lit(float(sn))
    aucs = dw.agg(
        (
            F.sum(
                (F.col("np") * (F.col("cneg_below") + F.col("nn") / F.lit(2.0)))
                .cast("decimal(38,6)")
            ).cast("double")
            / (pp * qq)
        ).alias("roc_auc"),
        F.sum(
            (
                (F.col("np") / pp)
                * (
                    F.col("cpos_ge")
                    / (F.col("cpos_ge") + F.col("cneg_ge")).cast("double")
                )
            ).cast("decimal(38,18)")
        ).cast("double").alias("pr_auc"),
    )
    n_rows = F.sum(F.col("np") + F.col("nn"))
    bins = d.groupBy(
        F.least(F.floor(F.col("p") * 10), F.lit(9)).cast("int").alias("bin")
    ).agg(
        n_rows.alias("n_docs"),
        (
            F.sum(
                F.col("p").cast("decimal(19,18)")
                * (F.col("np") + F.col("nn")).cast("decimal(10,0)")
            ).cast("double")
            / n_rows
        ).alias("avg_p"),
        (F.sum("np").cast("double") / n_rows).alias("frac_pos"),
    )
    return bins.crossJoin(F.broadcast(aucs)).select(
        "bin", "n_docs",
        F.round("avg_p", 6).alias("avg_p"),
        F.round("frac_pos", 6).alias("frac_pos"),
        F.round("roc_auc", 6).alias("roc_auc"),
        F.round("pr_auc", 6).alias("pr_auc"),
    )

_ALS_TYPES = ("click", "error", "purchase", "signup", "view")

def _als_item_factors() -> list[list[float]]:
    """Fixed 3-dim item factors for the 5 event types — exact dyadic
    rationals, so V, V^T V and V^T r are all exact in double."""
    return [
        [1.0 + 0.25 * t, 0.5 - 0.25 * (t % 2), 0.125 * t]
        for t in range(len(_ALS_TYPES))
    ]

def _als_ainv() -> list[list[float]]:
    """(V^T V + 0.5 I)^{-1} via the closed-form 3x3 inverse. The nine
    doubles are embedded as repr() literals in BOTH the Spark plan and
    the SQL oracle, so the two engines share the identical matrix."""
    V = _als_item_factors()
    A = [[sum(V[t][i] * V[t][j] for t in range(len(V))) + (0.5 if i == j else 0.0)
          for j in range(3)] for i in range(3)]
    (a, b, c), (d, e, f), (g, h, i) = A
    det = a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)
    cof = [
        [e * i - f * h, c * h - b * i, b * f - c * e],
        [f * g - d * i, a * i - c * g, c * d - a * f],
        [d * h - e * g, b * g - a * h, a * e - b * d],
    ]
    return [[cof[r][s] / det for s in range(3)] for r in range(3)]

def _als_oracle() -> str:
    V = _als_item_factors()
    inv = _als_ainv()
    counts = ", ".join(
        f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS c{k}"
        for k, t in enumerate(_ALS_TYPES)
    )
    bs = ",\n                   ".join(
        "("
        + " + ".join(f"c{t} * {V[t][j]!r}" for t in range(len(_ALS_TYPES)))
        + f") AS b{j}"
        for j in range(3)
    )
    us = ",\n               ".join(
        f"round(({inv[i][0]!r} * b0 + {inv[i][1]!r} * b1 + {inv[i][2]!r} * b2), 6)"
        f" AS f{i + 1}"
        for i in range(3)
    )
    return f"""
        WITH r AS (
            SELECT user_id, {counts}
            FROM events GROUP BY user_id
        ), b AS (
            SELECT user_id,
                   {bs}
            FROM r
        )
        SELECT user_id,
               {us}
        FROM b
    """

@register(
    "als_user_factors_update",
    oracle=_als_oracle(),
    doc="One ALS half-step of a recommender (user-factor ridge update "
        "against fixed item factors): with V (5 event-type items x 3 "
        "dims, exact dyadic literals) held fixed, every user's factors "
        "solve (V'V + lambda*I) u = V' r_u in closed form. The normal "
        "matrix inverse is computed ONCE and broadcast as nine shared "
        "literals (repr-roundtripped into both the Spark plan and the "
        "SQL oracle); the distributed work is exactly one partial-agg "
        "shuffle of 5 per-user counts — the canonical ALS data "
        "movement (ratings shuffle once per half-step, the small "
        "side's Gram matrix rides the closure). Per-user arithmetic "
        "is fixed-order over exact integers and dyadic rationals, so "
        "factors are bit-deterministic. Cf. Hu-Koren-Volinsky "
        "implicit-feedback ALS; SURVEY.md 2.11 training.",
    tags=("llm", "training", "recommender"),
)
def als_user_factors_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    V = _als_item_factors()
    inv = _als_ainv()
    ev = _t(spark, sf_dir, "events")
    r = ev.groupBy("user_id").agg(
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("long")
            .alias(f"c{k}")
            for k, t in enumerate(_ALS_TYPES)
        ]
    )
    def bj(j):
        expr = F.col("c0") * F.lit(V[0][j])
        for t in range(1, len(_ALS_TYPES)):
            expr = expr + F.col(f"c{t}") * F.lit(V[t][j])
        return expr
    b = r.select("user_id", *[bj(j).alias(f"b{j}") for j in range(3)])
    return b.select(
        "user_id",
        *[
            F.round(
                F.lit(inv[i][0]) * F.col("b0")
                + F.lit(inv[i][1]) * F.col("b1")
                + F.lit(inv[i][2]) * F.col("b2"),
                6,
            ).alias(f"f{i + 1}")
            for i in range(3)
        ],
    )

@register(
    "mad_anomaly_lengths",
    oracle="""
        WITH corpus AS (
            SELECT doc_id, source, n_chars FROM documents
            UNION ALL
            SELECT doc_id + 100000 AS doc_id, source, n_chars * 6 AS n_chars
            FROM documents WHERE doc_id % 7 = 0
        ), med AS (
            SELECT source, median(n_chars) AS med FROM corpus GROUP BY source
        ), dev AS (
            SELECT c.source, abs(c.n_chars - m.med) AS dev
            FROM corpus c JOIN med m USING (source)
        ), mad AS (
            SELECT source, median(dev) AS mad FROM dev GROUP BY source
        )
        SELECT c.source, CAST(count(*) AS BIGINT) AS n_docs,
               round(any_value(m.med), 6) AS med,
               round(any_value(a.mad), 6) AS mad,
               CAST(sum(CASE WHEN abs(c.n_chars - m.med) > 3 * a.mad
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
        FROM corpus c JOIN med m USING (source) JOIN mad a USING (source)
        GROUP BY c.source
    """,
    doc="Robust anomaly detection (median/MAD, the outlier-resistant "
        "dual of z-scores): per-source exact median doc length, median "
        "absolute deviation, and the count of 3-MAD outliers — over a "
        "corpus with planted 6x-length outliers (doc_id % 7, coprime "
        "with the source count so every source gets some). Exact "
        "interpolated percentiles agree cross-engine (established by "
        "iqr_outlier_length_filter's quartile pins); the med/mad "
        "tables are |sources|-sized and broadcast back onto the row "
        "stream — two grouped-percentile shuffles of (source, value) "
        "pairs total, the same robust-statistics shape at any scale. "
        "MAD flags the planted tail that a mean/stddev fence would "
        "drag toward itself (cf. Leys et al. on MAD vs stddev; "
        "SURVEY.md 2.11 quality/monitoring).",
    tags=("llm", "quality", "robust-stats"),
)
def mad_anomaly_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    planted = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        "source",
        (F.col("n_chars") * 6).alias("n_chars"),
    )
    corpus = docs.unionByName(planted)
    med = corpus.groupBy("source").agg(
        F.percentile("n_chars", F.lit(0.5)).alias("med")
    )
    dev = corpus.join(F.broadcast(med), "source").withColumn(
        "dev", F.abs(F.col("n_chars") - F.col("med"))
    )
    mad = dev.groupBy("source").agg(F.percentile("dev", F.lit(0.5)).alias("mad"))
    return (
        corpus.join(F.broadcast(med), "source")
        .join(F.broadcast(mad), "source")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.any_value("med"), 6).alias("med"),
            F.round(F.any_value("mad"), 6).alias("mad"),
            F.sum(
                F.when(
                    F.abs(F.col("n_chars") - F.col("med")) > 3 * F.col("mad"), 1
                ).otherwise(0)
            ).cast("long").alias("n_anomalies"),
        )
    )

@register(
    "naive_bayes_train_apply",
    oracle="""
        WITH tok AS (
            SELECT doc_id, lang,
                   unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term
            FROM documents
        ), tf AS (
            SELECT doc_id, lang, term, count(*) AS tf FROM tok GROUP BY 1, 2, 3
        ), cls AS (
            SELECT DISTINCT lang AS cls FROM documents
        ), pri AS (
            SELECT lang AS cls, count(*) AS n_docs FROM documents GROUP BY 1
        ), tot AS (
            SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
        ), cwc AS (
            SELECT term, lang AS cls, count(*) AS c FROM tok GROUP BY 1, 2
        ), tokc AS (
            SELECT lang AS cls, CAST(count(*) AS DOUBLE) AS tc FROM tok GROUP BY 1
        ), voc AS (
            SELECT CAST(count(DISTINCT term) AS DOUBLE) AS v FROM tok
        ), sc AS (
            SELECT tf.doc_id, tf.lang, cls.cls,
                   (ln(CAST(pri.n_docs AS DOUBLE) / tot.n)
                    + sum(tf.tf * ln((CAST(COALESCE(cwc.c, 0) AS DOUBLE) + 0.5)
                                     / (tokc.tc + 0.5 * voc.v))))
                   / sum(tf.tf) AS score
            FROM tf
            CROSS JOIN cls
            LEFT JOIN cwc ON cwc.term = tf.term AND cwc.cls = cls.cls
            JOIN tokc ON tokc.cls = cls.cls
            JOIN pri ON pri.cls = cls.cls, voc, tot
            GROUP BY tf.doc_id, tf.lang, cls.cls, pri.n_docs, tot.n, voc.v
        ), r AS (
            SELECT doc_id, lang, cls, round(score, 6) AS score,
                   row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY round(score, 6) DESC, cls
                   ) AS rn
            FROM sc
        )
        SELECT doc_id, lang, cls AS pred_lang, score,
               (lang = cls) AS correct
        FROM r WHERE rn = 1
    """,
    doc="Multinomial Naive Bayes language classifier, trained AND "
        "applied entirely as DataFrame aggregations — zero driver "
        "state, the complement of logistic_regression_gd_steps (which "
        "collects a gradient vector per step). Train: class priors, "
        "add-0.5-smoothed token likelihoods P(w|c), corpus vocabulary "
        "size. Apply: per-(doc, class) mean token log-likelihood plus "
        "length-normalized log prior; argmax over the 6dp-rounded "
        "score (class-name tiebreak) predicts the language. Scale "
        "shape: the model IS a (vocab x classes) count table joined "
        "back on the token key — shuffles carry dictionary keys and "
        "per-doc partials, never the corpus; class constants ride "
        "5-row/1-row broadcasts. Length normalization (divide by doc "
        "token count) keeps the score O(10) so 6dp rounding absorbs "
        "cross-engine ln/summation ulps — the bigram_lm_logprob_quality "
        "argument — and leaves the per-doc argmax unchanged "
        "(SURVEY.md 2.12 training [EXT]; cf. Spark MLlib NaiveBayes, "
        "re-expressed as pure relational algebra). Honesty note: the "
        "synthetic testdata draws text and lang independently, so "
        "accuracy here sits at the majority prior — the oracle checks "
        "the posterior math; the planted separable-vocabulary unit "
        "test checks that the operator actually learns.",
    tags=("llm", "training", "classifier"),
)
def naive_bayes_train_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _naive_bayes_predict(_t(spark, sf_dir, "documents"))

def _naive_bayes_predict(docs: DataFrame, alpha: float = 0.5) -> DataFrame:
    """Train-and-apply multinomial NB over ``docs`` (doc_id, lang,
    text): returns (doc_id, lang, pred_lang, score, correct) with one
    row per tokenizable document. ``alpha`` is the Laplace/Lidstone
    smoothing mass (exposed for the scale tool's replication trick:
    an r-times-replicated corpus scored with alpha*r reproduces the
    base corpus' scores exactly, since (rc+ra)/(rt+raV)=(c+a)/(t+aV))."""
    from pyspark.sql import Window

    # NOT fan_out-guarded (r12): measured A/B at sf0.1 — the tokenize
    # explode here is cheap relative to the extra round-robin exchange,
    # and the eager checkpoint bounds the single-split cost to one pass
    # (2.1s -> 3.3s WITH the guard; reverted)
    # (r12 wave 4: pinning the AGGREGATED tf frame instead — so cwc/
    # tokc/voc sum tf rows rather than re-scanning token instances —
    # was tried and REVERTED: interleaved A/B at sf0.1 measured 2.43 ->
    # 2.82s median. The tok pin is a map-only materialization, while a
    # tf pin blocks on the groupBy shuffle before anything else can
    # start, and the three stat aggregates over the pinned instance
    # table partial-aggregate map-side anyway.)
    tok = docs.select(
        "doc_id", "lang", F.explode(TS.tokens("text")).alias("term")
    ).localCheckpoint(eager=True)  # 4 downstream branches, one tokenize
    tf = tok.groupBy("doc_id", "lang", "term").agg(F.count(F.lit(1)).alias("tf"))
    # one docs scan feeds all three class-constant sides: classes and
    # the doc total are derived from the |classes|-row prior table
    pri = docs.groupBy(F.col("lang").alias("cls")).agg(
        F.count(F.lit(1)).alias("n_docs")
    ).localCheckpoint(eager=True)
    classes = pri.select("cls")
    tot = pri.agg(F.sum("n_docs").cast("double").alias("n_total"))
    cwc = tok.groupBy("term", F.col("lang").alias("cls")).agg(
        F.count(F.lit(1)).alias("c")
    )
    tokc = tok.groupBy(F.col("lang").alias("cls")).agg(
        F.count(F.lit(1)).cast("double").alias("tc")
    )
    voc = tok.agg(F.count_distinct("term").cast("double").alias("v"))
    # pack the per-term class counts into ONE map row per term, join tf
    # on the token key, and fan out to the 5 classes AFTER the join —
    # the dictionary-keyed shuffle carries tf rows, not tf x classes
    # (measured 5x fewer shuffle records at the 100x-replica point,
    # where the estimated cwc side outgrows the broadcast threshold and
    # the join goes SMJ); absent (w, c) pairs fall back to the
    # smoothing floor via the map-miss null -> coalesce(0)
    cmap = cwc.groupBy("term").agg(
        F.map_from_entries(F.collect_list(F.struct("cls", "c"))).alias("cmap")
    )
    j = (
        tf.join(cmap, "term")
        .crossJoin(F.broadcast(classes))
        .join(F.broadcast(tokc), "cls")
        .crossJoin(F.broadcast(voc))
    )
    ll = F.col("tf") * F.log(
        (
            F.coalesce(F.element_at("cmap", F.col("cls")), F.lit(0)).cast("double")
            + F.lit(alpha)
        )
        / (F.col("tc") + F.lit(alpha) * F.col("v"))
    )
    sc = (
        j.groupBy("doc_id", "lang", "cls")
        .agg(F.sum(ll).alias("sll"), F.sum("tf").alias("n"))
        .join(F.broadcast(pri), "cls")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "lang",
            "cls",
            F.round(
                (F.log(F.col("n_docs").cast("double") / F.col("n_total"))
                 + F.col("sll"))
                / F.col("n"),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "cls")
    return (
        sc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "lang",
            F.col("cls").alias("pred_lang"),
            "score",
            (F.col("lang") == F.col("cls")).alias("correct"),
        )
    )

_ADA_ORACLE_ROUND = """
        , e{r} AS (
            SELECT c.f, c.t, c.s,
                   sum(CASE WHEN (CASE WHEN (CASE c.f WHEN 1 THEN w.x1
                                             WHEN 2 THEN w.x2
                                             ELSE w.x3 END) > c.t
                                  THEN c.s ELSE -c.s END) != w.y
                            THEN w.w ELSE 0 END) AS e,
                   sum(w.w) AS tot
            FROM w{r} w CROSS JOIN cands c GROUP BY c.f, c.t, c.s
        ), b{r} AS (
            SELECT f, t, s, e, tot FROM e{r} ORDER BY e, f, t, s LIMIT 1
        ), w{n} AS (
            SELECT w.doc_id, w.y, w.x1, w.x2, w.x3,
                   w.w * (CASE WHEN (CASE WHEN (CASE b.f WHEN 1 THEN w.x1
                                                WHEN 2 THEN w.x2
                                                ELSE w.x3 END) > b.t
                                     THEN b.s ELSE -b.s END) = w.y
                          THEN b.e ELSE b.tot - b.e END) AS w
            FROM w{r} w, b{r} b
        )
"""

_ADA_ORACLE_OUT = """
            SELECT {r} AS round,
                   CASE f WHEN 1 THEN 'spark' WHEN 2 THEN 'data'
                          ELSE 'slow' END AS feature,
                   t AS threshold, s AS sign,
                   CAST(e AS BIGINT) AS err_num,
                   CAST(tot AS BIGINT) AS total_weight,
                   round(0.5 * ln(CAST(tot - e AS DOUBLE) / e), 6) AS alpha
            FROM b{r}
"""

@register(
    "adaboost_stumps_train",
    oracle="""
        WITH feat AS (
            SELECT doc_id,
                   CASE WHEN n_chars > 250 THEN 1 ELSE -1 END AS y,
                   CAST(len(list_filter(toks, x -> x = 'spark')) AS BIGINT) AS x1,
                   CAST(len(list_filter(toks, x -> x = 'data')) AS BIGINT) AS x2,
                   CAST(len(list_filter(toks, x -> x = 'slow')) AS BIGINT) AS x3
            FROM (SELECT doc_id, n_chars,
                         list_filter(string_split(text, ' '), x -> x != '') AS toks
                  FROM documents)
        ), cands AS (
            SELECT f, t, s
            FROM (VALUES (1), (2), (3)) ff(f),
                 (VALUES (0), (1), (2), (3)) tt(t),
                 (VALUES (1), (-1)) ss(s)
        ), w1 AS (
            SELECT doc_id, y, x1, x2, x3, CAST(1 AS HUGEINT) AS w FROM feat
        )"""
    + _ADA_ORACLE_ROUND.format(r=1, n=2)
    + _ADA_ORACLE_ROUND.format(r=2, n=3)
    + _ADA_ORACLE_ROUND.format(r=3, n=4)
    + _ADA_ORACLE_OUT.format(r=1)
    + " UNION ALL "
    + _ADA_ORACLE_OUT.format(r=2)
    + " UNION ALL "
    + _ADA_ORACLE_OUT.format(r=3),
    doc="AdaBoost over decision stumps, 3 unrolled boosting rounds — "
        "the sequential-reweighting training loop (Freund & Schapire "
        "'97) the GD/ALS/OLS family lacks. The integer-weight "
        "formulation makes it oracle-exact: weights start at 1 and "
        "update multiplicatively (correct x E, misclassified x (T-E), "
        "where E/T is the round's weighted error) — the SAME weight "
        "ratio trajectory as the canonical exp(+-alpha) update but in "
        "pure 64-bit-safe integer arithmetic, so every candidate "
        "stump's weighted error is an EXACT integer, the argmin is "
        "deterministic (tie-break feature/threshold/sign), and the "
        "one float in the output (alpha = ln((T-E)/E)/2) divides two "
        "exact integers identically cross-engine. Scale shape: each "
        "round is one partial-agg shuffle of 24 candidate sums (the "
        "24-stump grid rides a broadcast literal; the feature table "
        "never moves), the argmin collect is O(1), and the reweight is "
        "a scan-side projection behind a per-round eager checkpoint — "
        "the bpe_multi_merge_rounds iteration discipline. After each "
        "round the chosen stump's error under the NEW weights is "
        "exactly total/2 (the AdaBoost orthogonality invariant, "
        "asserted in pytest). Weights ride DECIMAL(38,0) — the integer "
        "products outgrow 2^63 by round 3 at sf0.1, and 38 exact "
        "digits cover k=3 with two orders to spare on both engines "
        "(SURVEY.md 2.12 training [EXT]).",
    tags=("llm", "training", "boosting"),
)
def adaboost_stumps_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    rounds = _adaboost_train(_ada_features(docs), k=3)
    from ...localrel import local_df

    out = local_df(
        spark, rounds,
        "round int, feature string, threshold int, sign int, "
        "err_num long, total_weight long, alpha double",
    )
    # F.round (HALF_UP) — not Python round() (banker's) — to match SQL
    return out.select(
        "round", "feature", "threshold", "sign", "err_num", "total_weight",
        F.round("alpha", 6).alias("alpha"),
    )

def _ada_features(docs: DataFrame) -> DataFrame:
    """(doc_id, y in {-1,+1}, x1..x3 integer probe-term counts) — the
    long-document label over the _GD_TERMS count features."""
    # NOT fan_out-guarded (r12): the boosting loop pins this frame once
    # and the three token filters are cheap — measured A/B at sf0.1 the
    # guard's extra exchange cost more than it parallelized (2.5s ->
    # 2.8s WITH the guard; reverted)
    toks = docs.select("doc_id", "n_chars", TS.tokens("text").alias("toks"))
    return toks.select(
        "doc_id",
        F.when(F.col("n_chars") > 250, 1).otherwise(-1).alias("y"),
        *[
            F.size(F.filter("toks", (lambda term: lambda t: t == term)(term)))
            .cast("long")
            .alias(f"x{i}")
            for i, term in enumerate(_GD_TERMS, 1)
        ],
    )

def _ada_x(f: int):
    return F.col(f"x{f}")  # f is a compile-time-constant feature index

def _adaboost_train(feat: DataFrame, k: int = 3) -> list:
    """Integer-weight AdaBoost loop. Returns one (round, feature_name,
    threshold, sign, err_num, total_weight, alpha) tuple per round;
    raises if a stump is perfect (E=0) or anti-perfect (E=T), where
    the multiplicative integer update degenerates (alpha infinite).

    r12 single-pass shape: each round is ONE keyless aggregate over the
    pinned feature frame computing all 24 candidate stumps' weighted
    errors as conditional sums (plus the weight total) — the previous
    form crossJoined the 24-stump grid into a x24 row expansion, paid a
    groupBy shuffle per round, and eagerly pinned an N-row DECIMAL
    weight frame per round. The weights are now a literal-product
    EXPRESSION over the pinned features (the chosen stumps are driver
    constants), so the reweight costs zero jobs and the argmin moves to
    the driver over 24 integers (same (e, f, t, s) ascending tie-break
    as the old orderBy). Guide §2.3/§2.4: aggregate before you shuffle;
    remove shuffles outright. Interleaved A/B at sf0.1: wall-NEUTRAL
    (3.73 vs 3.74s medians — the old groupBy partial-aggregated
    map-side, so its shuffle was already tiny); kept for the
    structural shape: 3 jobs instead of ~7, no x24 row expansion, no
    N-row DECIMAL weight materialization per round. Values identical."""
    import math

    cands = [(f, t, s) for f in (1, 2, 3) for t in (0, 1, 2, 3) for s in (1, -1)]
    feat = pin(feat)
    # DECIMAL(38,0) weights: integer products of per-round factors grow
    # past 2^63 by round 3 at sf0.1 (w <= prod T_r), and decimal keeps
    # them exact to 38 digits on both engines (DuckDB sums to HUGEINT)
    w_expr = F.lit(1).cast("decimal(38,0)")
    out = []
    for r in range(1, k + 1):
        aggs = []
        for f, t, s in cands:
            h = F.when(_ada_x(f) > F.lit(t), F.lit(s)).otherwise(F.lit(-s))
            aggs.append(
                F.sum(F.when(h != F.col("y"), w_expr).otherwise(F.lit(0)))
                .cast("decimal(38,0)").alias(f"e_{f}_{t}_{s}")
            )
        aggs.append(F.sum(w_expr).cast("decimal(38,0)").alias("tot"))
        row = feat.agg(*aggs).collect()[0]
        # argmin with the same total order as the old orderBy("e","f",
        # "t","s"): plain ascending tuple comparison on exact integers
        e_num, bf, bt, bs = min(
            (int(row[f"e_{f}_{t}_{s}"]), f, t, s) for f, t, s in cands
        )
        tot = int(row["tot"])
        best = {"f": bf, "t": bt, "s": bs}
        # The output schema carries err_num/total_weight as BIGINT while
        # the training loop keeps weights in DECIMAL(38,0) precisely
        # because the multiplicative products outgrow 2^63 (by round 3
        # at sf0.1 the WEIGHTS do; the emitted per-round SUMS stay well
        # under int64 for k<=3 on this corpus). Guard the narrowing
        # explicitly instead of letting createDataFrame overflow later:
        if tot >= 2**63:
            raise OverflowError(
                f"round {r}: total_weight {tot} exceeds int64 — the "
                "BIGINT output schema only has headroom for k<=3 rounds "
                "at this corpus size; widen the output to decimal(38,0) "
                "before raising k"
            )
        if not 0 < e_num < tot:
            raise ValueError(
                f"round {r}: stump error {e_num}/{tot} is degenerate — "
                "integer AdaBoost needs 0 < E < T (alpha would be infinite)"
            )
        out.append(
            (
                r, _GD_TERMS[best["f"] - 1], best["t"], best["s"],
                e_num, tot, 0.5 * math.log((tot - e_num) / e_num),
            )
        )
        if r == k:
            break  # the final round's reweight is never consumed
        hb = F.when(
            _ada_x(best["f"]) > F.lit(best["t"]), F.lit(best["s"])
        ).otherwise(F.lit(-best["s"]))
        w_expr = (
            F.when(hb == F.col("y"), w_expr * F.lit(e_num)).otherwise(
                w_expr * F.lit(tot - e_num)
            ).cast("decimal(38,0)")
        )
    return out


# This module was split out of the former monolithic queries/llm.py (round 6);
# registry names and semantics are unchanged. Reference citations live in the
# individual docstrings.

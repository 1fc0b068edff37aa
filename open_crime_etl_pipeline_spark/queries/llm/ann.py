"""Similarity-search / embedding family (§2.11): exact & LSH/IVF/IVF-k-means‖ cosine top-k, PQ+ADC, IVF-PQ residual index, centroids, hard negatives, SemDeDup, JL projection, embedding stats/standardize/quantize."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...localrel import local_df
from ...operators import dedup as D
from ...operators import multimodal as M
from ...operators import similarity as S
from ...operators import textstats as TS
from ..core import _t
from ..registry import register

from .common import _ID_SHIFT  # noqa: F401


@register(
    "cosine_topk_exact",
    oracle="""
        WITH q AS (
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
            FROM embeddings WHERE vec_id < 5
        ), scored AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   list_dot_product(q.qvec, e.embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(q.qvec, q.qvec)) *
                    sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS raw_sim
            FROM q, embeddings e
            WHERE e.vec_id != q.query_id
        )
        SELECT query_id, neighbor_id, round(raw_sim, 6) AS sim, rank
        FROM (
            SELECT query_id, neighbor_id, raw_sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY raw_sim DESC, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= 5
    """,
    doc="Exact brute-force cosine top-k ANN baseline: broadcast queries, HOF dot product, ranked (§2.11).",
    tags=("llm", "similarity"),
)
def cosine_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return S.cosine_topk(emb, queries, k=5)

_ANN_TWIN_ORACLE = """
        SELECT vec_id AS query_id,
               vec_id + 100000 AS top1_neighbor_id,
               1.0 AS top1_sim,
               CAST(5 AS BIGINT) AS n_results
        FROM embeddings WHERE vec_id < 5
"""

def _ann_twin_certificate(emb: DataFrame, ann_fn) -> DataFrame:
    queries = emb.filter(F.col("vec_id") < 5)
    twins = queries.select(
        (F.col("vec_id") + _ID_SHIFT).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.000001)).alias("embedding"),
        "label",
    )
    topk = ann_fn(emb.unionByName(twins), queries)
    top1 = topk.filter(F.col("rank") == 1).select(
        "query_id",
        F.col("neighbor_id").alias("top1_neighbor_id"),
        F.col("sim").alias("top1_sim"),
    )
    counts = topk.groupBy("query_id").agg(F.count("*").alias("n_results"))
    return top1.join(counts, "query_id")

@register(
    "cosine_topk_lsh",
    oracle=_ANN_TWIN_ORACLE,
    doc="LSH-bucketed approximate top-k (random hyperplanes, multi-probe) — "
        "the 100 TB scale path (§2.11), driver-checked via the planted-twin "
        "retrieval certificate (see _ann_twin_certificate).",
    tags=("llm", "similarity", "lsh"),
)
def cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return _ann_twin_certificate(
        emb,
        lambda corpus, queries: S.cosine_topk_lsh(
            corpus, queries, dim=64, k=5, n_planes=4, n_tables=8
        ),
    )

@register(
    "embedding_norm_stats",
    oracle="""
        SELECT label,
               count(*) AS n_vectors,
               round(min(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS min_norm,
               round(max(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS max_norm
        FROM embeddings
        GROUP BY label
    """,
    doc="Vector-norm profile per label — array HOF math under aggregation (§2.11).",
    tags=("llm", "similarity"),
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    norm = S.l2_norm(S.as_double_array("embedding"))
    return emb.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.round(F.min(norm), 6).alias("min_norm"),
        F.round(F.max(norm), 6).alias("max_norm"),
    )

@register(
    "embedding_near_dup_lsh",
    oracle="""
        SELECT vec_id AS id_a,
               vec_id + 100000 AS id_b,
               1.0 AS sim
        FROM embeddings
    """,
    doc="Embedding-cosine near-duplicate pairs via hyperplane-LSH self-join "
        "(§2.11). Deterministically oracle-checkable: the planted ×1.000001 "
        "copies share every hyperplane sign bit with their originals (same "
        "bucket by construction, cosine 1.0), and no natural pair in the "
        "corpus clears the 0.99 threshold (verified at sf0.001/0.01/0.1) — "
        "so the result IS exactly the planted-pair table. A broken bucket "
        "join loses pairs; a loosened threshold admits extras; either "
        "flips the hash.",
    tags=("llm", "similarity", "dedup"),
)
def embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    # duplicate a shifted copy so the operator has true near-dups to find
    noisy = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.000001)).alias("embedding"),
        "label",
    )
    return S.embedding_near_dup_pairs(
        emb.unionByName(noisy), dim=64, threshold=0.99, n_planes=6
    )

@register(
    "cosine_topk_ivf",
    oracle=_ANN_TWIN_ORACLE,
    doc="IVF approximate top-k: deterministic centroid seeding, inverted-list "
        "bucketing, n_probe nearest clusters per query (§2.11 scale path); "
        "driver-checked via the planted-twin retrieval certificate.",
    tags=("llm", "similarity", "ivf"),
)
def cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return _ann_twin_certificate(
        emb,
        lambda corpus, queries: S.cosine_topk_ivf(
            corpus, queries, k=5, n_clusters=8, n_probe=4
        ),
    )

@register(
    "cosine_topk_ivf_kmeanspp",
    oracle=_ANN_TWIN_ORACLE,
    doc="IVF top-k with k-means|| centroids (Bahmani init + distributed Lloyd "
        "refinement): balanced inverted lists bound the per-probe scan "
        "fraction, the property hash seeding cannot guarantee (§2.11 scale "
        "path); driver-checked via the planted-twin retrieval certificate.",
    tags=("llm", "similarity", "ivf", "kmeans"),
)
def cosine_topk_ivf_kmeanspp(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return _ann_twin_certificate(
        emb,
        lambda corpus, queries: S.cosine_topk_ivf(
            corpus, queries, k=5, n_clusters=8, n_probe=4, centroid_init="kmeans||"
        ),
    )

@register(
    "embedding_standardize_by_label",
    oracle="""
        WITH comp AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v,
                   unnest(embedding::DOUBLE[]) AS x
            FROM embeddings
        ), stats AS (
            SELECT label, avg(x) AS mu,
                   -- population std to match numpy's default ddof=0
                   sqrt(avg(x * x) - avg(x) * avg(x)) AS sd
            FROM comp GROUP BY label
        )
        , ex AS (
            SELECT vec_id, label,
                   CAST(generate_subscripts(embedding::DOUBLE[], 1) - 1 AS INT) AS idx,
                   unnest(embedding::DOUBLE[]) AS x
            FROM embeddings
        )
        SELECT ex.vec_id, ex.label, ex.idx,
               round((ex.x - s.mu)
                     / (CASE WHEN s.sd = 0 THEN 1.0 ELSE s.sd END), 6) AS val
        FROM ex JOIN stats s ON ex.label = s.label
    """,
    doc="applyInPandas grouped-map: per-label embedding standardization, "
        "numpy kernel checked value-by-value against window SQL (§2.10). "
        "Output exploded to scalar rows — array columns don't hash "
        "portably across engines.",
    tags=("llm", "similarity", "udf"),
)
def embedding_standardize_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    std = S.standardize_by_group(emb)
    return std.select(
        "vec_id", "label", F.posexplode("std_embedding").alias("idx", "val")
    )

@register(
    "embedding_quantize_int8",
    oracle="""
        WITH e AS (
            SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
            FROM embeddings
        ), s AS (
            SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e
        )
        SELECT vec_id,
               CAST(i - 1 AS INT) AS pos,
               CAST(round((v[i] - mn)
                          / (CASE WHEN mx > mn THEN mx - mn ELSE 1.0 END) * 255)
                    AS INT) AS q,
               round(mn, 6) AS scale_min,
               round(mx, 6) AS scale_max
        FROM s, unnest(range(1, len(v) + 1)) AS g(i)
    """,
    doc="Per-vector min/max uint8 scalar quantization (4x vector compression "
        "for ANN index shipping), posexploded to scalar rows for the oracle "
        "(arrays hash differently across engines; §2.11 similarity).",
    tags=("llm", "similarity", "quantize"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = S.quantize_int8(emb, "vec_id", "embedding")
    return q.select(
        "vec_id",
        F.posexplode("qvec").alias("pos", "q"),
        F.round("scale_min", 6).alias("scale_min"),
        F.round("scale_max", 6).alias("scale_max"),
    )

_PQ_M, _PQ_DSUB, _PQ_K0 = 8, 8, 16
# collect_codebook rows as a frame: (subspace, centroid id, centroid)
_CODEBOOK_DDL = "s INT, cid BIGINT, cvec ARRAY<DOUBLE>"

_PQ_SUB_LIST = "[" + ", ".join(
    f"CAST(embedding[t.s * {_PQ_DSUB} + {i}] AS DOUBLE)" for i in range(1, _PQ_DSUB + 1)
) + "]"

def _pq_d2_sql(a: str, b: str) -> str:
    return " + ".join(
        f"({a}[{i}] - {b}[{i}]) * ({a}[{i}] - {b}[{i}])"
        for i in range(1, _PQ_DSUB + 1)
    )

_PQ_ADC_CHAIN = " + ".join(
    f"max(CASE WHEN p.s = {i} THEN p.pd END)" for i in range(_PQ_M)
)

_PQ_ORACLE = f"""
        WITH sub AS (
            SELECT vec_id, t.s AS s, {_PQ_SUB_LIST} AS sub
            FROM embeddings,
                 (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s) t
        ), cb0 AS (
            SELECT s, vec_id AS cid, sub AS cvec FROM sub WHERE vec_id < {_PQ_K0}
        ), a0 AS (
            SELECT vec_id, s, cid, sub FROM (
                SELECT a.vec_id, a.s, c.cid, a.sub,
                       row_number() OVER (
                           PARTITION BY a.vec_id, a.s
                           ORDER BY {_pq_d2_sql('a.sub', 'c.cvec')} ASC, c.cid ASC
                       ) AS rk
                FROM sub a JOIN cb0 c ON c.s = a.s
            ) WHERE rk = 1
        ), mean_cells AS (
            SELECT s, cid, k.pos AS pos, round(avg(sub[k.pos]), 6) AS mval
            FROM a0, (SELECT unnest(generate_series(1, {_PQ_DSUB})) AS pos) k
            GROUP BY s, cid, k.pos
        ), cb1 AS MATERIALIZED (
            SELECT s, cid, list(mval ORDER BY pos) AS cvec
            FROM mean_cells GROUP BY s, cid
        ), codes AS (
            SELECT vec_id, s, cid FROM (
                SELECT a.vec_id, a.s, c.cid,
                       row_number() OVER (
                           PARTITION BY a.vec_id, a.s
                           ORDER BY {_pq_d2_sql('a.sub', 'c.cvec')} ASC, c.cid ASC
                       ) AS rk
                FROM sub a JOIN cb1 c ON c.s = a.s
            ) WHERE rk = 1
        ), pd AS (
            SELECT q.vec_id AS query_id, c.s, c.cid,
                   {_pq_d2_sql('q.sub', 'c.cvec')} AS pd
            FROM sub q JOIN cb1 c ON c.s = q.s
            WHERE q.vec_id < 5
        ), adc AS (
            SELECT p.query_id, x.vec_id AS neighbor_id, {_PQ_ADC_CHAIN} AS adc
            FROM codes x JOIN pd p ON p.s = x.s AND p.cid = x.cid
            WHERE x.vec_id != p.query_id
            GROUP BY p.query_id, x.vec_id
        )
        SELECT query_id, neighbor_id, round(adc, 6) AS adc_dist2, rank
        FROM (
            SELECT query_id, neighbor_id, adc,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY adc ASC, neighbor_id ASC) AS rank
            FROM adc
        ) WHERE rank <= 5
"""

@register(
    "pq_adc_topk",
    oracle=_PQ_ORACLE,
    doc="Product quantization + asymmetric-distance search (Jégou et "
        "al., TPAMI 2011) — the vector-COMPRESSION half of the ANN "
        "surface that scalar int8 (embedding_quantize_int8) lacks: "
        "d=64 vectors split into m=8 sub-vectors, each Lloyd-quantized "
        "against a per-subspace k=16 codebook (init = sub-vectors of "
        "the 16 smallest vec_ids, one refinement round), so the corpus "
        "stores 8 small codes per vector (32x smaller than float32). "
        "Query-time ADC never decodes: a broadcast |Q|*m*k exact "
        "distance table + m lookups per candidate, summed by an "
        "explicit fixed-order pivot chain. Scale shape: training/"
        "encode shuffle O(N*m) best-code rows (argmin is a map-side "
        "struct-min partial agg under a broadcast codebook), search "
        "scans codes only — nothing query-dependent shuffles the "
        "corpus. The oracle replays the IDENTICAL algorithm (left-"
        "assoc distance chains bit-equal to the engine's pinned HOF "
        "folds, 6dp Lloyd means, cid tie-breaks) so every ADC "
        "distance and rank must match exactly; recall vs exact L2 and "
        "Lloyd SSE-monotonicity are pytest-asserted (§2.11 "
        "similarity/quantize).",
    tags=("llm", "similarity", "quantize"),
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return pq_adc_over(emb)

def pq_adc_over(emb: DataFrame) -> DataFrame:
    """pq_adc_topk's full pipeline over an arbitrary (vec_id,
    embedding) frame — shared with the scale tool so the proof
    measures exactly what the registered query runs.

    r13 shape (guide §2.4): the trained codebook is O(m·k) model
    state, so it crosses the driver ONCE (collect_codebook) and comes
    back as a LOCAL RELATION — its two consumers (the encode join's
    broadcast and the ADC distance table) build their broadcasts
    straight from driver memory instead of each running a
    collect-the-checkpoint job against the r12
    ``localCheckpoint()``'d frame. subs stays un-pinned (r12 revert
    kept: scan+slice is cheaper to recompute than to materialize)."""
    subs = S.pq_subvectors(emb, "vec_id", "embedding", m=_PQ_M, dsub=_PQ_DSUB)
    init = subs.filter(F.col("vec_id") < _PQ_K0).select(
        "s", F.col("vec_id").alias("cid"), F.col("sub").alias("cvec")
    )
    cb_rows = S.collect_codebook(
        S.pq_train_codebook(subs, init, rounds=1, dsub=_PQ_DSUB)
    )
    cb = local_df(emb.sparkSession, cb_rows, _CODEBOOK_DDL)
    codes = S.pq_assign(subs, cb).select("vec_id", "s", "cid")
    # the ADC lookup table is O(|Q|·m·k) query-side model state:
    # computed driver-side (bit-equal pinned fold, S.py_sq_dist) from
    # the collected query vectors and handed back through local_df, so
    # its broadcast builds from driver memory with no scan+join+fold job.
    qrows = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 5)
        .select("vec_id", "embedding").collect()
    ]
    pd = local_df(
        emb.sparkSession,
        S.adc_pd_rows(qrows, cb_rows, m=_PQ_M, dsub=_PQ_DSUB),
        "query_id bigint, s int, cid bigint, pd double",
    )
    return S.pq_adc_topk(codes, cb, None, m=_PQ_M, k=5, precomputed_pd=pd)

_IVF_KC, _IVF_NPROBE = 8, 2

_IVFPQ_FULL_LIST = "[" + ", ".join(
    f"CAST(embedding[{k}] AS DOUBLE)" for k in range(1, 65)
) + "]"

_IVFPQ_RESID_LIST = lambda a, c: "[" + ", ".join(  # noqa: E731
    f"{a}.fv[{k}] - {c}.cv[{k}]" for k in range(1, 65)
) + "]"

_IVFPQ_RSUB_LIST = "[" + ", ".join(
    f"rv[t.s * {_PQ_DSUB} + {i}]" for i in range(1, _PQ_DSUB + 1)
) + "]"

def _d2_chain_sql(a: str, b: str, n: int) -> str:
    return " + ".join(
        f"({a}[{i}] - {b}[{i}]) * ({a}[{i}] - {b}[{i}])" for i in range(1, n + 1)
    )

_IVFPQ_ORACLE = f"""
        WITH fvec AS (
            SELECT vec_id, {_IVFPQ_FULL_LIST} AS fv FROM embeddings
        ), ccb0 AS (
            SELECT vec_id AS cid, fv AS cv FROM fvec WHERE vec_id < {_IVF_KC}
        ), ca0 AS (
            SELECT vec_id, cid, fv FROM (
                SELECT a.vec_id, c.cid, a.fv,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY {_d2_chain_sql('a.fv', 'c.cv', 64)} ASC, c.cid ASC
                       ) AS rk
                FROM fvec a, ccb0 c
            ) WHERE rk = 1
        ), cmean AS (
            SELECT cid, k.pos AS pos, round(avg(fv[k.pos]), 6) AS mval
            FROM ca0, (SELECT unnest(generate_series(1, 64)) AS pos) k
            GROUP BY cid, k.pos
        ), ccb1 AS MATERIALIZED (
            SELECT cid, list(mval ORDER BY pos) AS cv FROM cmean GROUP BY cid
        ), ca1 AS (
            SELECT vec_id, cid AS ccid, fv FROM (
                SELECT a.vec_id, c.cid, a.fv,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY {_d2_chain_sql('a.fv', 'c.cv', 64)} ASC, c.cid ASC
                       ) AS rk
                FROM fvec a, ccb1 c
            ) WHERE rk = 1
        ), resid AS MATERIALIZED (
            SELECT a.vec_id, a.ccid, {_IVFPQ_RESID_LIST('a', 'c')} AS rv
            FROM ca1 a JOIN ccb1 c ON c.cid = a.ccid
        ), rsub AS (
            SELECT vec_id, ccid, t.s AS s, {_IVFPQ_RSUB_LIST} AS sub
            FROM resid, (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s) t
        ), rcb0 AS (
            SELECT s, vec_id AS cid, sub AS cvec FROM rsub WHERE vec_id < {_PQ_K0}
        ), ra0 AS (
            SELECT vec_id, s, cid, sub FROM (
                SELECT a.vec_id, a.s, c.cid, a.sub,
                       row_number() OVER (
                           PARTITION BY a.vec_id, a.s
                           ORDER BY {_d2_chain_sql('a.sub', 'c.cvec', _PQ_DSUB)} ASC, c.cid ASC
                       ) AS rk
                FROM rsub a JOIN rcb0 c ON c.s = a.s
            ) WHERE rk = 1
        ), rmean AS (
            SELECT s, cid, k.pos AS pos, round(avg(sub[k.pos]), 6) AS mval
            FROM ra0, (SELECT unnest(generate_series(1, {_PQ_DSUB})) AS pos) k
            GROUP BY s, cid, k.pos
        ), rcb1 AS MATERIALIZED (
            SELECT s, cid, list(mval ORDER BY pos) AS cvec
            FROM rmean GROUP BY s, cid
        ), codes AS (
            SELECT vec_id, ccid, s, cid FROM (
                SELECT a.vec_id, a.ccid, a.s, c.cid,
                       row_number() OVER (
                           PARTITION BY a.vec_id, a.s
                           ORDER BY {_d2_chain_sql('a.sub', 'c.cvec', _PQ_DSUB)} ASC, c.cid ASC
                       ) AS rk
                FROM rsub a JOIN rcb1 c ON c.s = a.s
            ) WHERE rk = 1
        ), probes AS (
            SELECT query_id, ccid FROM (
                SELECT a.vec_id AS query_id, c.cid AS ccid,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY {_d2_chain_sql('a.fv', 'c.cv', 64)} ASC, c.cid ASC
                       ) AS pr
                FROM fvec a, ccb1 c WHERE a.vec_id < 5
            ) WHERE pr <= {_IVF_NPROBE}
        ), qres AS (
            SELECT p.query_id, p.ccid, {_IVFPQ_RESID_LIST('q', 'c')} AS rv
            FROM probes p
            JOIN fvec q ON q.vec_id = p.query_id
            JOIN ccb1 c ON c.cid = p.ccid
        ), qrsub AS (
            SELECT query_id, ccid, t.s AS s, {_IVFPQ_RSUB_LIST} AS sub
            FROM qres, (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s) t
        ), pd AS (
            SELECT q.query_id, q.ccid, c.s, c.cid,
                   {_d2_chain_sql('q.sub', 'c.cvec', _PQ_DSUB)} AS pd
            FROM qrsub q JOIN rcb1 c ON c.s = q.s
        ), adc AS (
            SELECT p.query_id, x.vec_id AS neighbor_id, {_PQ_ADC_CHAIN} AS adc
            FROM codes x
            JOIN pd p ON p.ccid = x.ccid AND p.s = x.s AND p.cid = x.cid
            WHERE x.vec_id != p.query_id
            GROUP BY p.query_id, x.vec_id
        )
        SELECT query_id, neighbor_id, round(adc, 6) AS adc_dist2, rank
        FROM (
            SELECT query_id, neighbor_id, adc,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY adc ASC, neighbor_id ASC) AS rank
            FROM adc
        ) WHERE rank <= 5
"""

@register(
    "ivfpq_residual_adc_topk",
    oracle=_IVFPQ_ORACLE,
    doc="The full IVF-PQ index (the FAISS IVFADC shape every "
        "billion-vector store runs): a kc=8 coarse quantizer — the "
        "SAME PQ machinery with one 64-dim subspace — partitions the "
        "corpus into cells, each vector stores only its cell id plus "
        "8 residual PQ codes (r = x − cell_centroid, a scan-side "
        "zip_with), and a query probes its nprobe=2 nearest cells, "
        "scoring ONLY those cells' codes against a per-(query, cell) "
        "residual ADC lookup table. Scale shape: the probe predicate "
        "is an equi-join on ccid — the index prunes 1−nprobe/kc of "
        "the corpus BEFORE any distance work, on top of pq_adc_topk's "
        "properties (broadcast codebooks, O(N·m) code shuffles, "
        "pivot-chain ADC, corpus never shuffles on the query). The "
        "oracle replays the identical two-level algorithm (64-term "
        "and 8-term left-assoc distance chains bit-equal to the "
        "pinned HOF folds, 6dp Lloyd means, cid tie-breaks), so every "
        "ADC distance and rank must match exactly; cell-pruning "
        "candidate accounting is pytest-asserted (§2.11 similarity/"
        "quantize).",
    tags=("llm", "similarity", "quantize"),
)
def ivfpq_residual_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivfpq_adc_over(_t(spark, sf_dir, "embeddings"))

def ivfpq_adc_over(
    emb: DataFrame, k: int = 5, exclude_self: bool = True
) -> DataFrame:
    """ivfpq_residual_adc_topk's full two-level pipeline over an
    arbitrary (vec_id, embedding) frame — shared with the scale tool
    so the proof measures exactly what the registered query runs.

    r13 shape (guide §2.4; round-12 verdict item 1):

    - The trained COARSE codebook (kc=8 × 64 doubles) is driver-held
      model state; the cell assignment becomes a scan-side literal
      argmin (S.inline_nearest_single — no broadcast join, no argmin
      groupBy shuffle) and the centroid lookup a CASE over kc literal
      arrays. The whole residual chain (assign → subtract → slice →
      posexplode) is therefore MAP-ONLY: the r12 emb⋈cass⋈cells join
      pipeline, its per-assign shuffles, and the O(N·m)
      ``rsubs.localCheckpoint`` (the verdict's flagged regression)
      all disappear — consumers re-run one cheap columnar scan each.
    - The RESIDUAL codebook (m·k = 128 rows) keeps the join-based
      :func:`pq_assign` (a literal m×k expression tree measured
      strictly worse — seconds of Column-build + interpreted eval;
      r13 measured-revert note) but crosses the driver once and comes
      back as a LOCAL RELATION, so its broadcasts build from driver
      memory with no collect-the-checkpoint jobs.

    Values bit-identical (same sq_dist folds, same (d2, cid)
    tie-breaks, same 6dp means — the oracle replays them)."""
    from functools import reduce as _reduce

    from pyspark.sql import Window

    full = S.pq_subvectors(emb, "vec_id", "embedding", m=1, dsub=64)
    cinit = full.filter(F.col("vec_id") < _IVF_KC).select(
        "s", F.col("vec_id").alias("cid"), F.col("sub").alias("cvec")
    )
    ccb_rows = S.collect_codebook(
        S.pq_train_codebook(full, cinit, rounds=1, dsub=64)
    )
    # all literal expressions below are SQL TEXT parsed with one
    # F.expr each — the Column-DSL form of the same trees costs
    # thousands of py4j round-trips (measured ~3.5s of driver time
    # per query construction; r13)
    _cell_sql = {cid: S.sql_arr(cvec) for _, cid, cvec in ccb_rows}

    def _cell_arr_sql(cid_sql: str) -> str:
        # centroid lookup as a CASE over the kc literal arrays
        return (
            "CASE "
            + " ".join(
                f"WHEN {cid_sql} = CAST({cid} AS BIGINT) THEN {arr}"
                for cid, arr in _cell_sql.items()
            )
            + " END"
        )

    fv = S.as_double_array("embedding")
    # fan_out BEFORE the scan-side assign: the residual chain is now
    # map-only, so every consumer's scan stage would otherwise run the
    # interpreted coarse+residual distance folds SERIALLY on the
    # single parquet split (profiled: 0.5-1.5s single-task stages).
    # The round-robin exchange moves the narrow raw rows once per
    # consumer — cheap — and is a no-op at scale (guide §2.5; the r12
    # revert of this guard applied to the old JOIN-pipeline
    # formulation, where the exchange fed re-executed joins).
    from ...partitioning import fan_out

    assigned = fan_out(emb.select("vec_id", fv.alias("fv"))).select(
        "vec_id", "fv",
        S.inline_nearest_single(ccb_rows, sub_col="fv")["cid"].alias("ccid"),
    )
    resid = assigned.select(
        "vec_id", "ccid",
        F.expr(
            f"zip_with(fv, {_cell_arr_sql('ccid')}, (x, c) -> x - c)"
        ).alias("rvec"),
    )
    rslices = F.array(*[
        F.slice("rvec", s * _PQ_DSUB + 1, _PQ_DSUB) for s in range(_PQ_M)
    ])
    rsubs = resid.select(
        "vec_id", "ccid", F.posexplode(rslices).alias("s", "sub")
    )
    rinit = rsubs.filter(F.col("vec_id") < _PQ_K0).select(
        "s", F.col("vec_id").alias("cid"), F.col("sub").alias("cvec")
    )
    rcb_rows = S.collect_codebook(
        S.pq_train_codebook(rsubs, rinit, rounds=1, dsub=_PQ_DSUB)
    )
    rcb = local_df(emb.sparkSession, rcb_rows, _CODEBOOK_DDL)
    codes = S.pq_assign(rsubs, rcb, carry_cols=("ccid",)).select(
        "vec_id", "ccid", "s", "cid"
    )
    # ENTIRE query side driver-side (r13): probes, query residuals and
    # the per-(query, cell) ADC table are O(|Q|·nprobe·m·k) model
    # state — constant in corpus size — so they are computed in Python
    # from the collected query vectors with the bit-equal pinned fold
    # (S.py_sq_dist; probe order = sorted (d2, ccid) ascending, the
    # same ordering the r12 row_number window and the interim
    # array_sort both used) and handed back through local_df. The
    # scan-side qcells/qres/pdist subtree and its broadcast-build job
    # are gone; the final job is one codes scan against a
    # driver-built broadcast.
    qrows = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 5)
        .select("vec_id", "embedding").collect()
    ]
    _cell_vec = {cid: cvec for _, cid, cvec in ccb_rows}
    _rcb_by_s: dict[int, list] = {}
    for s_, cid_, cvec_ in rcb_rows:
        _rcb_by_s.setdefault(s_, []).append((cid_, cvec_))
    pdist_rows = []
    for qid, v in qrows:
        near = sorted(
            (S.py_sq_dist(v, cvec), cid) for cid, cvec in _cell_vec.items()
        )[:_IVF_NPROBE]
        for _d2, ccid in near:
            qrv = [x - c for x, c in zip(v, _cell_vec[ccid])]
            for s_ in range(_PQ_M):
                sub = qrv[s_ * _PQ_DSUB:(s_ + 1) * _PQ_DSUB]
                for cid_, cvec_ in _rcb_by_s.get(s_, []):
                    pdist_rows.append(
                        (qid, ccid, s_, cid_, S.py_sq_dist(sub, cvec_))
                    )
    pdist = local_df(
        emb.sparkSession, pdist_rows,
        "query_id bigint, ccid bigint, s int, cid bigint, pd double",
    )
    j = codes.join(F.broadcast(pdist), ["ccid", "s", "cid"])
    if exclude_self:
        j = j.filter(F.col("vec_id") != F.col("query_id"))
    pivoted = j.groupBy("query_id", F.col("vec_id").alias("neighbor_id")).agg(
        *[F.max(F.when(F.col("s") == i, F.col("pd"))).alias(f"_d{i}")
          for i in range(_PQ_M)]
    )
    adc = _reduce(lambda a, b: a + b, [F.col(f"_d{i}") for i in range(_PQ_M)])
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

@register(
    "embedding_covariance_gram",
    oracle="""
        WITH pos AS (
            SELECT vec_id, CAST(t.i AS INT) AS i,
                   CAST(embedding[CAST(t.i AS INT)] AS DOUBLE) AS x
            FROM embeddings, unnest(range(1, 9)) AS t(i)
        )
        SELECT p1.i AS i, p2.i AS j,
               round(covar_samp(p1.x, p2.x) * 1000, 6) AS cov_k
        FROM pos p1 JOIN pos p2 USING (vec_id)
        WHERE p1.i <= p2.i
        GROUP BY p1.i, p2.i
    """,
    doc="Distributed covariance via one-pass Gram partials: each "
        "partition computes its XᵀX + column sums with a single numpy "
        "matmul (Arrow-batched map-side combine), one groupBy merges "
        "O(partitions · d²) tiny rows — nothing proportional to N ever "
        "shuffles or hits the driver, the exact shape corr/covar use "
        "internally generalized to all pairs at once. Output here is "
        "the 8×8 leading block (36 upper-triangle pairs, ×1000, 6dp) "
        "checked against DuckDB's covar_samp; the full 64×64 feeds the "
        "driver-side power-iteration eigensolver (O(d²), N-independent) "
        "pinned against numpy in pytest (§2.11 embeddings).",
    tags=("llm", "similarity", "stats"),
)
def embedding_covariance_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ...operators import linalg as LA

    emb = _t(spark, sf_dir, "embeddings")
    cov = LA.covariance_pairs(emb, "embedding", d=64)
    return cov.filter((F.col("i") <= 8) & (F.col("j") <= 8)).select(
        "i", "j", F.round(F.col("cov") * 1000, 6).alias("cov_k")
    )

@register(
    "knn_label_classification",
    oracle="""
        WITH q AS (
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec,
                   label AS true_label
            FROM embeddings WHERE vec_id < 20
        ), scored AS (
            SELECT q.query_id, e.vec_id AS neighbor_id, e.label,
                   list_dot_product(q.qvec, e.embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(q.qvec, q.qvec)) *
                    sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS raw_sim
            FROM q, embeddings e
            WHERE e.vec_id != q.query_id
        ), topk AS (
            SELECT query_id, neighbor_id, label FROM (
                SELECT query_id, neighbor_id, label,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY raw_sim DESC, neighbor_id) AS rank
                FROM scored
            ) WHERE rank <= 10
        ), votes AS (
            SELECT query_id, label, count(*) AS c
            FROM topk GROUP BY query_id, label
        ), best AS (
            SELECT query_id, label AS predicted_label, c,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY c DESC, label) AS rn
            FROM votes
        )
        SELECT b.query_id, b.predicted_label,
               CAST(b.c AS BIGINT) AS vote_count,
               q.true_label,
               (b.predicted_label = q.true_label) AS correct
        FROM best b JOIN q ON q.query_id = b.query_id
        WHERE b.rn = 1
    """,
    doc="kNN label classification — the similarity-search family "
        "applied to an actual task: each of 20 query vectors is "
        "classified by majority label among its 10 nearest cosine "
        "neighbors (self excluded; ties break count-desc then "
        "label-asc, a total order). Reuses the exact cosine top-k "
        "operator (broadcast queries, HOF dot products in double — "
        "bit-identical to DuckDB's list_dot_product fold, the same "
        "determinism argument as cosine_topk_exact) plus one small "
        "label join and a per-query vote aggregation over k·|Q| rows. "
        "At scale the brute-force scorer swaps for the IVF/LSH "
        "variants with identical downstream voting (§2.11 "
        "similarity).",
    tags=("llm", "similarity", "classification"),
)
def knn_label_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    topk = S.cosine_topk(emb, queries, k=10)
    labels = emb.select(F.col("vec_id").alias("neighbor_id"), "label")
    votes = (
        topk.join(labels, "neighbor_id")
        .groupBy("query_id", "label")
        .agg(F.count("*").alias("c"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("c").desc(), F.col("label"))
    best = votes.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    truth = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return best.join(truth, "query_id").select(
        "query_id",
        F.col("label").alias("predicted_label"),
        F.col("c").cast("bigint").alias("vote_count"),
        "true_label",
        (F.col("label") == F.col("true_label")).alias("correct"),
    )

@register(
    "embedding_centroids_by_label",
    oracle="""
        WITH t AS (
            SELECT label, embedding FROM embeddings
        ), unnested AS (
            SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS val
            FROM t, unnest(generate_series(1, len(embedding))) AS u(i)
        )
        SELECT label, CAST(pos AS INT) AS pos,
               count(*) AS n_vecs,
               round(avg(val), 6) AS centroid_val
        FROM unnested GROUP BY label, pos
    """,
    doc="Distributed per-label centroids (class prototypes / cluster "
        "means over an embedding column) in LONG form: explode each "
        "vector to (label, position, value) and average per (label, "
        "position). This is the scale-correct shape for element-wise "
        "vector aggregation — a collect_list-then-average form would "
        "ship whole vectors to one reducer per label; the explode form "
        "partial-aggregates every (label, pos) cell map-side and "
        "shuffles only |labels|·d running sums. Long output also "
        "sidesteps array-ordering hash hazards. posexplode is "
        "shifted to 1-based to match the SQL side's array indexing "
        "(§2.11 embeddings).",
    tags=("llm", "embeddings", "aggregate"),
)
def embedding_centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    cells = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "val")
    ).select(
        "label",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.col("val").cast("double").alias("val"),
    )
    return cells.groupBy("label", "pos").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg("val"), 6).alias("centroid_val"),
    )

@register(
    "hard_negative_mining",
    oracle="""
        WITH q AS (
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec,
                   label AS true_label
            FROM embeddings WHERE vec_id < 20
        ), scored AS (
            SELECT q.query_id, q.true_label, e.vec_id AS neighbor_id,
                   e.label AS neighbor_label,
                   list_dot_product(q.qvec, e.embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(q.qvec, q.qvec)) *
                    sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS raw_sim
            FROM q, embeddings e
            WHERE e.vec_id != q.query_id AND e.label != q.true_label
        )
        SELECT query_id, true_label, neighbor_id AS hard_negative_id,
               neighbor_label AS negative_label,
               round(raw_sim, 6) AS sim, rank
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY raw_sim DESC, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= 3
    """,
    doc="Hard-negative mining — the contrastive-training data op: for "
        "each query vector, the top-3 most-similar vectors with a "
        "DIFFERENT label (the negatives most likely to confuse a "
        "model, the ones worth training on). Same exact-cosine scorer "
        "and determinism argument as cosine_topk_exact (double HOF dot "
        "products, bit-identical to DuckDB's list_dot_product fold), "
        "with the label-mismatch predicate pushed into the scoring "
        "pass so same-label pairs are never ranked. At scale the "
        "scorer swaps for the IVF/LSH variants; the mining projection "
        "is identical (§2.11 similarity/curation).",
    tags=("llm", "similarity", "curation"),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("true_label"),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("qvec").cast("array<double>"),
            F.col("embedding").cast("array<double>"),
            lambda a, b: a * b,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(F.col(c).cast("array<double>"), lambda x: x * x),
        F.lit(0.0), lambda acc, x: acc + x,
    ))
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .filter(
            (F.col("vec_id") != F.col("query_id"))
            & (F.col("label") != F.col("true_label"))
        )
        .select(
            "query_id", "true_label",
            F.col("vec_id").alias("hard_negative_id"),
            F.col("label").alias("negative_label"),
            (dot / (norm("qvec") * norm("embedding"))).alias("raw_sim"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("raw_sim").desc(), F.col("hard_negative_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id", "true_label", "hard_negative_id", "negative_label",
            F.round("raw_sim", 6).alias("sim"), "rank",
        )
    )


# This module was split out of the former monolithic queries/llm.py (round 6);
# registry names and semantics are unchanged. Reference citations live in the
# individual docstrings.

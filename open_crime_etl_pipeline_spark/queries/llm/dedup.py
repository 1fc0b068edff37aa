"""Deduplication family (SURVEY.md §2.11): exact/minhash/simhash/n-gram near-dup, ExactSubstr, CDC chunking, CCNet line dedup, contamination audits, star-component clustering."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...operators import dedup as D
from ...operators import multimodal as M
from ...operators import similarity as S
from ...operators import textstats as TS
from ..core import _t
from ..registry import register

from .common import _ID_SHIFT  # noqa: F401


_CORPUS_SQL_EXACT = """
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 100000 AS doc_id, text FROM documents
        )
"""

_CORPUS_SQL_NEAR = """
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 100000 AS doc_id,
                   regexp_replace(text, '^[a-z]+', 'zzz') AS text
            FROM documents
        )
"""

def _corpus_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.select((F.col("doc_id") + _ID_SHIFT).alias("doc_id"), "text")
    return docs.unionByName(copies)

def _corpus_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.select(
        (F.col("doc_id") + _ID_SHIFT).alias("doc_id"),
        F.regexp_replace("text", "^[a-z]+", "zzz").alias("text"),
    )
    return docs.unionByName(copies)

@register(
    "exact_dedup_documents",
    oracle=_CORPUS_SQL_EXACT + """
        SELECT min(doc_id) AS doc_id
        FROM corpus
        GROUP BY lower(trim(regexp_replace(text, '\\s+', ' ')))
    """,
    doc="Exact dedup on normalized text, min-id winner (hash-groupBy; §2.11).",
    tags=("llm", "dedup"),
)
def exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus_exact(spark, sf_dir)
    return D.exact_dedup(corpus, "doc_id", "text").select("doc_id")

@register(
    "minhash_signatures_check",
    oracle="""
        WITH docs AS (
            SELECT doc_id, string_split(text, ' ') AS words FROM documents WHERE doc_id < 50
        ), shingled AS (
            SELECT doc_id,
                   list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                                  for i in range(1, len(words) - 1)]) AS shingles
            FROM docs WHERE len(words) >= 3
        )
        SELECT doc_id,
               list_min([list_reduce(list_prepend((0*131 + 7)::BIGINT,
                    [ord(c)::BIGINT for c in string_split(s, '')]),
                    (acc, x) -> (acc * 31 + x) % 1000003) for s in shingles]) AS sig_0,
               list_min([list_reduce(list_prepend((1*131 + 7)::BIGINT,
                    [ord(c)::BIGINT for c in string_split(s, '')]),
                    (acc, x) -> (acc * 31 + x) % 1000003) for s in shingles]) AS sig_1,
               list_min([list_reduce(list_prepend((2*131 + 7)::BIGINT,
                    [ord(c)::BIGINT for c in string_split(s, '')]),
                    (acc, x) -> (acc * 31 + x) % 1000003) for s in shingles]) AS sig_2,
               list_min([list_reduce(list_prepend((3*131 + 7)::BIGINT,
                    [ord(c)::BIGINT for c in string_split(s, '')]),
                    (acc, x) -> (acc * 31 + x) % 1000003) for s in shingles]) AS sig_3
        FROM shingled
    """,
    doc="MinHash signature computation verified value-by-value via portable fold hash (§2.11).",
    tags=("llm", "dedup", "minhash"),
)
def minhash_signatures_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    sigs = D.minhash_signatures(
        docs, "doc_id", "text", num_hashes=4, shingle_n=3, hash_fn="portable"
    )
    return sigs.select(
        "doc_id",
        *[F.element_at("signature", i + 1).alias(f"sig_{i}") for i in range(4)],
    )

@register(
    "ngram_jaccard_near_dup",
    oracle=_CORPUS_SQL_NEAR + """
        , shingle_lists AS (
            SELECT doc_id,
                   list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                                  for i in range(1, len(words) - 1)]) AS shingles
            FROM (SELECT doc_id, string_split(text, ' ') AS words FROM corpus)
            WHERE len(words) >= 3
        ), sh AS (
            SELECT doc_id, unnest(shingles) AS shingle FROM shingle_lists
        ), sizes AS (
            SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b,
               round(CAST(n_inter AS DOUBLE) /
                     CAST(sa.n_shingles + sb.n_shingles - n_inter AS DOUBLE), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_inter AS DOUBLE) /
              CAST(sa.n_shingles + sb.n_shingles - n_inter AS DOUBLE) >= 0.5
    """,
    doc="Exact n-gram Jaccard similarity self-join finds the perturbed near-dups (§2.11).",
    tags=("llm", "dedup", "jaccard"),
)
def ngram_jaccard_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus_near(spark, sf_dir)
    return D.ngram_jaccard_pairs(corpus, "doc_id", "text", threshold=0.5, shingle_n=3)

_PLANT_SHIFT = 200000

_N_PLANT = 32

_PLANTED_SQL = f"""
        WITH planted AS (
            SELECT doc_id FROM documents
            WHERE len(string_split(text, ' ')) >= 3
            ORDER BY doc_id LIMIT {_N_PLANT}
        )
"""

def _planted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k lowest-id docs with >= shingle_n words (so they shingle);
    tokenization (split on single space) mirrors the oracle's
    string_split, same convention the Jaccard oracles already rely on."""
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.size(F.split(F.col("text"), " ")) >= 3)
        .orderBy("doc_id")
        .limit(_N_PLANT)
    )

def _planted_certificate(
    planted: DataFrame, pairs: DataFrame, metric: str, miss_value
) -> DataFrame:
    """(planted_id, found, metric) per planted twin pair: left-join the
    planted truth table against the found pairs (id_b == id_a + shift).
    Duplicate pair rows would fan the join out and fail the oracle's
    row count, so pair distinctness is checked for free."""
    hit = pairs.filter(F.col("id_b") == F.col("id_a") + _PLANT_SHIFT).select(
        F.col("id_a").alias("planted_id"), F.col(metric)
    )
    return (
        planted.select(F.col("doc_id").alias("planted_id"))
        .join(hit, "planted_id", "left")
        .select(
            "planted_id",
            F.col(metric).isNotNull().alias("found"),
            F.coalesce(F.col(metric), F.lit(miss_value)).alias(metric),
        )
    )

@register(
    "minhash_lsh_near_dup",
    oracle=_PLANTED_SQL + """
        SELECT doc_id AS planted_id, TRUE AS found,
               CAST(1.0 AS DOUBLE) AS est_jaccard
        FROM planted
    """,
    doc="MinHash+LSH near-dup over the full near corpus + planted exact "
        "twins; output is the planted-pair containment certificate — "
        "identical signatures MUST band-collide, so found=true / "
        "est_jaccard=1.0 per plant is hash-family-independent ground "
        "truth (§2.11). Raw pair recall vs exact Jaccard stays pinned "
        "in tests/test_llm_operators.py.",
    tags=("llm", "dedup", "minhash"),
)
def minhash_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    planted = _planted_docs(spark, sf_dir)
    corpus = _corpus_near(spark, sf_dir).unionByName(
        planted.select((F.col("doc_id") + _PLANT_SHIFT).alias("doc_id"), "text")
    )
    pairs = D.minhash_near_dup_pairs(
        corpus, "doc_id", "text", num_hashes=16, bands=4, threshold=0.5
    )
    return _planted_certificate(planted, pairs, "est_jaccard", -1.0)

@register(
    "simhash_near_dup",
    oracle=_PLANTED_SQL + """
        SELECT doc_id AS planted_id, TRUE AS found,
               CAST(0 AS INT) AS hamming
        FROM planted
    """,
    doc="SimHash near-dup over the full near corpus + planted exact "
        "twins; output is the planted-pair containment certificate — "
        "identical fingerprints share all four 16-bit chunks, so "
        "found=true / hamming=0 per plant holds for any correct chunk "
        "bucketing (§2.11).",
    tags=("llm", "dedup", "simhash"),
)
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    planted = _planted_docs(spark, sf_dir)
    corpus = _corpus_near(spark, sf_dir).unionByName(
        planted.select((F.col("doc_id") + _PLANT_SHIFT).alias("doc_id"), "text")
    )
    pairs = D.simhash_near_dup_pairs(corpus, "doc_id", "text", max_hamming=8)
    return _planted_certificate(planted, pairs, "hamming", -1)

_NEAR_PAIRS_SQL = """
        , shingle_lists AS (
            SELECT doc_id,
                   list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                                  for i in range(1, len(words) - 1)]) AS shingles
            FROM (SELECT doc_id, string_split(text, ' ') AS words FROM corpus)
            WHERE len(words) >= 3
        ), sh AS (
            SELECT doc_id, unnest(shingles) AS shingle FROM shingle_lists
        ), sizes AS (
            SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
        ), inter AS MATERIALIZED (
            -- decorrelated on purpose: the correlated-subquery HAVING
            -- form runs per candidate pair and dies at sf0.1 (>240s);
            -- grouped join + two hash joins on sizes finishes in ~2s
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ), pairs AS MATERIALIZED (
            SELECT id_a, id_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = inter.id_a
            JOIN sizes sb ON sb.doc_id = inter.id_b
            WHERE CAST(n_inter AS DOUBLE) /
                  CAST(sa.n_shingles + sb.n_shingles - n_inter AS DOUBLE) >= 0.7
        ), edges AS MATERIALIZED (
            -- MATERIALIZED throughout: propagation rounds reference the
            -- prior round twice; inlined CTEs would re-evaluate the whole
            -- pair pipeline exponentially (observed: hung at sf0.1)
            SELECT id_a AS s, id_b AS d FROM pairs
            UNION
            SELECT id_b AS s, id_a AS d FROM pairs
        )
"""

@register(
    "near_dedup_representatives",
    oracle=_CORPUS_SQL_NEAR + _NEAR_PAIRS_SQL + """
        , r0 AS MATERIALIZED (
            SELECT DISTINCT s AS m, s AS rep FROM edges
        )
        , r1 AS MATERIALIZED (
            SELECT r.m AS m,
                   least(r.rep, coalesce(min(nb.rep), r.rep)) AS rep
            FROM r0 r
            LEFT JOIN (SELECT e.s AS s, rr.rep AS rep
                       FROM edges e JOIN r0 rr ON e.d = rr.m) nb
              ON nb.s = r.m
            GROUP BY r.m, r.rep
        )
        , r2 AS MATERIALIZED (
            SELECT r.m AS m,
                   least(r.rep, coalesce(min(nb.rep), r.rep)) AS rep
            FROM r1 r
            LEFT JOIN (SELECT e.s AS s, rr.rep AS rep
                       FROM edges e JOIN r1 rr ON e.d = rr.m) nb
              ON nb.s = r.m
            GROUP BY r.m, r.rep
        )
        , r3 AS MATERIALIZED (
            SELECT r.m AS m,
                   least(r.rep, coalesce(min(nb.rep), r.rep)) AS rep
            FROM r2 r
            LEFT JOIN (SELECT e.s AS s, rr.rep AS rep
                       FROM edges e JOIN r2 rr ON e.d = rr.m) nb
              ON nb.s = r.m
            GROUP BY r.m, r.rep
        )
        , r4 AS MATERIALIZED (
            SELECT r.m AS m,
                   least(r.rep, coalesce(min(nb.rep), r.rep)) AS rep
            FROM r3 r
            LEFT JOIN (SELECT e.s AS s, rr.rep AS rep
                       FROM edges e JOIN r3 rr ON e.d = rr.m) nb
              ON nb.s = r.m
            GROUP BY r.m, r.rep
        )
        , r5 AS MATERIALIZED (
            SELECT r.m AS m,
                   least(r.rep, coalesce(min(nb.rep), r.rep)) AS rep
            FROM r4 r
            LEFT JOIN (SELECT e.s AS s, rr.rep AS rep
                       FROM edges e JOIN r4 rr ON e.d = rr.m) nb
              ON nb.s = r.m
            GROUP BY r.m, r.rep
        )
        SELECT doc_id FROM corpus
        WHERE doc_id NOT IN (SELECT m FROM r5 WHERE rep != m)
    """,
    doc="Full near-dedup pipeline: minhash LSH candidates → exact-Jaccard verify (>=0.7) → "
        "bounded min-propagation clustering → keep min-id representative (§2.11). Oracle "
        "replicates the exact pair graph and the same 5-round propagation in SQL.",
    tags=("llm", "dedup", "minhash"),
)
def near_dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus_near(spark, sf_dir)
    kept = D.near_dedup(
        corpus, "doc_id", "text",
        num_hashes=32, bands=16, threshold=0.7, verify_exact=True,
        # verified pairs at 0.7 Jaccard are a sparse graph even at 100 TB
        # (dup clusters, not the corpus) — single-partition rounds
        small_graph=True,
    )
    return kept.select("doc_id")

@register(
    "near_dedup_star_components",
    oracle=_CORPUS_SQL_NEAR.replace("WITH corpus", "WITH RECURSIVE corpus", 1)
    + _NEAR_PAIRS_SQL + """
        , reach AS (
            -- CONVERGED transitive closure (recursive set semantics:
            -- UNION dedups, fixpoint when no new (node, reachable)
            -- rows appear) — round-count-free ground truth, unlike the
            -- bounded unrolled propagation near_dedup_representatives
            -- pins. Fine for the oracle: duplicate clusters are tiny.
            SELECT s AS m, s AS r FROM edges
            UNION
            SELECT e.s AS m, rc.r AS r
            FROM edges e JOIN reach rc ON rc.m = e.d
        ), lab AS (
            SELECT m AS doc_id, min(r) AS rep_id FROM reach GROUP BY m
        )
        SELECT l.doc_id, l.rep_id, c.n_members
        FROM lab l
        JOIN (SELECT rep_id, CAST(count(*) AS BIGINT) AS n_members
              FROM lab GROUP BY rep_id) c USING (rep_id)
    """,
    doc="The 100-TB near-dedup clustering path, integrated end to end: "
        "minhash LSH candidates → exact-Jaccard verify (≥0.7, same "
        "pair graph as near_dedup_representatives) → alternating "
        "large-star/small-star contraction (Kiveris et al. SoCC'14, "
        "operators/graph.py::connected_components_star) instead of the "
        "guarded driver union-find or O(diameter) min-propagation — "
        "O(log d) rounds of three O(E) exchanges each, no driver "
        "collection, no round-count tuning, so a filament-shaped "
        "duplicate cluster (chained paraphrases A~B~C~…) can't blow "
        "the round budget. Output is the full component map (member, "
        "min-id representative, component size). The oracle clusters "
        "the SAME verified pair graph with a converged recursive "
        "transitive closure — star contraction's fixpoint labels must "
        "equal true-component ground truth exactly, making this both "
        "an integration test of the scale path and a convergence "
        "proof (§2.11 dedup).",
    tags=("llm", "dedup", "minhash", "graph"),
)
def near_dedup_star_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ...operators import graph as G

    from pyspark.sql import Window

    corpus = _corpus_near(spark, sf_dir)
    pairs = D.minhash_near_dup_pairs(
        corpus, "doc_id", "text",
        num_hashes=32, bands=16, threshold=0.7, verify_exact=True,
    )
    # pairs is canonical by construction: id_a < id_b and no
    # self-loops come from the LSH join's strict inequality, and
    # DISTINCTNESS comes from lsh_candidate_pairs' .distinct() — the
    # verify join merely PRESERVES it because _corpus_near yields one
    # row per doc_id, so the shingle join multiplies no rows (r12
    # ADVICE: if either producer changes — duplicate corpus ids, or a
    # verify that re-expands pairs — this invariant breaks and
    # assume_canonical below must be dropped). Asserting it lets the
    # operator skip its redundant canonicalize+distinct shuffle and
    # re-pin (r12 wave 5).
    edges = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    labels, _rounds = G.connected_components_star(edges, assume_canonical=True)
    # component size via count() OVER (PARTITION BY label): one pass
    # over the labels instead of groupBy + join-back — the same device
    # as duplicate_ngram_fraction's dfreq (r12 wave 1).
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("rep_id"),
        F.count(F.lit(1)).over(Window.partitionBy("label")).alias("n_members"),
    )

_INCR_BATCH_SQL = """
        WITH corpus AS (
            SELECT doc_id, text FROM documents
        ), batch AS (
            SELECT doc_id + 1000000 AS doc_id,
                   regexp_replace(text, '^[a-z]+', 'zzz') AS text
            FROM documents WHERE doc_id % 5 = 0
            UNION ALL
            SELECT doc_id + 3000000,
                   regexp_replace(array_to_string(list_reverse(string_split(text, ' ')), ' '),
                                  '^[a-z]+', 'zzz')
            FROM documents WHERE doc_id % 5 = 2
            UNION ALL
            SELECT doc_id + 4000000,
                   regexp_replace(array_to_string(list_reverse(string_split(text, ' ')), ' '),
                                  '^[a-z]+', 'zzy')
            FROM documents WHERE doc_id % 5 = 2
            UNION ALL
            SELECT doc_id + 5000000,
                   translate(text, 'abcdefghijklmnopqrstuvwxyz',
                             'nopqrstuvwxyzabcdefghijklm')
            FROM documents WHERE doc_id % 5 = 3
        ), allv AS (
            SELECT * FROM corpus UNION ALL SELECT * FROM batch
        )
"""

@register(
    "near_dedup_incremental_batch",
    oracle=_INCR_BATCH_SQL + """
        , shingle_lists AS (
            SELECT doc_id,
                   list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                                  for i in range(1, len(words) - 1)]) AS shingles
            FROM (SELECT doc_id, string_split(text, ' ') AS words FROM allv)
            WHERE len(words) >= 3
        ), sh AS (
            SELECT doc_id, unnest(shingles) AS shingle FROM shingle_lists
        ), sizes AS (
            SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
        ), inter AS MATERIALIZED (
            -- batch-involving pairs only: the incremental engine path
            -- never generates corpus-corpus candidates (cannot affect
            -- which batch docs survive — see operators/dedup.py)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            WHERE a.doc_id >= 1000000 OR b.doc_id >= 1000000
            GROUP BY a.doc_id, b.doc_id
        ), pairs AS MATERIALIZED (
            SELECT id_a, id_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = inter.id_a
            JOIN sizes sb ON sb.doc_id = inter.id_b
            WHERE CAST(n_inter AS DOUBLE) /
                  CAST(sa.n_shingles + sb.n_shingles - n_inter AS DOUBLE) >= 0.7
        ), edges AS MATERIALIZED (
            SELECT id_a AS s, id_b AS d FROM pairs
            UNION
            SELECT id_b AS s, id_a AS d FROM pairs
        ), r0 AS MATERIALIZED (
            SELECT DISTINCT s AS m, s AS rep FROM edges
        ), r1 AS MATERIALIZED (
            SELECT r.m AS m, least(r.rep, coalesce(min(nb.rep), r.rep)) AS rep
            FROM r0 r
            LEFT JOIN (SELECT e.s AS s, rr.rep AS rep
                       FROM edges e JOIN r0 rr ON e.d = rr.m) nb ON nb.s = r.m
            GROUP BY r.m, r.rep
        ), r2 AS MATERIALIZED (
            SELECT r.m AS m, least(r.rep, coalesce(min(nb.rep), r.rep)) AS rep
            FROM r1 r
            LEFT JOIN (SELECT e.s AS s, rr.rep AS rep
                       FROM edges e JOIN r1 rr ON e.d = rr.m) nb ON nb.s = r.m
            GROUP BY r.m, r.rep
        ), r3 AS MATERIALIZED (
            SELECT r.m AS m, least(r.rep, coalesce(min(nb.rep), r.rep)) AS rep
            FROM r2 r
            LEFT JOIN (SELECT e.s AS s, rr.rep AS rep
                       FROM edges e JOIN r2 rr ON e.d = rr.m) nb ON nb.s = r.m
            GROUP BY r.m, r.rep
        )
        SELECT doc_id FROM batch
        WHERE doc_id NOT IN (SELECT m FROM r3 WHERE rep != m AND m >= 1000000)
    """,
    doc="Incremental near-dedup: a new batch deduped against an "
        "already-indexed corpus (build_near_dup_index: id/shingle-hash/"
        "signature, computed once) plus itself — corpus text is never "
        "re-tokenized and corpus-corpus candidates are never generated; "
        "cost ∝ batch + candidates, the 100 TB steady-state pattern. "
        "Corpus ids precede batch ids, so min-id components encode "
        "corpus-always-wins; the oracle replays the batch-involving "
        "exact-Jaccard pair graph with min-propagation (3 rounds suffice: "
        "scenario components have diameter ≤ 2) (§2.11 [EXT]).",
    tags=("llm", "dedup", "minhash", "incremental"),
)
def near_dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    rev = F.concat_ws(" ", F.reverse(F.split("text", " ")))
    batch = (
        docs.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.regexp_replace("text", "^[a-z]+", "zzz").alias("text"))
        .unionByName(docs.filter(F.col("doc_id") % 5 == 2).select(
            (F.col("doc_id") + 3_000_000).alias("doc_id"),
            F.regexp_replace(rev, "^[a-z]+", "zzz").alias("text")))
        .unionByName(docs.filter(F.col("doc_id") % 5 == 2).select(
            (F.col("doc_id") + 4_000_000).alias("doc_id"),
            F.regexp_replace(rev, "^[a-z]+", "zzy").alias("text")))
        .unionByName(docs.filter(F.col("doc_id") % 5 == 3).select(
            (F.col("doc_id") + 5_000_000).alias("doc_id"),
            F.translate("text", "abcdefghijklmnopqrstuvwxyz",
                        "nopqrstuvwxyzabcdefghijklm").alias("text")))
    )
    idx = D.build_near_dup_index(docs, "doc_id", "text", num_hashes=32)
    kept = D.near_dedup_incremental(
        idx, batch, "doc_id", "text", num_hashes=32, bands=16, threshold=0.7
    )
    return kept.select("doc_id")

@register(
    "doc_fingerprints",
    oracle="""
        WITH shingled AS (
            SELECT doc_id, text,
                   list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                                  for i in range(1, len(words) - 1)]) AS shingles
            FROM (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents)
            WHERE len(words) >= 3
        )
        SELECT doc_id,
               md5(list_min(shingles) || '|' || md5(text)) AS fingerprint
        FROM shingled
    """,
    doc="Document fingerprint: md5 of (min shingle | text digest) — winnowing-style, engine-portable (§2.11).",
    tags=("llm", "text"),
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TS.doc_fingerprint("text").alias("fingerprint"))

@register(
    "cross_source_contamination_matrix",
    oracle="""
        WITH sh AS (
            SELECT DISTINCT source, shingle
            FROM (
                SELECT source,
                       unnest(list_distinct(
                           [words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                            for i in range(1, len(words) - 1)])) AS shingle
                FROM (SELECT source, string_split(text, ' ') AS words
                      FROM documents)
                WHERE len(words) >= 3
            )
        ), totals AS (
            SELECT source, count(*) AS n FROM sh GROUP BY source
        )
        SELECT a.source AS src_a, b.source AS src_b,
               count(*) AS n_shared,
               round(CAST(count(*) AS DOUBLE)
                     / least(ta.n, tb.n), 6) AS overlap_coeff
        FROM sh a
        JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
        JOIN totals ta ON ta.source = a.source
        JOIN totals tb ON tb.source = b.source
        GROUP BY a.source, b.source, ta.n, tb.n
    """,
    doc="Cross-source contamination matrix: for every pair of corpus "
        "sources, how many distinct 3-gram shingles they share and the "
        "overlap coefficient (shared / smaller source's vocabulary) — "
        "the corpus-level leakage diagnostic run before mixing sources "
        "into a training set. Scale shape: shingles are deduped to "
        "(source, shingle) FIRST, so the self-join on shingle has "
        "per-key fanout <= #sources (a handful), never doc-frequency — "
        "a hot stop-shingle costs ~#sources rows, not postings^2; "
        "output is #source-pairs rows (§2.11 curation).",
    tags=("llm", "curation", "contamination"),
)
def cross_source_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("source", "text")
    sh = (
        docs.filter(F.size(TS.tokens("text")) >= 3)
        .select("source", F.explode(TS.word_shingles("text", 3)).alias("shingle"))
        .distinct()
    )
    totals = sh.groupBy("source").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    ta = totals.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    tb = totals.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(ta, "src_a").join(tb, "src_b")
        .select(
            "src_a", "src_b", "n_shared",
            F.round(
                F.col("n_shared").cast("double") / F.least("n_a", "n_b"), 6
            ).alias("overlap_coeff"),
        )
    )

@register(
    "contamination_ngram_overlap",
    oracle="""
        WITH d AS (
            SELECT doc_id,
                   CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'cont'), 1, 8)
                        AS BIGINT) % 100 AS INT) AS bkt,
                   list_filter(string_split(text, ' '), t -> t != '') AS tk
            FROM documents
        ), tri AS (
            SELECT DISTINCT doc_id, bkt,
                   tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS sh
            FROM d, unnest(range(1, len(tk) + 1)) AS g(i)
            WHERE i + 2 <= len(tk)
        ), bench AS (
            SELECT DISTINCT sh FROM tri WHERE bkt < 5
        ), corpus AS (
            SELECT doc_id, sh FROM tri WHERE bkt >= 5
        ), tot AS (
            SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY 1
        ), hit AS (
            SELECT c.doc_id, count(*) AS n_overlap
            FROM corpus c JOIN bench USING (sh) GROUP BY 1
        )
        SELECT t.doc_id, t.n_shingles,
               CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
               round(CAST(coalesce(h.n_overlap, 0) AS DOUBLE)
                     / greatest(t.n_shingles, 1), 6) AS overlap_frac
        FROM tot t LEFT JOIN hit h USING (doc_id)
    """,
    doc="Benchmark-contamination detection: word 3-gram overlap of each corpus "
        "document against a held-out benchmark split (deterministic 5% md5 "
        "bucket). The benchmark shingle set is broadcast — at 100 TB the "
        "corpus scan stays shuffle-free on the probe side (§2.11).",
    tags=("llm", "text", "dedup"),
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ...operators.sampling import hash_bucket

    docs = _t(spark, sf_dir, "documents").withColumn(
        "__bkt", hash_bucket("doc_id", 100, "cont")
    )
    tri = docs.select(
        "doc_id", "__bkt", F.explode(TS.word_shingles("text", 3)).alias("sh")
    )
    bench = tri.filter(F.col("__bkt") < 5).select("sh").distinct()
    corpus = tri.filter(F.col("__bkt") >= 5)
    tot = corpus.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hit = (
        corpus.join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return tot.join(hit, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce("n_overlap", F.lit(0).cast("long")).alias("n_overlap"),
        F.round(
            F.coalesce("n_overlap", F.lit(0).cast("long")).cast("double")
            / F.greatest(F.col("n_shingles"), F.lit(1)),
            6,
        ).alias("overlap_frac"),
    )

@register(
    "contamination_bloom_prefilter",
    oracle="""
        WITH d AS (
            SELECT doc_id,
                   CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'cont'), 1, 8)
                        AS BIGINT) % 100 AS INT) AS bkt,
                   list_filter(string_split(text, ' '), t -> t != '') AS tk
            FROM documents
        ), tri AS (
            SELECT DISTINCT doc_id, bkt,
                   tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS sh
            FROM d, unnest(range(1, len(tk) + 1)) AS g(i)
            WHERE i + 2 <= len(tk)
        ), bench AS (
            SELECT DISTINCT sh FROM tri WHERE bkt < 5
        ), corpus AS (
            SELECT doc_id, sh FROM tri WHERE bkt >= 5
        ), tot AS (
            SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY 1
        ), hit AS (
            SELECT c.doc_id, count(*) AS n_overlap
            FROM corpus c JOIN bench USING (sh) GROUP BY 1
        )
        SELECT t.doc_id, t.n_shingles,
               CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
               round(CAST(coalesce(h.n_overlap, 0) AS DOUBLE)
                     / greatest(t.n_shingles, 1), 6) AS overlap_frac
        FROM tot t LEFT JOIN hit h USING (doc_id)
    """,
    doc="Decontamination at broadcast-breaking scale: identical semantics "
        "(and oracle) to contamination_ngram_overlap, but the corpus-side "
        "probe is prefiltered by a broadcast Bloom bit-set over the benchmark "
        "shingles (operators/bloom.py) before the exact hit-join — ~16 "
        "bits/element broadcast instead of the string set, no false "
        "negatives, so the exact join on survivors returns the identical "
        "answer while only (contaminated + ~0.5% FP) shingles reach it. "
        "The build collects bit-or'd words (<= num_bits/64 longs), never "
        "elements (§2.11 [EXT]).",
    tags=("llm", "text", "dedup", "bloom"),
)
def contamination_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ...operators.bloom import build_bloom, might_contain
    from ...operators.sampling import hash_bucket

    docs = _t(spark, sf_dir, "documents").withColumn(
        "__bkt", hash_bucket("doc_id", 100, "cont")
    )
    tri = docs.select(
        "doc_id", "__bkt", F.explode(TS.word_shingles("text", 3)).alias("sh")
    )
    bench = tri.filter(F.col("__bkt") < 5).select("sh").distinct()
    corpus = tri.filter(F.col("__bkt") >= 5)
    # totals come from the UNfiltered corpus side; only the hit-join
    # branch goes through the bloom
    tot = corpus.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    num_bits, k = 1 << 18, 3
    bits = build_bloom(bench, "sh", num_bits=num_bits, k=k)
    survivors = corpus.filter(might_contain(bits, F.col("sh"), num_bits, k))
    hit = (
        survivors.join(bench, "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return tot.join(hit, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce("n_overlap", F.lit(0).cast("long")).alias("n_overlap"),
        F.round(
            F.coalesce("n_overlap", F.lit(0).cast("long")).cast("double")
            / F.greatest(F.col("n_shingles"), F.lit(1)),
            6,
        ).alias("overlap_frac"),
    )

@register(
    "multimodal_dedup_checksum",
    oracle=_CORPUS_SQL_EXACT + """
        SELECT min(doc_id) AS media_id
        FROM corpus
        GROUP BY sha256(text)
    """,
    doc="Exact media dedup over the Arrow-batched decode stage: the corpus "
        "(with id-shifted duplicate payloads) flows media-synthesis → "
        "mapInPandas decode (sha256 checksum + byte-stat features) → "
        "min-id per checksum. sha256 is engine-portable, so this oracle-"
        "checks the Pandas-UDF plumbing itself end-to-end — schema, batch "
        "shape, and checksum values — not just row counts (§2.11 multimodal).",
    tags=("llm", "multimodal", "dedup"),
)
def multimodal_dedup_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus_exact(spark, sf_dir)
    media = M.synthesize_media(corpus.withColumn("n_chars", F.length("text")))
    feats = M.decode_and_featurize(media)
    return feats.groupBy("checksum").agg(F.min("media_id").alias("media_id")).select("media_id")

@register(
    "duplicate_ngram_fraction",
    oracle="""
        WITH shingle_lists AS (
            SELECT doc_id,
                   list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                                  for i in range(1, len(words) - 1)]) AS shingles
            FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
            WHERE len(words) >= 3
        ), sh AS (
            SELECT doc_id, unnest(shingles) AS shingle FROM shingle_lists
        ), dfq AS (
            SELECT shingle, count(*) AS dfreq FROM sh GROUP BY shingle
        )
        SELECT doc_id,
               count(*) AS n_shingles,
               CAST(sum(CASE WHEN dfreq > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
               round(CAST(sum(CASE WHEN dfreq > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 6) AS dup_frac
        FROM sh JOIN dfq USING (shingle)
        GROUP BY doc_id
    """,
    doc="Cross-corpus duplicate n-gram fraction per document (CCNet / "
        "RefinedWeb curation signal): distinct 3-gram postings -> "
        "doc-frequency -> fraction of a doc's shingles seen elsewhere. "
        "Inverted-index join on 64-bit shingle hashes, no self-join — "
        "linear in corpus tokens at 100 TB (§2.11).",
    tags=("llm", "dedup", "quality"),
)
def duplicate_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return D.duplicate_ngram_fraction(docs, "doc_id", "text", shingle_n=3)

@register(
    "semdedup_embedding_prune",
    oracle="""
        SELECT vec_id, (vec_id % 3 = 0) AS had_semantic_dup
        FROM embeddings
    """,
    doc="SemDeDup (Abbas et al. 2023): cluster embeddings, prune "
        "within-cluster pairs with cosine >= 0.9, keep min-id "
        "representatives. Planted-twin certificate: every vec_id % 3 == 0 "
        "gets an identical-embedding copy at +10M, so the correct output "
        "is exactly the original ids with had_semantic_dup = (vec_id % 3 "
        "= 0) — deterministic regardless of which clusters the engine "
        "forms, because identical vectors always co-cluster and the "
        "corpus' max natural cosine (~0.60) is far below the threshold "
        "(§2.11).",
    tags=("llm", "dedup", "embedding"),
)
def semdedup_embedding_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    twins = emb.filter(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(twins)
    return S.semdedup(
        corpus, "vec_id", "embedding", n_clusters=16, threshold=0.9
    )

@register(
    "text_normalized_dedup",
    oracle="""
        WITH perturbed AS (
            SELECT doc_id,
                   CASE doc_id % 3
                       WHEN 0 THEN upper(text)
                       WHEN 1 THEN text || '  !!! '
                       ELSE regexp_replace(text, ' ', '   ', 'g')
                   END AS ptext
            FROM documents
        ), normed AS (
            SELECT doc_id,
                   trim(regexp_replace(regexp_replace(lower(ptext),
                        '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
            FROM perturbed
        )
        SELECT min(doc_id) AS rep_doc_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(length(min_by(norm, doc_id)) AS BIGINT) AS norm_len
        FROM normed GROUP BY norm
    """,
    doc="Normalization-based dedup (ccnet-style): documents are first "
        "deterministically perturbed (upper-cased / punctuation "
        "appended / whitespace doubled, by id % 3), then normalized "
        "(lowercase, strip non-alphanumerics, collapse whitespace) and "
        "grouped on the normalized form. Because normalization exactly "
        "inverts every planted perturbation, groups equal the raw-text "
        "duplicate groups — and the oracle re-derives that through "
        "DuckDB's regex engine, differentially testing regexp_replace "
        "semantics (global flag, class syntax) across engines. Scan-"
        "side only; one shuffle on the normalized key (§2.11 dedup).",
    tags=("llm", "dedup", "text"),
)
def text_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ptext = (
        F.when(F.col("doc_id") % 3 == 0, F.upper("text"))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.col("text"), F.lit("  !!! ")))
        .otherwise(F.regexp_replace("text", " ", "   "))
    )
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(ptext), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    return (
        docs.select("doc_id", norm.alias("norm"))
        .groupBy("norm")
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count("*").alias("n_docs"),
            F.length(F.min_by("norm", "doc_id")).cast("long").alias("norm_len"),
        )
        .select("rep_doc_id", "n_docs", "norm_len")
    )

_CCNET_HEADER = "shared header line for every document in corpus "

@register(
    "exact_substring_dedup",
    oracle="""
        WITH tn AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x != '') AS toks,
                   CAST(len(list_filter(string_split(text, ' '), x -> x != ''))
                        AS BIGINT) AS n
            FROM documents
        ), pos AS (
            SELECT doc_id, CAST(i AS BIGINT) AS pos,
                   array_to_string(toks[CAST(i AS INT):CAST(i + 14 AS INT)],
                                   ' ') AS gram
            FROM tn, unnest(generate_series(1, n - 14)) u(i)
            WHERE n >= 15
        ), pr AS (
            -- canonical occurrence = lexicographic-min (doc_id, pos),
            -- stated as rank 1 under ORDER BY (doc_id, pos) — mirrors
            -- the engine's min(struct(doc, pos)) exactly
            SELECT doc_id, pos,
                   row_number() OVER (PARTITION BY gram
                                      ORDER BY doc_id, pos) AS rn,
                   count(*) OVER (PARTITION BY gram) AS n_occ
            FROM pos
        ), flagged AS (
            SELECT doc_id, pos FROM pr WHERE n_occ > 1 AND rn > 1
        ), covered AS (
            SELECT DISTINCT doc_id, CAST(j AS BIGINT) AS i
            FROM flagged, unnest(generate_series(pos, pos + 14)) v(j)
        ), cov_stats AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_excised,
                   CAST(sum(new_span) AS BIGINT) AS n_spans
            FROM (
                SELECT doc_id, i,
                       CASE WHEN i - lag(i) OVER (PARTITION BY doc_id
                                                  ORDER BY i) = 1
                            THEN 0 ELSE 1 END AS new_span
                FROM covered
            ) GROUP BY doc_id
        ), tok_idx AS (
            SELECT doc_id, CAST(i AS BIGINT) AS i, toks[CAST(i AS INT)] AS tok
            FROM tn, unnest(generate_series(1, n)) u(i)
        ), kept AS (
            SELECT ti.doc_id, ti.i, ti.tok
            FROM tok_idx ti ANTI JOIN covered c
              ON ti.doc_id = c.doc_id AND ti.i = c.i
        ), kd AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                   md5(string_agg(tok, ' ' ORDER BY i)) AS kept_md5
            FROM kept GROUP BY doc_id
        )
        SELECT tn.doc_id, tn.n AS n_tokens,
               coalesce(cs.n_excised, 0) AS n_excised,
               coalesce(cs.n_spans, 0) AS n_spans,
               coalesce(kd.n_kept, 0) AS n_kept,
               coalesce(kd.kept_md5, md5('')) AS kept_md5
        FROM tn
        LEFT JOIN cov_stats cs USING (doc_id)
        LEFT JOIN kd USING (doc_id)
    """,
    doc="Exact substring-level dedup (ExactSubstr, Lee et al. ACL "
        "2022) at L=15 tokens: every position starting a 15-gram that "
        "occurs elsewhere in the corpus is excised unless it is the "
        "gram's canonical (minimum (doc,pos)) occurrence; overlapping "
        "excisions merge into maximal spans. Per doc: token count, "
        "excised-token count, merged-span count, and the md5 of the "
        "document reassembled WITHOUT the excised tokens — a "
        "closed-form receipt that the span union, not just counts, is "
        "identical cross-engine. The union of duplicated-15-gram "
        "spans equals the union of maximal repeated substrings >= 15 "
        "tokens (every long repeat is a chain of repeated 15-grams), "
        "which is why the fixed-L gram table reproduces the paper's "
        "suffix-array semantics without a distributed suffix sort. "
        "Spark plan: per-token fold hash once + per-position "
        "polynomial combine (cdc_chunks' measured device), "
        "hash-frequency PREFILTER (superset — the small modulus "
        "collides at scale by design), then exact gram-string verify "
        "on candidates only; the oracle states the one-phase exact "
        "semantics, proving the prefilter lossless. All shuffles "
        "linear in token count (§2.11 dedup; "
        "operators/dedup.py::repeated_substring_excision).",
    tags=("llm", "dedup", "text"),
)
def exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return D.repeated_substring_excision(docs, min_len=15)

@register(
    "gram_contamination_traintest",
    oracle="""
        WITH tn AS (
            SELECT doc_id, (doc_id % 20 = 0) AS t,
                   list_filter(string_split(text, ' '), x -> x != '') AS toks,
                   CAST(len(list_filter(string_split(text, ' '),
                                        x -> x != '')) AS BIGINT) AS n
            FROM documents
        ), pos AS (
            SELECT doc_id, t, CAST(i AS BIGINT) AS pos,
                   array_to_string(toks[CAST(i AS INT):CAST(i + 9 AS INT)],
                                   ' ') AS gram
            FROM tn, unnest(generate_series(1, n - 9)) u(i)
            WHERE n >= 10
        ), tg AS (
            SELECT gram, count(DISTINCT doc_id) AS n_train_docs
            FROM pos WHERE NOT t GROUP BY gram
        ), hits AS (
            SELECT p.doc_id, p.gram, tg.n_train_docs
            FROM pos p JOIN tg USING (gram) WHERE p.t
        ), pd AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_contaminated_positions,
                   CAST(count(DISTINCT gram) AS BIGINT)
                       AS n_distinct_contaminated_grams,
                   CAST(max(n_train_docs) AS BIGINT) AS max_train_docs_per_gram
            FROM hits GROUP BY doc_id
        )
        SELECT tn.doc_id, tn.n AS n_tokens,
               coalesce(pd.n_contaminated_positions, 0)
                   AS n_contaminated_positions,
               coalesce(pd.n_distinct_contaminated_grams, 0)
                   AS n_distinct_contaminated_grams,
               coalesce(pd.max_train_docs_per_gram, 0)
                   AS max_train_docs_per_gram,
               coalesce(pd.n_contaminated_positions, 0) > 0 AS contaminated
        FROM tn LEFT JOIN pd USING (doc_id) WHERE tn.t
    """,
    doc="Substring-level train/test contamination audit at L=10 "
        "tokens (deterministic 5% holdout: doc_id % 20 = 0): for each "
        "test document, the positions whose 10-gram also occurs in "
        "ANY train document, the distinct leaked grams, and the "
        "widest train-side spread — the n-gram decontamination check "
        "run before every serious eval (GPT-3/PaLM-style audits; Lee "
        "et al. ACL'22 §6.2). Reuses the ExactSubstr machinery: "
        "scan-side gram hashing, a both-sides hash prefilter "
        "(superset, never trusted), exact gram-string verify on the "
        "candidate set only, then test positions join per-gram train "
        "document counts. The oracle states the one-phase exact "
        "cross-side semantics, proving the prefilter lossless (§2.11 "
        "dedup/curation; operators/dedup.py::gram_contamination).",
    tags=("llm", "dedup", "curation"),
)
def gram_contamination_traintest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").withColumn(
        "is_test", F.col("doc_id") % 20 == 0
    )
    return D.gram_contamination(docs, min_len=10)

@register(
    "line_level_dedup_ccnet",
    oracle="""
        WITH corpus AS (
            SELECT doc_id,
                   'shared header line for every document in corpus ' || text AS text
            FROM documents
        ), toks AS (
            SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS toks
            FROM corpus
        ), segs AS (
            SELECT doc_id, i AS seg_idx,
                   array_to_string(list_slice(toks, 8*i+1, 8*i+8), ' ') AS seg
            FROM toks,
                 unnest(generate_series(0, CAST(ceil(len(toks)/8.0) AS INT) - 1)) AS u(i)
        ), seg_df AS (
            SELECT seg, count(DISTINCT doc_id) AS df FROM segs GROUP BY seg
        ), flagged AS (
            SELECT s.doc_id, s.seg_idx, s.seg, d.df >= 3 AS is_bp
            FROM segs s JOIN seg_df d USING (seg)
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
               CAST(sum(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
               md5(coalesce(string_agg(CASE WHEN NOT is_bp THEN seg END,
                                       ' ' ORDER BY seg_idx), '')) AS retained_md5
        FROM flagged GROUP BY doc_id
    """,
    doc="CCNet/C4-style line-level dedup: boilerplate SEGMENTS (fixed "
        "8-word chunks standing in for lines — the corpus has no "
        "newlines) that recur in >= 3 distinct documents are removed "
        "from every document, and each doc is reassembled from its "
        "surviving segments in order (md5 receipt). A shared header "
        "is prepended to every doc so the operator has guaranteed "
        "work; the natural corpus adds more (identical docs whose "
        "every segment goes boilerplate). Shape: explode segments -> "
        "distinct-doc count per segment -> join back by segment -> "
        "per-doc ordered reassembly via array_sort(collect_list("
        "struct(idx, seg))). The segment-frequency side is NOT "
        "broadcast: at 100 TB the segment dictionary is corpus-sized, "
        "so it stays a shuffle equi-join on the segment key (the same "
        "inverted-index discipline as duplicate_ngram_fraction); "
        "collect_list is bounded by single-doc size. Cf. CCNet "
        "(Wenzek et al.) paragraph dedup; reference has no analog "
        "(mandated [EXT] §2.11 dedup).",
    tags=("llm", "dedup", "text"),
)
def line_level_dedup_ccnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.select(
        "doc_id", F.concat(F.lit(_CCNET_HEADER), F.col("text")).alias("text")
    )
    toks = corpus.select("doc_id", TS.tokens("text").alias("toks"))
    # Every doc has >= 8 tokens (header), so sequence(0, n_seg-1) is
    # always ascending; an empty doc would need a guard here.
    segs = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("toks") / F.lit(8.0)).cast("int") - 1,
                ),
                lambda i: F.array_join(F.slice(F.col("toks"), i * 8 + 1, 8), " "),
            )
        ).alias("seg_idx", "seg"),
    )
    seg_df = segs.groupBy("seg").agg(F.count_distinct("doc_id").alias("df"))
    flagged = segs.join(seg_df, "seg").withColumn("is_bp", F.col("df") >= 3)
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        F.sum(F.when(F.col("is_bp"), 1).otherwise(0)).cast("long").alias("n_removed"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("is_bp"),
                                F.struct(F.col("seg_idx"), F.col("seg")),
                            )
                        )
                    ),
                    lambda s: s["seg"],
                ),
                " ",
            )
        ).alias("retained_md5"),
    )

@register(
    "cdc_chunk_dedup_stats",
    oracle="""
        WITH toks AS (
            SELECT doc_id, source,
                   list_filter(string_split(text, ' '), t -> t != '') AS toks
            FROM documents
        ), th AS (
            SELECT doc_id, source, toks, CAST(len(toks) AS BIGINT) AS n,
                   list_transform(toks, t -> list_reduce(
                       list_prepend(CAST(7 AS BIGINT),
                           list_transform(string_split(t, ''),
                                          c -> CAST(ascii(c) AS BIGINT))),
                       (acc, x) -> (acc*31 + x) % 1000003)) AS th
            FROM toks
        ), b AS (
            SELECT doc_id, source, toks, n,
                CASE WHEN n >= 4 THEN
                  list_filter(generate_series(CAST(4 AS BIGINT), n), i ->
                    (((((th[CAST(i AS INT)-3]*31 + th[CAST(i AS INT)-2]) % 1000003)
                        * 31 + th[CAST(i AS INT)-1]) % 1000003)
                        * 31 + th[CAST(i AS INT)]) % 1000003 % 8 = 0)
                ELSE [] END AS bounds
            FROM th
        ), bp AS (
            SELECT doc_id, source, toks,
                   list_concat(list_concat([CAST(0 AS BIGINT)], bounds),
                               CASE WHEN len(bounds) > 0 AND bounds[-1] = n
                                    THEN [] ELSE [n] END) AS bps
            FROM b
        ), chunks AS (
            SELECT doc_id, source,
                   array_to_string(
                       list_slice(toks, bps[CAST(j AS INT)]+1, bps[CAST(j AS INT)+1]),
                       ' ') AS chunk,
                   bps[CAST(j AS INT)+1] - bps[CAST(j AS INT)] AS chunk_tokens
            FROM bp, unnest(generate_series(1, len(bps)-1)) AS u(j)
        ), cdf AS (
            SELECT chunk, count(DISTINCT doc_id) AS df FROM chunks GROUP BY chunk
        )
        SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(count(DISTINCT c.chunk) AS BIGINT) AS n_distinct_chunks,
               CAST(sum(CASE WHEN cdf.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_shared,
               round(CAST(sum(chunk_tokens) AS DOUBLE) / count(*), 6) AS avg_chunk_tokens
        FROM chunks c JOIN cdf USING (chunk)
        GROUP BY source
    """,
    doc="Content-defined chunking (FastCDC-style) + chunk-level dedup "
        "stats over operators/dedup.py::cdc_chunks: a 4-token rolling "
        "window declares a chunk boundary where its hash % 8 == 0, so "
        "boundaries are CONTENT-anchored — an insertion early in a doc "
        "shifts fixed-size chunk grids everywhere but re-synchronizes "
        "CDC chunks after one window, which is why CDC is the "
        "storage/training-corpus dedup standard. Each token is "
        "fold-hashed ONCE and windows combine token hashes with a "
        "polynomial accumulate (measured 2.2x faster than re-hashing "
        "the joined window string per position — PERF.md); the whole "
        "boundary scan is pure Catalyst HOFs, no UDF. Chunks then "
        "explode and dedup globally (distinct-doc frequency per chunk "
        "content) with a per-source rollup. Scale: everything before "
        "the chunk groupBy is scan-side and per-row; the shuffle "
        "carries chunk strings once (at 100 TB you would shuffle "
        "xxhash64(chunk) fingerprints instead — same plan shape). "
        "Cf. FastCDC (Xia et al.); SURVEY.md 2.11 dedup.",
    tags=("llm", "dedup", "chunking"),
)
def cdc_chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    chunks = D.cdc_chunks(docs)
    # df (distinct docs per chunk content) via a partition-only window
    # instead of groupBy+join-back: the join formulation referenced
    # `chunks` twice with different pre-exchange shapes (no
    # ReusedExchange), so the whole CDC boundary-scan HOF pipeline ran
    # TWICE, plus a second chunk-keyed shuffle for the join. The window
    # ships each occurrence row to its chunk's partition ONCE — bytes
    # the join leg already paid — and computes the same distinct-doc
    # count per group (guide §2.4; same device as the r12
    # duplicate_ngram_fraction rewrite; measured 1.83s -> 1.05s median,
    # values identical). Hot-chunk skew is unchanged vs the join: either
    # form concentrates one chunk's postings in one task.
    w = Window.partitionBy("chunk")
    chunks = chunks.withColumn("df", F.size(F.collect_set("doc_id").over(w)))
    return chunks.groupBy("source").agg(
        F.count("*").alias("n_chunks"),
        F.count_distinct("chunk").alias("n_distinct_chunks"),
        F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).cast("long").alias("n_in_shared"),
        F.round(
            F.sum("chunk_tokens").cast("double") / F.count("*"), 6
        ).alias("avg_chunk_tokens"),
    )


# This module was split out of the former monolithic queries/llm.py (round 6);
# registry names and semantics are unchanged. Reference citations live in the
# individual docstrings.


@register(
    "prefix_filter_jaccard_join",
    oracle=_CORPUS_SQL_NEAR + """
        , tok AS (
            SELECT DISTINCT doc_id, unnest(
                [words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                 for i in range(1, len(words) - 1)]
            ) AS tok
            FROM (SELECT doc_id, string_split(text, ' ') AS words FROM corpus)
            WHERE len(words) >= 3
        ), sizes AS (
            SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id
        ), inter AS (
            -- ground truth via the FULL inverted index (every shared
            -- token a candidate key): the engine's prefix filter must
            -- return exactly this set, proving the candidate rule
            -- lossless at threshold 0.7
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
            FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               round(CAST(n_inter AS DOUBLE) /
                     CAST(sa.n + sb.n - n_inter AS DOUBLE), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_inter AS DOUBLE) /
              CAST(sa.n + sb.n - n_inter AS DOUBLE) >= 0.7
    """,
    doc="EXACT-threshold Jaccard self-join (3-word shingle sets, J >= 0.7) via "
        "SSJoin/PPJoin prefix filtering (Chaudhuri ICDE'06, Xiao "
        "WWW'08) — the exact complement to the probabilistic "
        "MinHash-LSH path: no false negatives BY THEOREM, not by "
        "banding probability. Tokens order globally by corpus "
        "frequency ascending (rarest first); each doc emits only its "
        "first n - ceil(0.7n) + 1 tokens as join keys, and any pair "
        "with J >= t provably shares a key in both prefixes. The "
        "oracle generates candidates from the FULL inverted index "
        "(every shared token), so the hash-match proves the ~70%-"
        "smaller prefix candidate set loses nothing. Scale shape: the "
        "hot stopword buckets that make a naive token self-join "
        "quadratic never become join keys (they sort LAST, out of "
        "every prefix); the frequency table is used only for ordering "
        "so it may be sampled/stale at 100 TB without affecting "
        "correctness (operators/dedup.py::prefix_filter_jaccard_pairs; "
        "the shingle domain is chosen because this corpus's 32-word "
        "vocabulary makes word SETS near-degenerate — ~195k qualifying "
        "word-set pairs at sf0.01 vs the discriminative shingle sets; "
        "§2.11 dedup).",
    tags=("llm", "dedup", "jaccard", "exact"),
)
def prefix_filter_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus_near(spark, sf_dir)
    return D.prefix_filter_jaccard_pairs(
        corpus, "doc_id", "text", threshold=0.7, shingle_n=3
    )


@register(
    "suffix_array_prefix_doubling",
    oracle="""
        WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0),
        s AS (
            SELECT doc_id, CAST(u.pos AS BIGINT) AS pos,
                   substr(text, CAST(u.pos AS INT)) AS suf
            FROM d, unnest(generate_series(1, length(text))) AS u(pos)
        )
        SELECT doc_id, pos,
               row_number() OVER (ORDER BY suf, doc_id, pos) AS sa_rank
        FROM s
    """,
    doc="Global suffix ranking over a corpus slice by distributed "
        "prefix doubling (operators/suffix.py; Manber-Myers): rank by "
        "first-8 grams, then log(maxlen) rounds of (rank, successor-"
        "rank) pair re-ranking — every round an equi-join + a range-"
        "partitioned two-pass dense rank, integers only in flight, with "
        "a partition-refinement fixpoint exit (random text: 2-4 "
        "rounds). The oracle sorts the actual suffix STRINGS — the "
        "exact quadratic-bytes plan the operator exists to avoid — so "
        "the hash match proves the doubling recurrence equals true "
        "suffix order, incl. prefix-of ties (shorter first) and "
        "identical-suffix (doc,pos) tie-breaks. This is the index "
        "shape behind ExactSubstr dedup and longest-repeated-substring "
        "contamination mining at 100 TB.",
    tags=("llm", "dedup", "suffix", "scale", "iterative"),
)
def suffix_array_prefix_doubling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ...operators.suffix import suffix_ranks

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    return suffix_ranks(docs, "doc_id", "text")


@register(
    "dup_cluster_size_histogram",
    oracle="""
        WITH clusters AS (
            SELECT md5(text) AS k, CAST(count(*) AS BIGINT) AS cluster_size
            FROM documents GROUP BY k
        )
        SELECT cluster_size,
               CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(cluster_size * count(*) AS BIGINT) AS n_docs
        FROM clusters GROUP BY cluster_size
    """,
    doc="Duplicate-cluster size distribution — the audit metric every "
        "dedup pass reports (how much of the corpus sits in clusters of "
        "size 1, 2, ...; Lee et al. 2022 fig. 1 shape): exact clusters "
        "keyed by md5(text), two cheap groupBys, output rows bounded by "
        "the largest cluster size. The same two-groupBy composes over "
        "ANY cluster table (minhash/star-contraction components) — this "
        "entry pins the exact-dup base case with an engine-portable key.",
    tags=("llm", "dedup", "audit"),
)
def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    clusters = docs.groupBy(F.md5("text").alias("k")).agg(
        F.count("*").alias("cluster_size")
    )
    return clusters.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        (F.col("cluster_size") * F.count("*")).cast("long").alias("n_docs"),
    )


@register(
    "winnowing_fingerprints",
    oracle="""
        WITH d AS (
            SELECT doc_id, text, GREATEST(length(text) - 4, 1) AS ng
            FROM documents
        ),
        g AS (
            SELECT doc_id, CAST(u.pos AS BIGINT) AS pos,
                   GREATEST(ng - 7, 1) AS last_win,
                   CAST(CAST('0x' || substr(md5(substr(text, CAST(u.pos AS INT), 5)), 1, 8) AS BIGINT) AS BIGINT) AS h
            FROM d, unnest(generate_series(1, ng)) AS u(pos)
        ),
        e AS (
            SELECT doc_id, h * 2147483648 + (2147483647 - pos) AS key,
                   CAST(u2.win AS BIGINT) AS win
            FROM g, unnest(generate_series(GREATEST(pos - 7, 1), LEAST(pos, last_win))) AS u2(win)
        ),
        s AS (SELECT doc_id, win, min(key) AS key FROM e GROUP BY doc_id, win)
        SELECT DISTINCT doc_id,
               CAST(2147483647 - key % 2147483648 AS BIGINT) AS pos,
               CAST(key // 2147483648 AS BIGINT) AS fp
        FROM s
    """,
    doc="Robust winnowing fingerprint selection (operators/winnow.py; "
        "Schleimer-Wilkerson-Aiken SIGMOD'03 / MOSS): md5-derived "
        "char-5-gram hashes, rightmost-min over every full 8-hash "
        "window via an exact integer (hash, rightmost-pos) encoding — "
        "one groupBy min, no argmax join, no global order. GUARANTEE: "
        "any shared substring of length >= w+k-1 = 12 shares a selected "
        "fingerprint (the density-optimal local scheme), which is what "
        "makes it the plagiarism/contamination index between full gram "
        "inverted indexes and whole-doc digests. Both engines state the "
        "identical arithmetic, so the hash match proves the selection "
        "set itself.",
    tags=("llm", "dedup", "fingerprint", "winnowing"),
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ...operators.winnow import winnowing_fingerprints as _wf

    return _wf(_t(spark, sf_dir, "documents"), "doc_id", "text", k=5, w=8)


@register(
    "winnowing_shared_substring_pairs",
    oracle="""
        WITH d AS (
            SELECT doc_id, text, GREATEST(length(text) - 11, 1) AS ng
            FROM documents WHERE doc_id % 25 = 0
        ),
        g AS (
            SELECT doc_id, CAST(u.pos AS BIGINT) AS pos,
                   GREATEST(ng - 7, 1) AS last_win,
                   CAST(CAST('0x' || substr(md5(substr(text, CAST(u.pos AS INT), 12)), 1, 8) AS BIGINT) AS BIGINT) AS h
            FROM d, unnest(generate_series(1, ng)) AS u(pos)
        ),
        e AS (
            SELECT doc_id, h * 2147483648 + (2147483647 - pos) AS key,
                   CAST(u2.win AS BIGINT) AS win
            FROM g, unnest(generate_series(GREATEST(pos - 7, 1), LEAST(pos, last_win))) AS u2(win)
        ),
        s AS (SELECT doc_id, win, min(key) AS key FROM e GROUP BY doc_id, win),
        fp AS (
            SELECT DISTINCT doc_id,
                   CAST(2147483647 - key % 2147483648 AS BIGINT) AS pos,
                   CAST(key // 2147483648 AS BIGINT) AS fp
            FROM s
        ),
        cand AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.pos AS pos_a, b.pos AS pos_b, a.fp
            FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        ),
        verified AS (
            SELECT DISTINCT c.doc_a, c.doc_b, c.fp
            FROM cand c
            JOIN d da ON da.doc_id = c.doc_a
            JOIN d db ON db.doc_id = c.doc_b
            WHERE substr(da.text, CAST(c.pos_a AS INT), 12)
                  = substr(db.text, CAST(c.pos_b AS INT), 12)
        )
        SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_shared
        FROM verified GROUP BY doc_a, doc_b
    """,
    doc="Cross-document shared-substring detection via winnowing "
        "fingerprints (the MOSS use case): join the selected fingerprint "
        "sets on fingerprint VALUE (candidates bounded by the ~2/(w+1)-"
        "density selection, never an all-grams join), then verify each "
        "candidate by comparing the actual 5-grams (hash-collision "
        "guard), and count distinct verified fingerprints per doc pair. "
        "Any pair sharing a substring of length >= 12 is guaranteed "
        "present. Corpus slice doc_id % 25 = 0 keeps the oracle's "
        "all-pairs restatement tractable.",
    tags=("llm", "dedup", "winnowing", "similarity"),
)
def winnowing_shared_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    _fp, verified = _winnow_verified_shared(spark, sf_dir)
    return verified.groupBy("doc_a", "doc_b").agg(F.count("*").alias("n_shared"))


def _winnow_verified_shared(spark: SparkSession, sf_dir: str):
    """Shared core of the winnowing pair queries: fingerprints over the
    doc_id % 25 slice (k=12, w=8) and the collision-verified distinct
    (doc_a, doc_b, fp) shared-fingerprint table."""
    from ...operators.winnow import winnowing_fingerprints as _wf

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    # r13 (round-12 verdict item 2): the r12 fan_out + eager pin
    # composition REGRESSED this slice path on both hosts (driver
    # 1.17 → 1.87s; builder artifacts 1.36 → 3.70s across waves) — the
    # %25 slice is tiny, so the pin's eager job + the operator's
    # round-robin exchange cost more than the recompute they save,
    # and the self-join's two sides already share ONE exchange via
    # ReusedExchange. Reverted to the r11 shape: no pin, no fan_out
    # (widen=False); the per-doc-count consumer re-runs the (cheap,
    # slice-sized) gram chain instead.
    fp = _wf(docs, "doc_id", "text", k=12, w=8, widen=False)
    a = fp.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a"), "fp"
    )
    b = fp.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b"), "fp"
    )
    cand = a.join(b, "fp").filter(F.col("doc_a") < F.col("doc_b"))
    texts = docs.select("doc_id", "text")
    verified = (
        cand.join(
            texts.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta")),
            "doc_a",
        )
        .join(
            texts.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb")),
            "doc_b",
        )
        .filter(
            F.expr("substring(ta, pos_a, 12)") == F.expr("substring(tb, pos_b, 12)")
        )
        .select("doc_a", "doc_b", "fp")
        .distinct()
    )
    return fp, verified


_WINNOW_FP_CTE = """
        WITH d AS (
            SELECT doc_id, text, GREATEST(length(text) - 11, 1) AS ng
            FROM documents WHERE doc_id % 25 = 0
        ),
        g AS (
            SELECT doc_id, CAST(u.pos AS BIGINT) AS pos,
                   GREATEST(ng - 7, 1) AS last_win,
                   CAST(CAST('0x' || substr(md5(substr(text, CAST(u.pos AS INT), 12)), 1, 8) AS BIGINT) AS BIGINT) AS h
            FROM d, unnest(generate_series(1, ng)) AS u(pos)
        ),
        e AS (
            SELECT doc_id, h * 2147483648 + (2147483647 - pos) AS key,
                   CAST(u2.win AS BIGINT) AS win
            FROM g, unnest(generate_series(GREATEST(pos - 7, 1), LEAST(pos, last_win))) AS u2(win)
        ),
        s AS (SELECT doc_id, win, min(key) AS key FROM e GROUP BY doc_id, win),
        fp AS (
            SELECT DISTINCT doc_id,
                   CAST(2147483647 - key % 2147483648 AS BIGINT) AS pos,
                   CAST(key // 2147483648 AS BIGINT) AS fp
            FROM s
        ),
        cand AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.pos AS pos_a, b.pos AS pos_b, a.fp
            FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        ),
        verified AS (
            SELECT DISTINCT c.doc_a, c.doc_b, c.fp
            FROM cand c
            JOIN d da ON da.doc_id = c.doc_a
            JOIN d db ON db.doc_id = c.doc_b
            WHERE substr(da.text, CAST(c.pos_a AS INT), 12)
                  = substr(db.text, CAST(c.pos_b AS INT), 12)
        )
"""


@register(
    "winnowing_similarity_pairs",
    oracle=_WINNOW_FP_CTE + """,
        shared AS (
            SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_shared
            FROM verified GROUP BY doc_a, doc_b
        ),
        per_doc AS (
            SELECT doc_id, CAST(count(DISTINCT fp) AS BIGINT) AS n_fp
            FROM fp GROUP BY doc_id
        )
        SELECT s.doc_a, s.doc_b, s.n_shared,
               ca.n_fp AS n_fp_a, cb.n_fp AS n_fp_b,
               round(CAST(s.n_shared AS DOUBLE)
                     / CAST(ca.n_fp + cb.n_fp - s.n_shared AS DOUBLE), 6)
                   AS fp_jaccard
        FROM shared s
        JOIN per_doc ca ON ca.doc_id = s.doc_a
        JOIN per_doc cb ON cb.doc_id = s.doc_b
    """,
    doc="The MOSS report metric on top of the winnowing index: per "
        "candidate pair, the collision-verified shared-fingerprint "
        "count normalized by each document's selected-fingerprint set "
        "(Jaccard over fingerprint VALUES) — the number a plagiarism/"
        "contamination report ranks by (Schleimer-Wilkerson-Aiken "
        "SIGMOD'03 §5). Everything downstream of the fingerprint "
        "selection is two groupBys and a broadcast-size join of "
        "per-doc counts; integer numerators/denominators ride along so "
        "the rounded score is auditable.",
    tags=("llm", "dedup", "winnowing", "similarity"),
)
def winnowing_similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp, verified = _winnow_verified_shared(spark, sf_dir)
    shared = verified.groupBy("doc_a", "doc_b").agg(
        F.count("*").alias("n_shared")
    )
    per_doc = (
        fp.select("doc_id", "fp")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_fp"))
    )
    return (
        shared.join(
            per_doc.select(
                F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_fp_a")
            ),
            "doc_a",
        )
        .join(
            per_doc.select(
                F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_fp_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            "n_fp_a",
            "n_fp_b",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("n_fp_a") + F.col("n_fp_b") - F.col("n_shared")).cast(
                    "double"
                ),
                6,
            ).alias("fp_jaccard"),
        )
    )


@register(
    "longest_repeated_substring",
    oracle="""
        WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
        s AS (
            SELECT doc_id, CAST(u.pos AS BIGINT) AS pos,
                   substr(text, CAST(u.pos AS INT)) AS suf
            FROM d, unnest(generate_series(1, length(text))) AS u(pos)
        ),
        o AS (
            SELECT suf, lead(suf) OVER (ORDER BY suf, doc_id, pos) AS nxt
            FROM s
        ),
        l AS (
            SELECT CASE
                WHEN nxt IS NULL THEN NULL
                WHEN list_position(list_transform(
                        list_zip(string_split(suf, ''), string_split(nxt, '')),
                        p -> p[1] IS DISTINCT FROM p[2]), true) = 0
                    THEN LEAST(length(suf), length(nxt))
                ELSE list_position(list_transform(
                        list_zip(string_split(suf, ''), string_split(nxt, '')),
                        p -> p[1] IS DISTINCT FROM p[2]), true) - 1
            END AS lcp
            FROM o
        )
        SELECT CAST(lcp AS BIGINT) AS lcp_len,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM l WHERE lcp IS NOT NULL
        GROUP BY lcp ORDER BY lcp_len DESC LIMIT 5
    """,
    doc="Longest repeated substring over a corpus slice — the textbook "
        "suffix-array application: LRS length = max LCP over ADJACENT "
        "suffixes in sorted order (repeats always sort adjacent), so "
        "after suffix_ranks only n-1 neighbor pairs are compared, never "
        "all pairs. LCP per pair comes from the doubling RANK TABLES "
        "(operators/suffix.py::lcp_from_rank_tables — O(log maxlen) "
        "integer equi-joins per level + one bounded w0-gram residual "
        "compare): no suffix strings in flight, the 100-TB path the "
        "round-7 version only documented. The oracle materializes full "
        "suffix strings and brute-force char-compares them — a fully "
        "independent restatement. Output: the top-5 LCP lengths with "
        "pair counts (row 1 = the LRS). Detects boilerplate and "
        "near-verbatim repetition ExactSubstr-style dedup keys on.",
    tags=("llm", "dedup", "suffix", "scale"),
)
def longest_repeated_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ...operators.suffix import (
        adjacent_suffix_pairs,
        lcp_from_rank_tables,
        suffix_ranks,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0)
    ranks, art = suffix_ranks(docs, "doc_id", "text", retain_levels=True)
    pairs = adjacent_suffix_pairs(ranks, "doc_id")
    lcp = lcp_from_rank_tables(art, pairs, out_col="lcp_len")
    return (
        lcp.groupBy("lcp_len")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy(F.col("lcp_len").desc())
        .limit(5)
    )


@register(
    "distinct_substring_count",
    oracle="""
        WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 100 = 0),
        sub AS (
            SELECT DISTINCT substr(text, CAST(u.pos AS INT), CAST(v.len AS INT)) AS s
            FROM d,
                 unnest(generate_series(1, length(text))) AS u(pos),
                 unnest(generate_series(1, length(text) - CAST(u.pos AS INT) + 1)) AS v(len)
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM sub) AS n_distinct_substrings,
               (SELECT CAST(sum(length(text)) AS BIGINT) FROM d) AS n_suffixes
    """,
    doc="Count of DISTINCT substrings across a corpus slice — the "
        "generalized-suffix-array identity: distinct substrings = "
        "sum(suffix lengths) - sum(LCP of lexicographically adjacent "
        "suffixes), every term integer-exact. The Spark side runs "
        "suffix_ranks + the rank-table LCP walk "
        "(operators/suffix.py::lcp_from_rank_tables) and never ships a "
        "suffix string; the oracle literally enumerates ALL O(len^2) "
        "substrings and COUNT(DISTINCT)s them — a fully independent "
        "restatement, so agreement certifies the doubling ranks, the "
        "adjacency, and every LCP at once. The repetition-mass metric "
        "(total substring positions vs distinct) is the corpus-level "
        "novelty measure duplication studies report (Lee et al. 2022).",
    tags=("llm", "dedup", "suffix", "scale"),
)
def distinct_substring_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ...operators.suffix import (
        adjacent_suffix_pairs,
        lcp_from_rank_tables,
        suffix_ranks,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 100 == 0)
    ranks, art = suffix_ranks(docs, "doc_id", "text", retain_levels=True)
    pairs = adjacent_suffix_pairs(ranks, "doc_id")
    lcp_sum = lcp_from_rank_tables(art, pairs, out_col="lcp").agg(
        F.coalesce(F.sum("lcp"), F.lit(0)).alias("__lcp_sum")
    )
    # len*(len+1) is always even, so integer `div 2` is exact per row
    # and the long accumulator never leaves integer space — float `/`
    # would start rounding near 134M-char docs and the double sum loses
    # exactness past 2^53 (round-8 ADVICE; the winnow.py decode lesson).
    totals = docs.agg(
        F.sum(
            F.expr(
                "cast(length(text) as bigint)"
                " * (cast(length(text) as bigint) + 1) div 2"
            )
        ).cast("long").alias("__suf_len_sum"),
        F.sum(F.length("text")).cast("long").alias("n_suffixes"),
    )
    return totals.crossJoin(F.broadcast(lcp_sum)).select(
        (F.col("__suf_len_sum") - F.col("__lcp_sum"))
        .cast("long")
        .alias("n_distinct_substrings"),
        "n_suffixes",
    )


_MAXREP_L = 15  # min duplicated-substring length for the repeat index


_MAXREP_COV_SQL = f"""
        WITH d AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0
        ),
        w AS (
            SELECT doc_id, CAST(u.pos AS BIGINT) AS s,
                   substr(text, CAST(u.pos AS INT), {_MAXREP_L}) AS win
            FROM d,
                 unnest(generate_series(1, length(text) - {_MAXREP_L - 1}))
                     AS u(pos)
        ),
        dup AS (SELECT win FROM w GROUP BY win HAVING count(*) >= 2),
        cov AS (
            SELECT doc_id, s, s + {_MAXREP_L - 1} AS e
            FROM w WHERE win IN (SELECT win FROM dup)
        )
"""


@register(
    "maximal_repeats_min_len",
    oracle=_MAXREP_COV_SQL + """
        , g AS (
            SELECT doc_id, s, e,
              CASE WHEN s > coalesce(max(e) OVER (
                       PARTITION BY doc_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), -1) + 1
              THEN 1 ELSE 0 END AS brk
            FROM cov
        ),
        gi AS (
            SELECT doc_id, s, e,
                   sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e) AS grp
            FROM g
        )
        SELECT doc_id,
               CAST(min(s) AS BIGINT) AS rep_start,
               CAST(max(e) AS BIGINT) AS rep_end,
               CAST(max(e) - min(s) + 1 AS BIGINT) AS rep_len
        FROM gi GROUP BY doc_id, grp
    """,
    doc="Variable-length ExactSubstr index (Lee et al. 2022): per-doc "
        "MAXIMAL intervals covered by a substring of length >= L that "
        "occurs >= 2 times anywhere in the corpus slice. Spark side: "
        "suffix_ranks + adjacent-pair LCPs from the RANK-TABLE walk "
        "(operators/suffix.py::maximal_repeat_intervals — per-suffix "
        "M = max neighbor LCP; covered set = union of [pos, pos+M-1] "
        "for M >= L, merged per doc; left-extension is subsumed by the "
        "union, see the operator docstring). The gram-table ExactSubstr "
        "finds FIXED-length duplicates; this finds every length >= L. "
        "The oracle independently enumerates ALL length-L windows, "
        "keeps the duplicated ones, and merges their spans with "
        "gaps-and-islands SQL — full agreement certifies ranks, "
        "adjacency, LCPs, and the coverage-union theorem at once.",
    tags=("llm", "dedup", "suffix", "scale"),
)
def maximal_repeats_min_len(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ...operators.suffix import maximal_repeat_intervals, suffix_ranks

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0)
    ranks, art = suffix_ranks(docs, "doc_id", "text", retain_levels=True)
    return maximal_repeat_intervals(ranks, art, _MAXREP_L, id_col="doc_id")


@register(
    "exact_substr_variable_excision",
    oracle=_MAXREP_COV_SQL + """
        , chars AS (
            SELECT d.doc_id, CAST(u.p AS BIGINT) AS p,
                   substr(d.text, CAST(u.p AS INT), 1) AS c
            FROM d, unnest(generate_series(1, length(d.text))) AS u(p)
        ),
        kept AS (
            SELECT ch.doc_id, ch.p, ch.c FROM chars ch
            WHERE NOT EXISTS (
                SELECT 1 FROM cov
                WHERE cov.doc_id = ch.doc_id AND ch.p BETWEEN cov.s AND cov.e
            )
        ),
        agg AS (
            SELECT doc_id, coalesce(string_agg(c, '' ORDER BY p), '') AS s2
            FROM kept GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(length(a.s2), 0) AS BIGINT) AS kept_len,
               md5(coalesce(a.s2, '')) AS kept_md5
        FROM d LEFT JOIN agg a USING (doc_id)
    """,
    doc="ExactSubstr excision with VARIABLE-length repeats: every "
        "character inside a corpus-duplicated substring of length >= L "
        "is cut from every document (the Lee et al. 2022 dedup action "
        "over the maximal_repeats_min_len index), and each doc's "
        "surviving text is receipted as (kept_len, md5). Spark side: "
        "collect each doc's merged intervals into a sorted array and "
        "excise with ONE aggregate() higher-order function over the "
        "array — per-row JVM expression, no Python, no explode of "
        "positions. The oracle rebuilds the kept string char-by-char "
        "with an anti-semijoin against the duplicated windows — a "
        "fully independent restatement of both the index and the cut.",
    tags=("llm", "dedup", "suffix", "scale"),
)
def exact_substr_variable_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ...operators.suffix import maximal_repeat_intervals, suffix_ranks

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0)
    ranks, art = suffix_ranks(docs, "doc_id", "text", retain_levels=True)
    iv = maximal_repeat_intervals(ranks, art, _MAXREP_L, id_col="doc_id")
    arr = iv.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("rep_start", "rep_end"))
        ).alias("iv")
    )
    j = docs.select("doc_id", "text").join(arr, "doc_id", "left")
    # fold the sorted, disjoint, non-contiguous intervals once: carry
    # (prev_end, acc) and append the gap [prev_end+1, next_start-1]
    # before each interval, then the tail after the last one
    kept = F.when(F.col("iv").isNull(), F.col("text")).otherwise(
        F.expr(
            """
            aggregate(
              iv,
              named_struct('pe', cast(0 as bigint), 'acc', ''),
              (a, x) -> named_struct(
                  'pe', x.rep_end,
                  'acc', concat(
                      a.acc,
                      substr(text, cast(a.pe + 1 as int),
                             cast(x.rep_start - a.pe - 1 as int)))),
              a -> concat(a.acc, substr(text, cast(a.pe + 1 as int)))
            )
            """
        )
    )
    return j.select(
        "doc_id",
        F.length(kept).cast("long").alias("kept_len"),
        F.md5(F.encode(kept, "UTF-8")).alias("kept_md5"),
    )

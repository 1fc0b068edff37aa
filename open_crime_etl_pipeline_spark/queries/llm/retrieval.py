"""Retrieval / text-analysis family (§2.11): BM25, hybrid RRF, TF-IDF, PMI, token/term stats, language id, quality scores, BPE tokenizer training, entropy/repetition metrics, SymSpell linkage, TPUT distributed top-k, UDTFs."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...operators import dedup as D
from ...operators import multimodal as M
from ...operators import similarity as S
from ...operators import textstats as TS
from ..core import _t
from ..registry import register


@register(
    "token_stats_top_terms",
    oracle="""
        WITH toks AS (
            SELECT unnest(string_split(text, ' ')) AS token FROM documents
        ), counts AS (
            SELECT token, count(*) AS n FROM toks WHERE token != '' GROUP BY token
        )
        SELECT token, n, rnk FROM (
            SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rnk
            FROM counts
        ) WHERE rnk <= 20
    """,
    doc="Corpus term statistics: tokenize → explode → count → top-k (§2.11 text analysis).",
    tags=("llm", "text"),
)
def token_stats_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    from pyspark.sql import Window

    counts = (
        docs.select(F.explode(TS.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("token"))
    return counts.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 20)

@register(
    "doc_quality_scores",
    oracle="""
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), t -> t != '')) AS n_tokens,
               len(list_distinct(list_filter(string_split(text, ' '), t -> t != ''))) AS n_unique,
               round(CAST(list_sum([length(t) for t in list_filter(string_split(text, ' '), t -> t != '')]) AS DOUBLE)
                     / greatest(len(list_filter(string_split(text, ' '), t -> t != '')), 1), 6) AS avg_token_len,
               round(CAST(len(list_filter(string_split(text, ' '),
                         t -> list_contains(['the','a','an','and','or','of','to','in','is','are','was','were','be','been','it','this','that','with'], t))) AS DOUBLE)
                     / greatest(len(list_filter(string_split(text, ' '), t -> t != '')), 1), 6) AS stop_ratio
        FROM documents
    """,
    doc="Per-document quality metrics: token counts, vocabulary diversity, stopword ratio (§2.11).",
    tags=("llm", "text"),
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = TS.tokens("text")
    total_len = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.round(total_len.cast("double") / F.greatest(F.size(toks), F.lit(1)), 6).alias("avg_token_len"),
        F.round(TS.stopword_ratio("text"), 6).alias("stop_ratio"),
    )

@register(
    "lang_id_stopword_profile",
    oracle="""
        WITH markers(lang, marker) AS (
            SELECT * FROM (VALUES
                ('en','the'),('en','and'),('en','of'),('en','to'),('en','in'),('en','is'),('en','a'),('en','that'),
                ('de','der'),('de','die'),('de','das'),('de','und'),('de','ist'),('de','nicht'),('de','ein'),('de','zu'),
                ('fr','le'),('fr','la'),('fr','les'),('fr','et'),('fr','est'),('fr','un'),('fr','une'),('fr','dans'),
                ('es','el'),('es','la'),('es','los'),('es','las'),('es','es'),('es','un'),('es','una'),('es','que'),
                ('zh','de'),('zh','shi'),('zh','bu'),('zh','le'),('zh','zai'),('zh','wo'),('zh','you'),('zh','he')
            )
        ), toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        ), scores AS (
            SELECT t.doc_id, m.lang, count(*) AS score
            FROM toks t JOIN markers m ON t.token = m.marker
            GROUP BY t.doc_id, m.lang
        )
        SELECT doc_id, lang AS detected_lang, score FROM (
            SELECT doc_id, lang, score,
                   row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
            FROM scores
        ) WHERE rn = 1
    """,
    doc="Language-ID heuristic: token join against per-language marker profiles, argmax (§2.11).",
    tags=("llm", "text"),
)
def lang_id_stopword_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    marker_rows = [(lang, m) for lang, ms in TS.LANG_MARKERS.items() for m in ms]
    from ...localrel import local_df

    markers = F.broadcast(
        local_df(spark, marker_rows, "lang string, marker string")
    )
    toks = docs.select("doc_id", F.explode(TS.tokens("text")).alias("token"))
    scores = (
        toks.join(markers, toks.token == markers.marker)
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("lang"))
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("detected_lang"), "score")
    )

@register(
    "doc_token_counts_bpe",
    oracle="""
        WITH w AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t != '') AS ws_toks,
                   list_filter(string_split(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '),
                               t -> t != '') AS words
            FROM documents
        )
        SELECT doc_id,
               len(ws_toks) AS n_ws_tokens,
               len(flatten([CASE WHEN length(x) <= 6 THEN [x]
                            ELSE [substring(x, i * 4 + 1, 4)
                                  for i in range(0, (length(x) - 1) // 4 + 1)]
                            END
                            for x in words])) AS n_bpe_tokens
        FROM w
    """,
    doc="Token counting, whitespace + BPE-ish subword segmentation (§2.11 text analysis).",
    tags=("llm", "text", "tokens"),
)
def doc_token_counts_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TS.token_count("text").alias("n_ws_tokens"),
        F.size(TS.bpe_ish_tokens("text")).alias("n_bpe_tokens"),
    )

@register(
    "doc_quality_composite",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x != '') AS toks
            FROM documents
        ), m AS (
            SELECT doc_id,
                   len(toks) AS n,
                   CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) AS diversity,
                   CAST(len(list_filter(toks, x -> list_contains(
                       ['the','a','an','and','or','of','to','in','is','are','was','were','be','been','it','this','that','with'], x)))
                       AS DOUBLE) / greatest(len(toks), 1) AS stop
            FROM t
        )
        SELECT doc_id,
               round((CASE WHEN n BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.0 END
                      + diversity
                      + CASE WHEN stop > 0.0 AND stop < 0.6 THEN 1.0 ELSE 0.5 END) / 3.0,
                     6) AS quality
        FROM m
    """,
    doc="Composite quality heuristic: length band + vocab diversity + stopword band "
        "(C4/Gopher-style cheap filters; §2.11).",
    tags=("llm", "text", "quality"),
)
def doc_quality_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TS.quality_score("text").alias("quality"))

@register(
    "repetition_quality_metrics",
    oracle="""
        WITH d AS (
            SELECT doc_id, length(text) AS chars,
                   list_filter(string_split(text, ' '), t -> t != '') AS tk
            FROM documents
        ), bi AS (
            SELECT doc_id, chars, tk[i] || ' ' || tk[i+1] AS ngram
            FROM d, unnest(range(1, len(tk) + 1)) AS g(i)
            WHERE i + 1 <= len(tk)
        ), bc AS (
            SELECT doc_id, chars, ngram, count(*) AS cnt
            FROM bi GROUP BY 1, 2, 3
        ), top AS (
            SELECT doc_id, ngram, cnt, chars,
                   row_number() OVER (
                       PARTITION BY doc_id ORDER BY cnt DESC, ngram DESC
                   ) AS rn
            FROM bc
        ), tri AS (
            SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS ngram
            FROM d, unnest(range(1, len(tk) + 1)) AS g(i)
            WHERE i + 2 <= len(tk)
        ), tc AS (
            SELECT doc_id, ngram, count(*) AS cnt FROM tri GROUP BY 1, 2
        ), dup AS (
            SELECT doc_id,
                   round(CAST(sum(CASE WHEN cnt > 1 THEN cnt * length(ngram)
                                       ELSE 0 END) AS DOUBLE)
                         / greatest(sum(cnt * length(ngram)), 1), 6) AS dup_ngram_frac
            FROM tc GROUP BY 1
        )
        SELECT d0.doc_id,
               coalesce(t.ngram, '') AS top_ngram,
               coalesce(round(CAST(t.cnt * length(t.ngram) AS DOUBLE)
                              / greatest(t.chars, 1), 6), 0.0) AS top_ngram_frac,
               coalesce(dup.dup_ngram_frac, 0.0) AS dup_ngram_frac
        FROM (SELECT doc_id FROM documents) d0
        LEFT JOIN (SELECT * FROM top WHERE rn = 1) t USING (doc_id)
        LEFT JOIN dup USING (doc_id)
    """,
    doc="Gopher-style repetition filters (Rae et al. 2021 A1.1): per-doc "
        "top-bigram character coverage and duplicated-trigram character "
        "fraction — the cheap boilerplate detectors run before model-based "
        "quality scoring (§2.11 text analysis).",
    tags=("llm", "text", "quality"),
)
def repetition_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return TS.repetition_metrics(docs, "doc_id", "text", top_n=2, dup_n=3)

@register(
    "frequent_terms_cms_certificate",
    oracle="""
        WITH toks AS (
            SELECT unnest(list_filter(string_split(lower(
                       regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g')), ' '),
                   t -> t != '')) AS term
            FROM documents
        ), counts AS (
            SELECT term, count(*) AS exact_count FROM toks GROUP BY term
        )
        SELECT term, CAST(exact_count AS BIGINT) AS exact_count, TRUE AS cms_ok
        FROM counts ORDER BY exact_count DESC, term LIMIT 20
    """,
    doc="Frequent terms via count-min sketch with a deterministic error "
        "certificate: the CMS aggregates distributed (mergeable, O(sketch) "
        "per partition — the scale path for term stats when the dictionary "
        "doesn't fit), the driver queries the 20 top terms against it, and "
        "cms_ok certifies exact <= estimate <= exact + ceil(eps*N) — the "
        "one-sided CMS guarantee the oracle can state as TRUE. Fixed seed "
        "=> deterministic (§2.11 text analysis [EXT]).",
    tags=("llm", "text", "sketch"),
)
def frequent_terms_cms_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(TS.tokens("text")).alias("term"))
    toks = toks.persist()
    total = toks.count()
    eps = 0.001
    sketch_bytes = toks.agg(
        F.expr(f"count_min_sketch(term, {eps}d, 0.99d, 42)").alias("s")
    ).collect()[0].s
    top = (
        toks.groupBy("term").agg(F.count("*").alias("exact_count"))
        .orderBy(F.desc("exact_count"), "term").limit(20).collect()
    )
    toks.unpersist()
    cms = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        bytes(sketch_bytes)
    )
    slack = math.ceil(eps * total)
    rows = []
    for r in top:
        est = cms.estimateCount(r.term)
        rows.append((r.term, r.exact_count, bool(r.exact_count <= est <= r.exact_count + slack)))
    from ...localrel import local_df

    return local_df(spark, rows, "term string, exact_count long, cms_ok boolean")

@register(
    "tfidf_top_terms",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t != '')) AS term
            FROM documents
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
        ), df AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), n AS (
            SELECT count(*) AS n_docs FROM documents
        ), scored AS (
            SELECT tf.doc_id, tf.term, tf.tf,
                   tf.tf * ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) AS score
            FROM tf JOIN df USING (term), n
        )
        SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, round(score, 6) AS score, rnk
        FROM (
            SELECT doc_id, term, tf, score,
                   row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
            FROM scored
        ) WHERE rnk <= 3
    """,
    doc="TF-IDF: per-(doc, term) term frequency × ln(N/df), top-3 terms per "
        "document. Token explode → two partial-agg groupBys; the term→df "
        "dictionary joins back by term (a dictionary-sized side — "
        "broadcastable even at corpus scale). Deterministic tie-break "
        "(score desc, term asc); equal (tf, df) pairs produce bit-identical "
        "doubles in both engines, so ranks can't diverge (§2.11 text).",
    tags=("llm", "text", "tfidf"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()  # one scalar job; literal-folds into the plan
    tf = (
        docs.select("doc_id", F.explode(TS.tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(F.broadcast(df), "term").select(
        "doc_id", "term", "tf",
        (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df").cast("double"))).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", F.round("score", 6).alias("score"), "rnk")
    )

@register(
    "unigram_logprob_quality",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t != '')) AS term
            FROM documents
        ), tf AS (
            SELECT term, count(*) AS n FROM toks GROUP BY term
        ), total AS (
            SELECT CAST(sum(n) AS DOUBLE) AS n_total FROM tf
        )
        SELECT t.doc_id,
               count(*) AS n_tokens,
               round(avg(ln(CAST(tf.n AS DOUBLE) / total.n_total)), 6) AS avg_logprob
        FROM toks t JOIN tf USING (term), total
        GROUP BY t.doc_id
    """,
    doc="Unigram language-model quality score (the perplexity-proxy filter "
        "of CCNet-style curation): per-document mean ln p(token) under the "
        "corpus unigram distribution. Token explode → dictionary-sized term "
        "counts broadcast back → one partial agg per doc; no shuffle "
        "carries raw text (§2.11 quality).",
    tags=("llm", "text", "quality"),
)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(TS.tokens("text")).alias("term"))
    tf = toks.groupBy("term").agg(F.count("*").alias("n"))
    n_total = tf.agg(F.sum("n")).first()[0]
    scored = toks.join(F.broadcast(tf), "term").select(
        "doc_id",
        F.log(F.col("n").cast("double") / F.lit(float(n_total))).alias("lp"),
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )

@register(
    "bpe_pair_merge_frequencies",
    oracle="""
        WITH words AS (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents
        ), pairs AS (
            SELECT substring(w, CAST(t.i AS INT), 2) AS pair
            FROM words, unnest(range(1, length(w))) AS t(i)
            WHERE length(w) > 1
        ), counts AS (
            SELECT pair, count(*) AS n FROM pairs GROUP BY pair
        )
        SELECT pair, n, rnk FROM (
            SELECT pair, n,
                   row_number() OVER (ORDER BY n DESC, pair) AS rnk
            FROM counts
        ) WHERE rnk <= 20
    """,
    doc="First BPE merge step, corpus-wide: explode every word's "
        "adjacent character pairs (Catalyst sequence+transform HOFs — "
        "no Python in the hot path), count, and rank the top 20 merge "
        "candidates under a total order (count desc, pair asc) so the "
        "cut is deterministic on any engine. This is the inner loop of "
        "tokenizer training expressed as one scan + one shuffle; "
        "map-side partial aggregation bounds the shuffle by distinct "
        "pairs (≤ alphabet², not corpus size) (§2.11 text analysis).",
    tags=("llm", "text"),
)
def bpe_pair_merge_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    words = docs.select(F.explode(TS.tokens("text")).alias("w")).filter(
        F.length("w") > 1
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count("*").alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("pair"))
    return counts.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 20
    )

def _bpe_oracle(k: int, mode: str = "merges") -> str:
    """Unrolled-SQL oracle for the BPE queries: k chained
    (pair-count → argmax → replace) rounds over the sep-joined symbol
    representation. MATERIALIZED is load-bearing — each round's rep is
    referenced by both the next count and the next replace, and the
    replace chain would otherwise re-inline exponentially.
    ``mode="merges"`` emits the k adopted merges;
    ``mode="compression"`` emits per-source symbol-count compression
    after applying all k merges (r{k} carries source + the initial
    symbol count as pass-through columns; pair counts stay corpus-wide
    and source-blind, so both modes learn the identical trajectory)."""
    parts = ["""
        WITH words AS MATERIALIZED (
            SELECT source, w FROM (
                SELECT source, unnest(string_split(text, ' ')) AS w
                FROM documents
            ) WHERE w != '' AND length(w) > 1
        ),
        r0 AS MATERIALIZED (
            SELECT source, CAST(length(w) AS BIGINT) AS n0,
                   chr(31) || array_to_string(string_split(w, ''), chr(31))
                   || chr(31) AS rep
            FROM words
        )"""]
    for i in range(1, k + 1):
        parts.append(f""",
        p{i} AS (
            SELECT syms[CAST(j AS INT)] AS w1,
                   syms[CAST(j + 1 AS INT)] AS w2, count(*) AS n
            FROM (
                SELECT list_filter(string_split(rep, chr(31)), x -> x != '')
                       AS syms
                FROM r{i - 1}
            ), unnest(generate_series(1, len(syms) - 1)) u(j)
            GROUP BY 1, 2
        ),
        m{i} AS MATERIALIZED (
            SELECT w1, w2, n FROM p{i} ORDER BY n DESC, w1, w2 LIMIT 1
        ),
        r{i} AS MATERIALIZED (
            SELECT source, n0,
                   replace(rep,
                           chr(31) || m.w1 || chr(31) || m.w2 || chr(31),
                           chr(31) || m.w1 || m.w2 || chr(31)) AS rep
            FROM r{i - 1}, m{i} m
        )""")
    if mode == "compression":
        return "".join(parts) + f"""
        SELECT source, CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(n0) AS BIGINT) AS n_symbols_before,
               CAST(sum(len(list_filter(string_split(rep, chr(31)),
                                        x -> x != ''))) AS BIGINT)
                   AS n_symbols_after,
               round(CAST(sum(len(list_filter(string_split(rep, chr(31)),
                                              x -> x != ''))) AS DOUBLE)
                     / sum(n0), 6) AS compression
        FROM r{k} GROUP BY source"""
    selects = " UNION ALL ".join(
        f"SELECT {i} AS round, w1, w2, w1 || w2 AS merged, "
        f"CAST(n AS BIGINT) AS pair_count FROM m{i}"
        for i in range(1, k + 1)
    )
    return "".join(parts) + f" SELECT * FROM ({selects}) ORDER BY round"

_BPE_SEP = "\x1f"

def _bpe_symbol_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, cnt, n0, rep): one row per DISTINCT (source, word) with
    its instance count — the word-FREQUENCY table every real BPE
    trainer (SentencePiece/HF) operates on, not one row per word
    instance. Pair counts weighted by cnt are exactly the per-instance
    counts, so the learned trajectory is identical, but every merge
    round now scans |vocab| rows instead of |tokens| rows — at sf0.1
    that is 600 vs 262k (436×), and at 100 TB Heaps' law keeps the
    vocabulary sublinear in corpus size while the instance table grows
    linearly. rep = sep-joined character symbols, n0 = symbols/word."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select("source", F.explode(TS.tokens("text")).alias("w")).filter(
        F.length("w") > 1
    )
    wf = words.groupBy("source", "w").agg(F.count(F.lit(1)).alias("cnt"))
    sep = F.lit(_BPE_SEP)
    return wf.select(
        "source",
        "cnt",
        F.length("w").cast("long").alias("n0"),
        F.concat(sep, F.array_join(F.split("w", ""), _BPE_SEP), sep).alias("rep"),
    ).localCheckpoint(eager=True)

def _bpe_merge_loop(rep: DataFrame, k: int):
    """Run k BPE merge rounds over ``rep`` (any frame with a ``rep``
    column; other columns pass through untouched). Returns
    (merges, rep_after): the adopted (round, w1, w2, merged, n) tuples
    and the corpus with ALL k merges applied. Eager checkpoint per
    round — k chained replaces would otherwise re-execute the whole
    prefix at every round's count (O(k²) scans).

    If ``rep`` carries a ``cnt`` column (the word-frequency corpus),
    pair occurrences are weighted by it — sum(cnt) over distinct words
    ≡ count(*) over word instances, exactly."""
    passthrough = [c for c in rep.columns if c != "rep"]
    weighted = "cnt" in rep.columns
    sep = F.lit(_BPE_SEP)
    merges = []
    for i in range(1, k + 1):
        syms = F.filter(F.split("rep", _BPE_SEP), lambda x: x != F.lit(""))
        # adjacent pairs as arrays_zip of two shifted slices — measured
        # 1.5x faster than a sequence+transform+element_at walk (1.4s vs
        # 2.2s per round at sf0.1): slices copy contiguously and the zip
        # avoids a per-element positional lookup closure
        n = F.size(syms)
        pairs = rep.select(
            (F.col("cnt") if weighted else F.lit(1).alias("cnt")),
            F.explode(
                F.arrays_zip(F.slice(syms, 1, n - 1), F.slice(syms, 2, n - 1))
            ).alias("p"),
        ).select("cnt", F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
        top = (
            pairs.groupBy("w1", "w2")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), "w1", "w2")
            .limit(1)
            .collect()[0]
        )
        merges.append((i, top["w1"], top["w2"], top["w1"] + top["w2"], top["n"]))
        pat = F.concat(sep, F.lit(top["w1"]), sep, F.lit(top["w2"]), sep)
        new = F.concat(sep, F.lit(top["w1"] + top["w2"]), sep)
        rep = rep.select(
            *passthrough, F.replace(F.col("rep"), pat, new).alias("rep")
        ).localCheckpoint(eager=True)
    return merges, rep

@register(
    "bpe_multi_merge_rounds",
    oracle=_bpe_oracle(4),
    doc="BPE tokenizer training, k=4 UNROLLED merge rounds — the "
        "actual iterative loop bpe_pair_merge_frequencies (round 1 "
        "only) is the first step of: count adjacent symbol pairs "
        "corpus-wide, adopt the argmax pair (count desc, then "
        "(w1, w2) lexicographic — a total order, so the trajectory is "
        "deterministic on any engine), rewrite every word, repeat. "
        "Words are sep-joined symbol strings (chr(31) guards symbol "
        "boundaries) and a merge is ONE engine-native replace() — "
        "both Spark and DuckDB scan left-to-right without re-matching "
        "into the replacement, which reproduces greedy "
        "non-overlapping BPE application exactly (verified on the "
        "'aaa' overlap case). Spark loop shape: the symbol corpus is "
        "cached and eagerly checkpointed per round (k chained "
        "replaces would otherwise re-execute the whole prefix each "
        "round — O(k²) scans), each round is one pair-explode + "
        "map-side-combined groupBy (shuffle bounded by distinct "
        "pairs, not corpus size) and an O(1) argmax collect — "
        "exactly the model-state-to-driver, data-stays-distributed "
        "split of the GD training loop. Oracle: k unrolled "
        "MATERIALIZED CTE rounds (§2.11 text/training).",
    tags=("llm", "text", "training", "iterative"),
)
def bpe_multi_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges, _ = _bpe_merge_loop(
        _bpe_symbol_corpus(spark, sf_dir).select("cnt", "rep"), k=4
    )
    from ...localrel import local_df

    # local_df, not createDataFrame: the 4-row merge table otherwise
    # materializes as a 32-partition pickled RDD whose scan was the
    # single dominant stage of this query's profile (8.0s summed
    # runtime / 0.16s CPU of pure Python-worker round-trips; r13).
    return local_df(
        spark, merges,
        "round int, w1 string, w2 string, merged string, pair_count long",
    ).orderBy("round")

@register(
    "bpe_vocab_compression",
    oracle=_bpe_oracle(4, mode="compression"),
    doc="BPE train→APPLY: after learning the same 4 corpus-wide "
        "merges as bpe_multi_merge_rounds (identical trajectory — "
        "pair counts are source-blind), every word is re-tokenized "
        "with all 4 merges applied and the per-source symbol-count "
        "compression is reported (words, symbols before/after, "
        "after/before ratio) — the measure a tokenizer-training run "
        "actually optimizes. The application pass is k engine-native "
        "replace() projections over the checkpointed symbol corpus "
        "(scan-side, zero extra shuffles beyond the per-round pair "
        "counts); the final rollup is one tiny per-source aggregate. "
        "Oracle: the same unrolled MATERIALIZED chain with source and "
        "initial symbol count as pass-through columns (§2.11 "
        "text/training).",
    tags=("llm", "text", "training", "iterative"),
)
def bpe_vocab_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    rep0 = _bpe_symbol_corpus(spark, sf_dir)
    _, rep = _bpe_merge_loop(rep0, k=4)
    # per-word symbol counts scale back up by the word's instance count
    # (cnt) — integer-exact, so identical to the per-instance rollup
    n_after = F.size(F.filter(F.split("rep", _BPE_SEP), lambda x: x != F.lit("")))
    return rep.groupBy("source").agg(
        F.sum("cnt").alias("n_words"),
        F.sum(F.col("n0") * F.col("cnt")).alias("n_symbols_before"),
        F.sum(n_after.cast("long") * F.col("cnt")).alias("n_symbols_after"),
        F.round(
            F.sum(n_after.cast("double") * F.col("cnt"))
            / F.sum(F.col("n0").cast("double") * F.col("cnt")),
            6,
        ).alias("compression"),
    )

@register(
    "token_entropy_quality",
    oracle="""
        WITH toks AS (
            SELECT doc_id, t.tok AS tok
            FROM documents,
                 unnest(list_filter(string_split(text, ' '),
                                    x -> x != '')) AS t(tok)
        ), counts AS (
            SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
        ), totals AS (
            SELECT doc_id, sum(c) AS n, count(*) AS n_distinct FROM counts
            GROUP BY doc_id
        )
        SELECT c.doc_id AS doc_id,
               CAST(t.n AS BIGINT) AS n_tokens,
               CAST(t.n_distinct AS BIGINT) AS n_distinct,
               round(-sum((c.c / CAST(t.n AS DOUBLE))
                          * ln(c.c / CAST(t.n AS DOUBLE))), 6) AS token_entropy
        FROM counts c JOIN totals t ON t.doc_id = c.doc_id
        GROUP BY c.doc_id, t.n, t.n_distinct
    """,
    doc="Token-level Shannon entropy per document — the information-"
        "theoretic repetition signal (low entropy ⇒ boilerplate/spam; "
        "complements the Gopher repetition ratios): explode → per-"
        "(doc, token) counts → -Σ p·ln p. All Catalyst (two partial-agg "
        "groupBys keyed by doc_id — entropy state never leaves the "
        "doc's partition chain); ln() cross-engine ulp noise is absorbed "
        "by 6dp rounding on an O(1)-magnitude result (§2.11 quality).",
    tags=("llm", "quality", "text"),
)
def token_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(TS.tokens("text")).alias("tok"))
    counts = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    totals = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n"), F.count("*").alias("n_distinct")
    )
    p = F.col("c") / F.col("n").cast("double")
    return (
        counts.join(totals, "doc_id")
        .groupBy("doc_id", "n", "n_distinct")
        .agg(F.round(-F.sum(p * F.log(p)), 6).alias("token_entropy"))
        .select(
            "doc_id",
            F.col("n").alias("n_tokens"),
            "n_distinct",
            "token_entropy",
        )
    )

@register(
    "udtf_word_bigrams",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x != '') AS toks
            FROM documents
        ), b AS (
            SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bigram
            FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
        )
        SELECT bigram, count(*) AS n, count(DISTINCT doc_id) AS n_docs
        FROM b GROUP BY bigram
        ORDER BY n DESC, bigram LIMIT 40
    """,
    doc="Python UDTF surface (§2.10, Spark 4): a lateral table function "
        "expanding each document into word bigrams, consumed via "
        "`FROM docs, LATERAL word_bigrams(text)` and re-aggregated to "
        "the top-40 corpus bigrams (total order: count desc, bigram "
        "asc). This query exists to exercise the UDTF API path — "
        "per-row Python expansion is the engine's SLOW path, and the "
        "equivalent Catalyst form (explode over arrays_zip/slice, used "
        "by token_stats_top_terms and the shingle pipelines) is what "
        "the hot paths use; the oracle proves the UDTF emits exactly "
        "the declarative result. Top-40 executes as "
        "TakeOrderedAndProject over the grouped counts.",
    tags=("llm", "text", "udtf"),
)
def udtf_word_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="bigram string")
    class WordBigrams:
        def eval(self, text):
            if text is None:
                return
            toks = [t for t in text.split(" ") if t]
            for i in range(len(toks) - 1):
                yield (toks[i] + " " + toks[i + 1],)

    spark.udtf.register("word_bigrams", WordBigrams)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("udtf_docs_v")
    return spark.sql("""
        SELECT b.bigram, count(*) AS n, count(DISTINCT d.doc_id) AS n_docs
        FROM udtf_docs_v d, LATERAL word_bigrams(d.text) b
        GROUP BY b.bigram ORDER BY n DESC, b.bigram LIMIT 40
    """)

_BM25_TERMS = ("spark", "join", "filter")

_BM25_K1 = 1.2

_BM25_B = 0.75

@register(
    "bm25_retrieval_topk",
    oracle="""
        WITH toks AS (
            SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS toks
            FROM documents
        ), dl AS (
            SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks
        ), stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                   CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
        ), tf AS (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest(toks) AS term FROM toks)
            WHERE term IN ('spark','join','filter') GROUP BY doc_id, term
        ), idf AS (
            SELECT term, ln(1.0 + (s.n_docs - df + 0.5) / (df + 0.5)) AS idf
            FROM (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
                 stats s
        ), contrib AS (
            SELECT tf.doc_id, tf.term,
                   idf.idf * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS c
            FROM tf JOIN idf USING (term) JOIN dl USING (doc_id), stats s
        ), scored AS (
            -- fixed-order sum over the 3 query terms (each per-term sum
            -- has <= 1 element), so the float add order is identical in
            -- both engines
            SELECT doc_id,
                   coalesce(sum(CASE WHEN term = 'spark'  THEN c END), 0)
                 + coalesce(sum(CASE WHEN term = 'join'   THEN c END), 0)
                 + coalesce(sum(CASE WHEN term = 'filter' THEN c END), 0) AS score,
                   CAST(count(*) AS BIGINT) AS n_terms_matched
            FROM contrib GROUP BY doc_id
        )
        SELECT doc_id, round(score, 6) AS score, n_terms_matched,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
        FROM scored QUALIFY rank <= 10
    """,
    doc="BM25 retrieval (k1=1.2, b=0.75): top-10 documents for the fixed "
        "query {spark, join, filter}. Inverted-index shape: token "
        "explode filtered to query terms BEFORE the tf groupBy (the "
        "posting list never includes non-query terms), df/idf computed "
        "from the postings and broadcast back (|query| rows), avgdl "
        "from an exact integer sum so the double division is "
        "bit-identical cross-engine. The per-doc score adds the <= 3 "
        "per-term contributions in a FIXED literal order via "
        "conditional aggregation — a bare SUM over doubles would be "
        "order-nondeterministic across engines and could flip a "
        "round-to-6dp boundary. Global top-10 = TakeOrderedAndProject "
        "(no full sort); rank window runs over 10 rows. Cf. Robertson "
        "& Zaragoza BM25; §2.11 text/similarity.",
    tags=("llm", "text", "retrieval"),
)
def bm25_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_over(_t(spark, sf_dir, "documents"))

def bm25_over(docs: DataFrame, k: int = 10) -> DataFrame:
    """bm25_retrieval_topk's full pipeline over an arbitrary
    (doc_id, text) frame — shared with hybrid_rrf_retrieval (k=50
    lexical leg) and with the scale proof, which measured exactly what
    the query runs (``git show a3c7b0a:tools/scale_check_r5.py``)."""
    from pyspark.sql import Window

    from ...checkpointing import pin

    # r12 single-pass shape: the query set is THREE fixed probe terms,
    # so per-doc term frequencies are array conditional counts computed
    # SCAN-SIDE (the _gd_features device) — the previous form exploded
    # every token of every document, shuffled the (doc, term) rows into
    # a groupBy, then paid an idf broadcast join AND a dl join back.
    # One narrow (doc_id, dl, tf1..tf3) frame is pinned (5 longs/row,
    # far smaller than the token arrays the old form checkpointed);
    # corpus stats INCLUDING per-term document frequencies ride one
    # keyless aggregate; idf becomes constant-folded plan literals
    # (exact same doubles: the JVM evaluates the identical F.log
    # expression over the identical df/n_docs doubles at optimization
    # time instead of row time). Guide §2.3/§2.4: aggregate before you
    # shuffle; remove shuffles outright. Explode + (doc,term) shuffle +
    # both joins gone. Scores/ranks bit-identical (oracle-verified at
    # both SFs); interleaved A/B at sf0.1: 1.18 -> 0.79s median
    # (bm25_retrieval_topk), 1.80 -> 1.67s (hybrid_rrf's k=50 leg).
    toks = docs.select("doc_id", TS.tokens("text").alias("toks"))
    nterms = len(_BM25_TERMS)
    feats = pin(toks.select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        *[
            F.size(F.filter("toks", (lambda term: lambda t: t == term)(t0)))
            .cast("long")
            .alias(f"tf{i}")
            for i, t0 in enumerate(_BM25_TERMS)
        ],
    ))
    agg = feats.agg(
        F.count("*").alias("n"),
        F.sum("dl").alias("s"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(nterms)
        ],
    ).collect()[0]
    n_docs, avgdl = float(agg["n"]), agg["s"] / agg["n"]
    # idf as literal-input expressions: df enters as the same double the
    # old per-term count().cast("double") produced, the arithmetic tree
    # is unchanged, and Catalyst constant-folds it with the same JVM
    # Math.log the old row-side evaluation used — bit-identical idf
    idf = [
        F.log(
            F.lit(1.0)
            + (F.lit(n_docs) - F.lit(float(agg[f"df{i}"])) + 0.5)
            / (F.lit(float(agg[f"df{i}"])) + 0.5)
        )
        for i in range(nterms)
    ]
    denom_tail = F.lit(_BM25_K1) * (
        F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * F.col("dl") / F.lit(avgdl)
    )
    per_term = [
        F.when(
            F.col(f"tf{i}") > 0,
            idf[i] * F.col(f"tf{i}") * F.lit(_BM25_K1 + 1.0)
            / (F.col(f"tf{i}") + denom_tail),
        ).otherwise(F.lit(0.0))
        for i in range(nterms)
    ]
    score = per_term[0] + per_term[1] + per_term[2]
    n_matched = reduce(
        lambda a, b: a + b,
        [(F.col(f"tf{i}") > 0).cast("long") for i in range(nterms)],
    )
    scored = feats.select(
        "doc_id", score.alias("score"), n_matched.alias("n_terms_matched")
    ).filter(F.col("n_terms_matched") > 0)
    top = scored.orderBy(F.col("score").desc(), "doc_id").limit(k)
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", F.round("score", 6).alias("score"), "n_terms_matched", "rank"
    )

@register(
    "blocked_fuzzy_join_symspell",
    oracle="""
        WITH corpus AS (
            SELECT c_custkey AS id, 'base' AS side, c_name AS name FROM customer
            UNION ALL
            SELECT c_custkey + 1000000 AS id, 'dirty' AS side,
                   substr(c_name, 1, 9 + CAST(c_custkey % 9 AS INT)) || 'x' ||
                   substr(c_name, 11 + CAST(c_custkey % 9 AS INT)) AS name
            FROM customer
        ), variants AS (
            SELECT id, side, name,
                   substr(name, 1, CAST(i AS INT) - 1) ||
                   substr(name, CAST(i AS INT) + 1) AS var
            FROM corpus, unnest(generate_series(1, length(name))) AS u(i)
        ), cand AS (
            SELECT DISTINCT d.id AS dirty_id, d.name AS d_name,
                   b.id AS match_custkey, b.name AS b_name
            FROM variants d JOIN variants b ON d.var = b.var
            WHERE d.side = 'dirty' AND b.side = 'base'
        )
        SELECT dirty_id, match_custkey,
               CAST(levenshtein(d_name, b_name) AS INT) AS dist
        FROM cand WHERE levenshtein(d_name, b_name) <= 1
    """,
    doc="Entity resolution via 1-deletion-neighborhood blocking "
        "(SymSpell-style): a dirty replica of every customer name (one "
        "digit replaced by 'x' at a key-dependent position) is linked "
        "back to the clean side by edit distance <= 1 — WITHOUT an "
        "all-pairs levenshtein. Each name emits its |name| "
        "delete-one-char variants; two names at substitution distance "
        "1 necessarily share the variant deleting the differing "
        "position, so an equi-join on the variant string is a "
        "complete blocking scheme (provable recall), and candidate "
        "blocks are tiny (names sharing a deletion). levenshtein runs "
        "only on distinct candidate pairs. The deterministic truth "
        "set includes same-decade cousins (a dirty name whose mutated "
        "digit is the one digit distinguishing two base names matches "
        "both). Scale: linear |corpus|x|name| variant inflation and "
        "an equi-join — the standard trade replacing the quadratic "
        "similarity join; cf. SymSpell / Norvig spell-correction "
        "indexing (§2.11 dedup/linkage).",
    tags=("llm", "linkage", "dedup"),
)
def blocked_fuzzy_join_symspell(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    k = (F.col("id") % 9).cast("int")
    dirty = cust.select(
        (F.col("id") + 1000000).alias("id"),
        F.concat(
            F.substr(F.col("name"), F.lit(1), F.lit(9) + k),
            F.lit("x"),
            F.substr(F.col("name"), F.lit(11) + k),
        ).alias("name"),
    )
    corpus = cust.withColumn("side", F.lit("base")).unionByName(
        dirty.withColumn("side", F.lit("dirty"))
    )
    variants = corpus.select(
        "id", "side", "name",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("name")),
                lambda i: F.concat(
                    F.substr(F.col("name"), F.lit(1), i - 1),
                    F.substr(F.col("name"), i + 1),
                ),
            )
        ).alias("var"),
    )
    d = variants.filter(F.col("side") == "dirty").select(
        F.col("id").alias("dirty_id"), F.col("name").alias("d_name"), "var"
    )
    b = variants.filter(F.col("side") == "base").select(
        F.col("id").alias("match_custkey"), F.col("name").alias("b_name"), "var"
    )
    cand = d.join(b, "var").select(
        "dirty_id", "d_name", "match_custkey", "b_name"
    ).distinct()
    return cand.filter(F.levenshtein("d_name", "b_name") <= 1).select(
        "dirty_id", "match_custkey",
        F.levenshtein("d_name", "b_name").cast("int").alias("dist"),
    )

@register(
    "pmi_collocations_topk",
    oracle="""
        WITH t AS (
            SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
            FROM documents
        ), bigrams AS (
            SELECT toks[i] AS w1, toks[i + 1] AS w2
            FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
        ), n AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_bg FROM bigrams
        ), bg AS (
            SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
            FROM bigrams GROUP BY w1, w2
        ), lc AS (
            SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bigrams GROUP BY w1
        ), rc AS (
            SELECT w2, CAST(count(*) AS BIGINT) AS c2 FROM bigrams GROUP BY w2
        ), scored AS (
            SELECT bg.w1, bg.w2, bg.c12,
                   ln(bg.c12 * n.n_bg / (lc.c1 * rc.c2)) AS pmi
            FROM bg JOIN lc USING (w1) JOIN rc USING (w2), n
            WHERE bg.c12 >= 5
        )
        SELECT w1, w2, c12, round(pmi, 6) AS pmi,
               CAST(row_number() OVER (ORDER BY pmi DESC, w1, w2) AS INT) AS rank
        FROM scored QUALIFY rank <= 20
    """,
    doc="PMI collocation mining: top-20 bigrams by pointwise mutual "
        "information ln(c12·N / (c1·c2)) with a min-count-5 support "
        "floor (raw PMI overweights hapaxes). Left/right marginal "
        "dictionaries join back broadcast (vocab-sized); all ln inputs "
        "are exact integer ratios so the only float op is one ln, "
        "absorbed by 6dp rounding; ties break on (w1, w2). Global "
        "top-20 via TakeOrderedAndProject. Collocation extraction is "
        "the phrase-vocabulary step of tokenizer/corpus pipelines "
        "(cf. word2vec phrase mining, Mikolov et al.); §2.11 text.",
    tags=("llm", "text", "collocations"),
)
def pmi_collocations_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", TS.tokens("text").alias("toks"))
    n_col = F.size("toks")
    bigrams = (
        toks.filter(n_col >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice("toks", 1, n_col - 1).alias("w1"),
                    F.slice("toks", 2, n_col - 1).alias("w2"),
                )
            ).alias("bg")
        )
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    n_bg = float(bigrams.count())
    bg = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    lc = bigrams.groupBy("w1").agg(F.count("*").alias("c1"))
    rc = bigrams.groupBy("w2").agg(F.count("*").alias("c2"))
    scored = (
        bg.filter(F.col("c12") >= 5)
        .join(F.broadcast(lc), "w1")
        .join(F.broadcast(rc), "w2")
        .select(
            "w1", "w2", "c12",
            F.log(
                F.col("c12") * F.lit(n_bg) / (F.col("c1") * F.col("c2"))
            ).alias("pmi"),
        )
    )
    top = scored.orderBy(F.col("pmi").desc(), "w1", "w2").limit(20)
    w = Window.orderBy(F.col("pmi").desc(), "w1", "w2")
    return top.withColumn("rank", F.row_number().over(w)).select(
        "w1", "w2", "c12", F.round("pmi", 6).alias("pmi"), "rank"
    )

@register(
    "udtf_polymorphic_ngrams",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x != '') AS toks
            FROM documents
        ), g AS (
            SELECT toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
            FROM t, unnest(generate_series(1, len(toks) - 2)) AS u(i)
        )
        SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS n
        FROM g GROUP BY w1, w2, w3
        ORDER BY n DESC, w1, w2, w3 LIMIT 15
    """,
    doc="POLYMORPHIC Python UDTF (§2.10, Spark 4's analyze() protocol): "
        "the output schema (w1..wn columns) is computed at PLAN time "
        "from the constant n argument — analyze() receives "
        "AnalyzeArgument metadata, asserts n is a foldable literal, "
        "and returns the n-column AnalyzeResult; the same registration "
        "serves any n. Called with n=3 via LATERAL and re-aggregated "
        "to the top-15 corpus trigrams. Like udtf_word_bigrams this "
        "exists to exercise the API path (per-row Python is the slow "
        "path — the hot-path equivalent is the arrays_zip/slice "
        "explode); the oracle proves the dynamic schema carries "
        "exactly the declarative result.",
    tags=("llm", "text", "udtf"),
)
def udtf_polymorphic_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class NGramColumns:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            if not n.isConstantExpression or n.value is None:
                raise ValueError("n must be a constant literal")
            schema = StructType()
            for i in range(int(n.value)):
                schema = schema.add(f"w{i + 1}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text, n):
            if text is None:
                return
            toks = [t for t in text.split(" ") if t]
            for i in range(len(toks) - n + 1):
                yield tuple(toks[i : i + n])

    spark.udtf.register("ngram_columns", udtf(NGramColumns))
    _t(spark, sf_dir, "documents").createOrReplaceTempView("udtf_poly_docs_v")
    return spark.sql("""
        SELECT g.w1, g.w2, g.w3, count(*) AS n
        FROM udtf_poly_docs_v d, LATERAL ngram_columns(d.text, 3) g
        GROUP BY g.w1, g.w2, g.w3 ORDER BY n DESC, g.w1, g.w2, g.w3 LIMIT 15
    """)

@register(
    "distributed_topk_tput_bounds",
    oracle="""
        WITH tok AS (
            SELECT doc_id % 8 AS node,
                   unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term
            FROM documents
        ), loc AS (
            SELECT node, term, count(*) AS c FROM tok GROUP BY 1, 2
        ), ranked AS (
            SELECT node, term, c,
                   row_number() OVER (PARTITION BY node ORDER BY c DESC, term) AS rn
            FROM loc
        ), reported AS (
            SELECT node, term, c FROM ranked WHERE rn <= 40
        ), tau AS (
            SELECT node, COALESCE(max(CASE WHEN rn = 40 THEN c END), 0) AS tau
            FROM ranked GROUP BY node
        ), cand AS (
            SELECT DISTINCT term FROM reported
        ), grid AS (
            SELECT cand.term, tau.node, tau.tau FROM cand CROSS JOIN tau
        ), bounds AS (
            SELECT g.term,
                   CAST(sum(COALESCE(r.c, 0)) AS BIGINT) AS lower_bound,
                   CAST(sum(COALESCE(r.c, g.tau)) AS BIGINT) AS upper_bound
            FROM grid g
            LEFT JOIN reported r ON r.node = g.node AND r.term = g.term
            GROUP BY g.term
        ), exact AS (
            SELECT t.term, CAST(count(*) AS BIGINT) AS exact_count
            FROM tok t JOIN cand USING (term)
            GROUP BY t.term
        ), tail AS (
            SELECT CAST(sum(tau) AS BIGINT) AS tail_cap FROM tau
        )
        SELECT b.term, e.exact_count, b.lower_bound, b.upper_bound,
               (b.lower_bound <= e.exact_count
                AND e.exact_count <= b.upper_bound) AS bounds_ok,
               tail.tail_cap,
               (e.exact_count > tail.tail_cap) AS membership_certified
        FROM bounds b JOIN exact e USING (term), tail
        ORDER BY e.exact_count DESC, b.term
        LIMIT 20
    """,
    doc="Two-round distributed top-k with certified bounds (the "
        "TPUT/threshold-algorithm family, Cao & Wang PODC'04): round 1 "
        "ships only each node's local top-40 (terms + counts) plus its "
        "threshold tau = the 40th local count; round 2 fetches exact "
        "counts for the candidate union only. For every candidate the "
        "shipped partials give lower <= exact <= upper (upper caps "
        "non-reporting nodes at their tau), and exact > sum(tau) "
        "certifies top-k membership from round-1 data alone, since any "
        "term NO node reported is globally bounded by sum(tau). Nodes "
        "are simulated as doc_id % 8 so the oracle replays the exact "
        "same placement; all math is integer, hash-stable. Scale "
        "shape: the full term dictionary is aggregated per node but "
        "NEVER crosses nodes — the inter-node shuffle is m*P candidate "
        "rows plus a broadcast semi-join fetch, the whole point of the "
        "protocol at 100 TB where the tail dictionary dwarfs the "
        "head. Here a node's top-m is a window over its local counts; "
        "on a real cluster the same role is played by the map-side "
        "partial agg feeding a size-m heap (SURVEY.md 2.6 O3 [EXT] "
        "scale path).",
    tags=("llm", "text", "topk", "sketch"),
)
def distributed_topk_tput_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        (F.col("doc_id") % 8).alias("node"),
        F.explode(TS.tokens("text")).alias("term"),
    )
    return _tput_topk(tok, m=40, k=20)

def _tput_topk(tok: DataFrame, m: int, k: int) -> DataFrame:
    """TPUT two-round top-k over ``tok`` (node, term): round 1 ships
    each node's local top-m and its threshold tau; round 2 fetches
    exact counts for the candidate union. Returns the exact top-k with
    the round-1 [lower, upper] bound pair, the global tail cap
    sum(tau), and the membership certificate exact > sum(tau)."""
    from pyspark.sql import Window

    local = tok.groupBy("node", "term").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("node").orderBy(F.desc("c"), "term")
    # r12 wave 4: the materialization barrier moved one operator LATER —
    # it sat on `local`, but BOTH consumers (reported, tau) read
    # `ranked`, so the per-node ranking window ran twice; pinning the
    # ranked frame (same row count, one extra int) runs groupBy+window
    # once (guide §1.2). Wall-neutral at sf0.1 (interleaved A/B medians
    # 1.29 vs 1.27 — the window over the pinned dictionary was cheap
    # here); kept for the structural one-window plan.
    ranked = local.withColumn("rn", F.row_number().over(w)).localCheckpoint(
        eager=True
    )
    reported = ranked.filter(F.col("rn") <= m).select("node", "term", "c")
    # tau = the m-th local count; a node with < m distinct terms reported
    # everything it has, so its cap for unreported terms is exactly 0
    tau = ranked.groupBy("node").agg(
        F.coalesce(
            F.max(F.when(F.col("rn") == m, F.col("c"))), F.lit(0).cast("long")
        ).alias("tau")
    )
    cand = reported.select("term").distinct()
    grid = cand.crossJoin(F.broadcast(tau))  # |cand| x 8, both sides tiny
    bounds = (
        grid.join(reported, ["node", "term"], "left")
        .groupBy("term")
        .agg(
            F.sum(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("lower_bound"),
            F.sum(F.coalesce(F.col("c"), F.col("tau"))).cast("long").alias("upper_bound"),
        )
    )
    # round 2: exact counts for candidates only — the semi-join pushes the
    # candidate filter below the groupBy, so the second pass aggregates
    # the head terms, not the dictionary tail
    exact = (
        tok.join(F.broadcast(cand), "term", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    tail = tau.agg(F.sum("tau").cast("long").alias("tail_cap"))
    return (
        bounds.join(exact, "term")
        .crossJoin(F.broadcast(tail))
        .orderBy(F.desc("exact_count"), "term")
        .limit(k)
        .select(
            "term",
            "exact_count",
            "lower_bound",
            "upper_bound",
            (
                (F.col("lower_bound") <= F.col("exact_count"))
                & (F.col("exact_count") <= F.col("upper_bound"))
            ).alias("bounds_ok"),
            "tail_cap",
            (F.col("exact_count") > F.col("tail_cap")).alias("membership_certified"),
        )
    )

@register(
    "hybrid_rrf_retrieval",
    oracle="""
        WITH toks AS (
            SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS toks
            FROM documents
        ), dl AS (
            SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks
        ), stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                   CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
        ), tf AS (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest(toks) AS term FROM toks)
            WHERE term IN ('spark','join','filter') GROUP BY doc_id, term
        ), idf AS (
            SELECT term, ln(1.0 + (s.n_docs - df + 0.5) / (df + 0.5)) AS idf
            FROM (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
                 stats s
        ), contrib AS (
            SELECT tf.doc_id, tf.term,
                   idf.idf * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS c
            FROM tf JOIN idf USING (term) JOIN dl USING (doc_id), stats s
        ), lex AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY
                       coalesce(sum(CASE WHEN term = 'spark'  THEN c END), 0)
                     + coalesce(sum(CASE WHEN term = 'join'   THEN c END), 0)
                     + coalesce(sum(CASE WHEN term = 'filter' THEN c END), 0) DESC,
                       doc_id) AS lex_rank
            FROM contrib GROUP BY doc_id
            QUALIFY lex_rank <= 50
        ), q AS (
            SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0
        ), dense AS (
            SELECT vec_id AS doc_id,
                   row_number() OVER (ORDER BY
                       list_dot_product(q.qvec, e.embedding::DOUBLE[]) /
                       (sqrt(list_dot_product(q.qvec, q.qvec)) *
                        sqrt(list_dot_product(e.embedding::DOUBLE[],
                                              e.embedding::DOUBLE[]))) DESC,
                       vec_id) AS dense_rank
            FROM embeddings e, q
            WHERE e.vec_id != 0
            QUALIFY dense_rank <= 50
        ), fused AS (
            SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
                   l.lex_rank, d.dense_rank,
                   COALESCE(1.0 / (60 + l.lex_rank), 0.0)
                 + COALESCE(1.0 / (60 + d.dense_rank), 0.0) AS rrf
            FROM lex l FULL OUTER JOIN dense d USING (doc_id)
        )
        SELECT doc_id, lex_rank, dense_rank,
               round(rrf, 6) AS rrf_score,
               CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT)
                   AS fused_rank
        FROM fused QUALIFY fused_rank <= 20
    """,
    doc="Hybrid retrieval via reciprocal-rank fusion (Cormack et al. "
        "SIGIR'09, the standard sparse+dense combiner in RAG stacks): "
        "BM25 top-50 for {spark, join, filter} fused with cosine "
        "top-50 against doc 0's embedding by "
        "rrf = sum 1/(60+rank), full-outer on doc_id so an item "
        "missing from one ranker keeps its other leg (the testdata has "
        "embeddings for only a prefix of the corpus at sf0.1 — exactly "
        "the partial-coverage case RRF absorbs). Determinism: both "
        "legs rank on raw doubles that are bit-identical cross-engine "
        "(BM25's fixed-order conditional sums; the pinned left-fold "
        "dot product), and the fused score is a two-term fixed-order "
        "sum of exact rationals 1/(60+r). Scale shape: each leg is "
        "already scale-shaped (inverted index / broadcast query); the "
        "fusion itself joins two <=50-row sides — driver-free and "
        "constant-cost no matter the corpus (SURVEY.md 2.11 "
        "retrieval [EXT]).",
    tags=("llm", "retrieval", "similarity"),
)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = bm25_over(docs, k=50).select("doc_id", F.col("rank").alias("lex_rank"))
    dense = S.cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=50).select(
        F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("dense_rank")
    )
    fused = lex.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "dense_rank",
        (
            F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("dense_rank")), F.lit(0.0))
        ).alias("rrf"),
    )
    w = Window.orderBy(F.col("rrf").desc(), "doc_id")
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= 20)
        .select(
            "doc_id",
            "lex_rank",
            "dense_rank",
            F.round("rrf", 6).alias("rrf_score"),
            "fused_rank",
        )
    )


# This module was split out of the former monolithic queries/llm.py (round 6);
# registry names and semantics are unchanged. Reference citations live in the
# individual docstrings.


@register(
    "phrase_match_positional_index",
    oracle="""
        WITH t AS (
            SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
            FROM documents
        ),
        pos AS (
            SELECT doc_id, toks[i] AS tok, CAST(i AS BIGINT) AS pos
            FROM t, unnest(generate_series(1, len(toks))) AS u(i)
        )
        SELECT a.doc_id, a.pos AS start_pos
        FROM pos a
        JOIN pos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 AND b.tok = 'hash'
        JOIN pos c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2 AND c.tok = 'batch'
        WHERE a.tok = 'slow'
    """,
    doc="Exact phrase search ('slow hash batch') via a positional "
        "inverted index (operators/textstats.py::phrase_match): posting "
        "lists per term with 1-based positions, intersected on (doc, "
        "aligned position) — each join side is pre-filtered to one term "
        "so only the phrase terms' postings are scanned or shuffled, "
        "never the corpus text. The retrieval-engine plan (Lucene-style "
        "positional intersection) vs the oracle's self-join restatement; "
        "at scale the postings table is bucketed by token so the "
        "intersection is co-located (§2.11 retrieval).",
    tags=("llm", "retrieval", "phrase", "index"),
)
def phrase_match_positional_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    postings = TS.positional_postings(_t(spark, sf_dir, "documents"), "doc_id", "text")
    return TS.phrase_match(postings, "doc_id", "slow hash batch")

"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram
Jaccard (SURVEY.md §2.11 [EXT]).

Scale design (100 TB corpus):
- exact: hash first (xxhash64 of normalized text), group on the 8-byte
  hash — the shuffle carries hashes + ids, never the documents.
- minhash: signatures are computed scan-side with Catalyst HOFs (no
  UDF, no shuffle); LSH banding turns near-dup search into an
  equi-join on (band, band_hash) — the only shuffle is by bucket key,
  and bucket sizes are bounded by the band width choice.
- candidate verification + cluster representative selection run on the
  candidate-pair graph, which is orders of magnitude smaller than the
  corpus; min-propagation iterates a bounded number of rounds
  (connected components lite — full CC is iterate-to-fixpoint with the
  same step).
- simhash: 64-bit signature via bit-vote aggregation, Hamming-bucketed
  by 16-bit chunks for candidate generation.
"""

from __future__ import annotations

import random
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..checkpointing import pin
from .textstats import HASH_MOD, tokens, word_shingles

# Mersenne prime 2^31-1: minhash mixing stays below 2^62, so the affine
# mixes are safe under ANSI arithmetic (no silent/throwing overflow).
_P31 = 2_147_483_647
_MIX_SEED = 0xC0FFEE5EED
#: largest batch-batch edge count near_dedup_incremental clusters with
#: the exact driver union-find; larger graphs take the exact
#: distributed star contraction (neither path under-merges)
_DRIVER_CLUSTER_MAX_EDGES = 1_000_000


def normalized_text(col, lower: bool = True):
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(F.trim(c), "\\s+", " ")
    return F.lower(c) if lower else c


def exact_dedup(df: DataFrame, id_col: str, text_col: str, normalize: bool = True) -> DataFrame:
    """Keep the minimum id per distinct (normalized) text. The group key
    is a 128-bit double xxhash64 of the normalized text, so the
    pre-aggregated shuffle moves 16-byte keys + ids — never the
    documents. (Collision odds at 10^11 docs ≈ 10^-16; an engine that
    needs certainty groups the handful of same-key ties by text in a
    second residual pass.)"""
    norm = normalized_text(text_col) if normalize else F.col(text_col)
    hashed = df.select(
        F.col(id_col),
        F.xxhash64(norm).alias("__h1"),
        F.xxhash64(norm, F.lit(1)).alias("__h2"),
    )
    keep = hashed.groupBy("__h1", "__h2").agg(F.min(id_col).alias(id_col))
    return df.join(keep.select(id_col), on=id_col, how="inner")


def hashed_shingles(col, shingle_n: int = 3) -> Column:
    """64-bit xxhash per distinct word shingle — the corpus text is read
    ONCE into an ``array<long>`` that feeds both the minhash signatures
    and the exact-Jaccard verify step (Jaccard over distinct 64-bit
    hashes equals Jaccard over the shingle strings up to a ~n²/2⁶⁴
    collision chance per pair). Long arrays persist ~3× smaller and
    intersect faster than the shingle strings."""
    return F.array_distinct(
        F.transform(word_shingles(col, shingle_n), lambda s: F.xxhash64(s))
    )


def _minhash_sig_from_hashes(hashes: Column, num_hashes: int) -> Column:
    """Fused minhash signature from pre-hashed shingles: ONE traversal.

    Per shingle hash, pmod into 31 bits → the num_hashes affine mixes
    (a·h+b mod p, the classic universal family) fold into a
    num_hashes-wide running minimum via ``aggregate`` + ``zip_with``.
    Versus the obvious num_hashes×(transform + array_min) formulation
    this materializes no intermediate arrays and needs no persist
    barrier against projection collapse (there is only one pass to
    collapse into) — measured ~1.5× faster end-to-end at sf0.1."""
    rnd = random.Random(_MIX_SEED)
    coeffs = F.array(*[
        F.struct(
            F.lit(rnd.randrange(1, _P31)).cast("long").alias("a"),
            F.lit(rnd.randrange(_P31)).cast("long").alias("b"),
        )
        for _ in range(num_hashes)
    ])
    base = F.transform(hashes, lambda h: F.pmod(h, F.lit(_P31)))
    folded = F.aggregate(
        base,
        F.array_repeat(F.lit(_P31).cast("long"), num_hashes),
        lambda acc, h: F.zip_with(
            acc,
            coeffs,
            # h is the outer lambda's element: one pmod per shingle,
            # reused across all num_hashes mixes
            lambda m, c: F.least(m, F.pmod(c["a"] * h + c["b"], F.lit(_P31))),
        ),
    )
    # empty shingle array → all-null signature (array_min semantics of
    # the unfused formulation), not the accumulator sentinel
    return F.when(
        F.size(hashes) > 0, folded
    ).otherwise(F.array_repeat(F.lit(None).cast("long"), num_hashes))


def _minhash_sig_expr(shingles: Column, num_hashes: int) -> Column:
    """Minhash signature straight from shingle strings (hash + fold in
    one expression); values identical to ``_minhash_sig_from_hashes``
    over ``transform(shingles, xxhash64)``."""
    return _minhash_sig_from_hashes(
        F.transform(shingles, lambda s: F.xxhash64(s)), num_hashes
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_n: int = 3,
    hash_fn: str = "xxhash",
) -> DataFrame:
    """(id, signature array<long>) — minhash over word shingles.

    ``hash_fn="xxhash"`` (default): seed-mixed ``xxhash64`` per hash
    function, fused into a single scan-side pass — the production path.
    ``hash_fn="portable"``: polynomial fold hash whose arithmetic
    reproduces in ANSI SQL (list_reduce) — used only where signature
    VALUES are oracle-checked; ~10× slower (per-char HOF fold)."""
    shingles = word_shingles(text_col, shingle_n)
    if hash_fn == "xxhash":
        sc = df.sparkSession.sparkContext
        src = df
        if src.rdd.getNumPartitions() < sc.defaultParallelism:
            # compute-bound stage: don't let a few input files serialize it
            src = src.repartition(sc.defaultParallelism)
        return src.select(
            F.col(id_col), _minhash_sig_expr(shingles, num_hashes).alias("signature")
        )
    # One char-fold pass per shingle computes (P, 31^n mod p); each
    # seed's hash is then the O(1) modular identity
    #     fold(seed_init, chars) = (seed_init · 31^n + P) mod p
    # — 32 seeds cost 32 multiplies, not 32 char folds. Values are
    # bit-identical to the per-seed fold (what the SQL oracle computes).
    base = F.transform(
        shingles,
        lambda s: F.aggregate(
            F.split(s, ""),
            F.struct(
                F.lit(0).cast("long").alias("h"),
                F.lit(1).cast("long").alias("pw"),
            ),
            lambda acc, ch: F.struct(
                ((acc["h"] * 31 + F.ascii(ch)) % HASH_MOD).alias("h"),
                ((acc["pw"] * 31) % HASH_MOD).alias("pw"),
            ),
        ),
    )

    def min_hash(seed: int):
        init = seed * 131 + 7
        # NB: unary lambda — Spark passes the array index to binary
        # lambdas, which would shadow the seed.
        return F.array_min(
            F.transform(base, lambda x: (F.lit(init) * x["pw"] + x["h"]) % HASH_MOD)
        )

    sig = F.array(*[min_hash(i) for i in range(num_hashes)])
    return df.select(F.col(id_col), sig.alias("signature"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    bands: int = 4,
    num_hashes: int | None = None,
    with_signatures: bool = True,
) -> DataFrame:
    """Band the signatures and self-join on (band, band_hash): docs
    sharing any band become candidate pairs (a < b). The join key is
    tiny; skew only occurs if a band value is degenerate (guarded by
    hashing the whole band slice).

    Pass ``num_hashes`` to avoid triggering a job just to read the
    signature width."""
    if num_hashes is None:
        num_hashes = signatures.select(F.size("signature")).first()[0]
    rows_per_band = max(1, num_hashes // bands)
    banded = signatures.select(
        F.col(id_col),
        F.col("signature"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        F.slice("signature", b * rows_per_band + 1, rows_per_band)
                    ).alias("band_hash"),
                )
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select(id_col, "signature", "bk.band", "bk.band_hash")
    if not with_signatures:
        # exact-verify callers re-score from shingles; dropping the
        # signature arrays here keeps the dedup shuffle to 16-byte rows
        banded = banded.drop("signature")
    a = banded.alias("a")
    b = banded.alias("b")
    pair_cols = [
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
    ]
    if with_signatures:
        pair_cols += [
            F.col("a.signature").alias("sig_a"),
            F.col("b.signature").alias("sig_b"),
        ]
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(*pair_cols)
        .distinct()
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.6,
    shingle_n: int = 3,
    verify_exact: bool = False,
    hash_fn: str = "xxhash",
    materialize: bool = True,
) -> DataFrame:
    """Candidate pairs clearing the similarity threshold.

    ``verify_exact=False``: threshold applies to the estimated Jaccard
    (signature agreement fraction) — cheapest, recall/precision per the
    usual S-curve. ``verify_exact=True``: candidates are re-scored with
    the exact shingle-set Jaccard (array_intersect/union over the
    64-bit shingle hashes) — the standard verify step; cost is
    |candidates|, not |corpus|².

    The result is MATERIALIZED (localCheckpoint) before returning: the
    pair graph is orders of magnitude smaller than the corpus, and the
    eager barrier lets the scan-side persist scaffolding be released
    immediately — repeat invocations in one session stay flat instead
    of accumulating cached blocks. ``materialize=False`` is a physical
    hint for SINGLE-consumer callers (e.g. a driver union-find that
    collects the pairs exactly once, r12 wave 5): the pipeline then
    runs once inside the consumer's own action and the extra
    materialization job is skipped. Leave True when the pairs feed
    more than one action/consumer. NOTE (r12 ADVICE): the flag only
    applies to the default xxhash path — the portable
    ``hash_fn != "xxhash"`` branch below ALWAYS localCheckpoints its
    result, because it must materialize before ``sigs.unpersist()``
    anyway; passing materialize=False there is accepted and
    ignored."""
    if hash_fn != "xxhash":
        # portable fold-hash path (oracle value checks only): shingle
        # STRINGS feed both signatures and verify — ~10× slower
        sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n, hash_fn).persist()
        cands = lsh_candidate_pairs(
            sigs, id_col, bands, num_hashes=num_hashes, with_signatures=not verify_exact
        )
        if verify_exact:
            sh = df.select(F.col(id_col), word_shingles(text_col, shingle_n).alias("hh"))
            out = _verify_pairs(cands, sh, id_col, threshold)
        else:
            out = _estimate_pairs(cands, num_hashes, threshold)
        out = out.localCheckpoint()
        sigs.unpersist()
        return out
    sc = df.sparkSession.sparkContext
    src = df
    if src.rdd.getNumPartitions() < sc.defaultParallelism:
        src = src.repartition(sc.defaultParallelism)  # shingle pass is compute-bound
    # ONE tokenize/shingle/hash pass feeds both the signatures and the
    # exact verify step — the corpus text is read and shingled exactly
    # once, and only long arrays are ever persisted or shuffled
    per_doc = src.select(
        F.col(id_col), hashed_shingles(text_col, shingle_n).alias("hh")
    ).select(
        id_col, "hh", _minhash_sig_from_hashes(F.col("hh"), num_hashes).alias("signature")
    )
    # materialize once as raw UnsafeRow blocks (localCheckpoint via pin),
    # NOT .persist(): building the columnar in-memory cache over the hh
    # long-arrays costs more than the compute it saves, and at sf0.1 it
    # is BIMODAL — interleaved A/B (4 reps) measured persist+count at
    # 2.1s median per_doc with 15s outliers vs 1.1s flat for the
    # checkpoint; end-to-end pairs pipeline 4.05s -> 2.84s median. The
    # outliers were the bench's long-suspected near-dedup 15-28s spikes
    # (guide §5: cache only when recompute beats the memory pressure —
    # here it does not).
    per_doc = pin(per_doc)
    cands = lsh_candidate_pairs(
        per_doc.select(id_col, "signature"), id_col, bands,
        num_hashes=num_hashes, with_signatures=not verify_exact,
    )
    if verify_exact:
        out = _verify_pairs(cands, per_doc.select(id_col, "hh"), id_col, threshold)
    else:
        out = _estimate_pairs(cands, num_hashes, threshold)
    if materialize:
        out = out.localCheckpoint()
    return out


def _estimate_pairs(cands: DataFrame, num_hashes: int, threshold: float) -> DataFrame:
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
        .cast("double") / F.lit(float(num_hashes))
    )
    return cands.select("id_a", "id_b", F.round(est, 6).alias("est_jaccard")).filter(
        F.col("est_jaccard") >= threshold
    )


def _verify_pairs(
    cands: DataFrame, shingle_sets: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard over the candidate pairs: join each side's shingle
    set (hash arrays on the fast path) back by id. The per-doc side is
    corpus-sized but tiny rows; AQE broadcasts it when it fits."""
    sa = shingle_sets.select(F.col(id_col).alias("id_a"), F.col("hh").alias("hh_a"))
    sb = shingle_sets.select(F.col(id_col).alias("id_b"), F.col("hh").alias("hh_b"))
    return (
        cands.select("id_a", "id_b")
        .join(sa, "id_a").join(sb, "id_b")
        .select(
            "id_a", "id_b",
            F.round(
                F.size(F.array_intersect("hh_a", "hh_b")).cast("double")
                / F.size(F.array_union("hh_a", "hh_b")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _prefix_filter_candidates(
    toks: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Shared SSJoin/PPJoin candidate core over distinct ``(id, tok)``
    rows: global rarest-first canonical order (corpus frequency asc,
    token asc), guarded prefix length, guarded symmetric size filter,
    prefix-key equi-join. Both ``ngram_jaccard_pairs`` and
    ``prefix_filter_jaccard_pairs`` route through this so the
    FP-ceiling guard lives in exactly one place (round-6 lesson:
    sibling implementations diverge silently).

    The guard: ``alpha = ceil(t*n)`` must never round UP past the true
    integer — IEEE doubles give ``ceil(0.55*100)=56`` (true 55) and
    ``ceil(0.7*10)=8`` (true 7), which SHORTENS the prefix below the
    lemma's bound and silently drops qualifying pairs (false
    negatives in an operator whose contract is "bit-identical to the
    naive join"). Shaving ``t - 1e-9`` before every ceil can only
    LENGTHEN the prefix / LOOSEN the size filter — extra candidates
    are discarded by exact verification, so completeness is restored
    and the verified output is unchanged.

    ``toks`` is consumed three times (frequency agg, prefix ranking,
    and typically the caller's verify join) — callers localCheckpoint
    it before passing it in.
    """
    t = float(threshold)
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("ftok"))
    sizes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy(id_col).orderBy("ftok", "tok")
    ranked = (
        toks.join(freq, "tok")
        .withColumn("rn", F.row_number().over(w))
        .join(sizes, id_col)
    )

    def _alpha(n_col):
        return F.ceil(n_col * F.lit(t - 1e-9))

    prefix = ranked.filter(
        F.col("rn") <= F.col("n") - _alpha(F.col("n")) + 1
    ).select(id_col, "n", "tok")
    a, b = prefix.alias("a"), prefix.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (F.col("b.n") >= _alpha(F.col("a.n")))
            & (F.col("a.n") >= _alpha(F.col("b.n"))),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    shingle_n: int = 3,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity self-join via prefix filtering —
    the parallel set-similarity join of Vernica/Carey/Li (SIGMOD 2010),
    which is how this stays exact AND sub-quadratic at corpus scale.

    Naive explode-and-join keys the shuffle on the shingle, so a
    stop-shingle appearing in k docs contributes k² candidate rows —
    quadratic blowup on exactly the shingles that carry no signal. The
    prefix-filter theorem removes them losslessly: order each doc's
    shingles by ascending global document frequency (rarest first,
    shingle string as tie-break — a global canonical order); for
    Jaccard ≥ t, any qualifying pair must share its minimal common
    shingle within both docs' first ``n − ⌈t·n⌉ + 1`` shingles.
    Candidates are therefore generated ONLY from these prefixes — hot
    stop-shingles sort last and never enter candidate generation — and
    each candidate is verified with the full shingle arrays
    (array_intersect/union), so the output is bit-identical to the
    naive join (the SQL oracle still computes the quadratic version).
    The size filter |B| ≥ ⌈t·|A|⌉ (implied by J ≥ t) prunes further.

    Candidate generation is the shared ``_prefix_filter_candidates``
    core (also used by ``prefix_filter_jaccard_pairs``), which carries
    the FP-ceiling guard — ``ceil`` of an IEEE product like 0.55·100
    can round UP past the true integer and shorten the prefix below
    the lemma's bound, a silent false negative. One guarded core, no
    sibling divergence.
    """
    sh_arr = df.select(F.col(id_col), word_shingles(text_col, shingle_n).alias("sh"))
    toks = sh_arr.select(
        F.col(id_col), F.explode("sh").alias("tok")
    ).localCheckpoint(eager=True)  # consumed 3x inside the candidate core
    cand = _prefix_filter_candidates(toks, id_col, threshold)
    sa = sh_arr.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sh_arr.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    raw = (
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.size(F.array_union("sh_a", "sh_b")).cast("double")
    )
    return (
        cand.join(sa, "id_a").join(sb, "id_b")
        .withColumn("__raw", raw)
        .filter(F.col("__raw") >= threshold)
        .select("id_a", "id_b", F.round("__raw", 6).alias("jaccard"))
    )


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash: xxhash64 each token, vote per bit position
    (+1/-1), sign of the vote is the signature bit. One pass, all
    Catalyst HOFs. Bit masks come from a literal powers-of-two array
    (shiftleft requires a literal shift amount)."""
    powers = F.array(*[F.lit(1 << b).cast("long") for b in range(63)] + [F.lit(-(2**63)).cast("long")])
    tok_hashes = F.transform(tokens(text_col), lambda t: F.xxhash64(t))
    votes = F.aggregate(
        tok_hashes,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, h: F.zip_with(
            acc,
            powers,
            lambda a, p: a + F.when(h.bitwiseAND(p) != 0, 1).otherwise(-1),
        ),
    )
    sig = F.aggregate(
        F.zip_with(votes, powers, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    return df.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 8
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.
    Candidates via 16-bit chunk buckets (pigeonhole: distance ≤ 3
    guarantees a shared chunk; larger distances may be missed — the
    standard recall/cost trade)."""
    sigs = simhash_signatures(df, id_col, text_col)
    chunks = sigs.select(
        id_col, "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk"),
                     F.shiftrightunsigned("simhash", c * 16).bitwiseAND(F.lit(0xFFFF)).alias("chunk_val"))
            for c in range(4)
        ])).alias("ck"),
    ).select(id_col, "simhash", "ck.chunk", "ck.chunk_val")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col("a.chunk_val") == F.col("b.chunk_val"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"),
                F.col("a.simhash").alias("sig_a"), F.col("b.simhash").alias("sig_b"))
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.select("id_a", "id_b", hamming.cast("int").alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def cluster_representatives(
    pairs: DataFrame,
    max_iter: int = 5,
    small_graph: bool = False,
    diameter_unknown: bool = False,
) -> DataFrame:
    """Connected-components-lite: propagate the minimum id along edges
    for ``max_iter`` rounds → (member_id, rep_id). The pair graph is
    tiny relative to the corpus, and near-dup components are
    near-cliques (diameter ~2), so bounded min-propagation is the
    cheap default for THAT shape.

    ``diameter_unknown=True`` is the engine's documented GENERAL-graph
    default: when the pair graph's shape is not known to be clique-like
    (chained paraphrases A~B~C~…, filament dup chains), clustering
    routes to alternating large-star/small-star contraction
    (operators/graph.py::connected_components_star) — O(log d) rounds
    for ANY diameter, verified-fixpoint-or-raise, no round-count
    tuning. Bounded min-propagation at ``max_iter`` rounds silently
    under-merges a component whose diameter exceeds the rounds it ran;
    star contraction cannot (it raises rather than return a partial
    contraction). ``max_iter`` applies only to the bounded path, and
    combining ``diameter_unknown`` with ``small_graph`` raises — they
    are conflicting physical hints.

    ``small_graph=True`` is a physical hint (like ``broadcast()``): the
    caller asserts the pair graph fits on one machine, so clustering
    runs as a driver-side union-find over the collected edge list —
    exact connected components in O(E·α), zero Spark rounds (the same
    collect-the-small-side pattern MLlib's k-means|| uses for its O(k)
    candidate set). The collect is O(pair graph), NOT O(corpus): at
    near-dup thresholds the verified pair graph is dup-clusters-sized,
    orders of magnitude below the corpus. Leave False when the graph
    may be large — the default path is scale-safe shuffle-join
    min-propagation (AQE still converts to broadcast when stats allow).

    Both paths yield min-id-per-component reps; the bounded-round path
    stops early once a fixpoint probe proves convergence, and near-dup
    components are near-cliques (diameter ~2), so ``max_iter=5``
    matches exact CC on every corpus we generate (the SQL oracle
    replicates the 5-round propagation)."""
    if diameter_unknown and small_graph:
        raise ValueError(
            "small_graph (collect to the driver) and diameter_unknown "
            "(distributed star contraction) are conflicting physical "
            "hints — pick one"
        )
    if diameter_unknown:
        from .graph import connected_components_star

        edges = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        labels, _rounds = connected_components_star(edges)
        return labels.select(
            F.col("node").alias("member_id"), F.col("label").alias("rep_id")
        )
    if small_graph:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        rows = pairs.select("id_a", "id_b").collect()
        for r in rows:
            a, b = r[0], r[1]
            for v in (a, b):
                if v not in parent:
                    parent[v] = v
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min id directly: the smaller root wins, so
                # every tree root IS its component's min id throughout
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        out = [(m, find(m)) for m in parent]
        spark = pairs.sparkSession
        schema = pairs.select(
            F.col("id_a").alias("member_id"), F.col("id_a").alias("rep_id")
        ).schema
        from ..localrel import local_df

        return local_df(spark, out, schema)
    # localCheckpoint (not just persist): iterative plans otherwise grow
    # the lineage multiplicatively — Catalyst re-analyzes the whole
    # upstream LSH pipeline per round and broadcasts re-execute it. The
    # pair graph is tiny relative to the corpus, so materializing it is
    # the standard iterative-algorithm pattern (same as GraphX/ALS).
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    )
    edges = edges.localCheckpoint()
    rep = edges.select(F.col("src").alias("member_id"), F.col("src").alias("rep_id")).distinct()
    prev_sum = None
    for i in range(max_iter):
        neigh_min = (
            edges.join(rep, edges.dst == rep.member_id)
            .groupBy("src").agg(F.min("rep_id").alias("neigh_rep"))
        )
        rep = rep.join(neigh_min, rep.member_id == neigh_min.src, "left").select(
            "member_id",
            F.least(F.col("rep_id"), F.coalesce("neigh_rep", "rep_id")).alias("rep_id"),
        )
        # Lineage must stay bounded; materialization points double as
        # fixpoint probes. rep_id is monotonically non-increasing per
        # member, so an unchanged sum(rep_id) PROVES convergence — one
        # cheap agg instead of a join-diff, and near-dup components are
        # near-cliques (diameter ~2), so this usually halves the rounds;
        # probe every 2nd round (materialization is real work).
        if i % 2 == 1 or i == max_iter - 1:
            rep = rep.localCheckpoint()
            s = rep.agg(
                F.sum(F.col("rep_id").cast("decimal(38,0)"))  # no 64-bit overflow at scale
            ).first()[0]
            if s == prev_sum:
                break
            prev_sum = s
    return rep


def near_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    small_graph: bool = False,
    **minhash_kwargs,
) -> DataFrame:
    """Full near-dup pipeline: minhash LSH candidates → exact-Jaccard
    verify → clusters → keep only cluster representatives (min id) plus
    all unpaired docs. ``small_graph`` hints the clustering step (see
    ``cluster_representatives``)."""
    minhash_kwargs.setdefault("verify_exact", True)
    if small_graph:
        # the driver union-find collects the pairs exactly once — skip
        # the operator's final materialization job (r12 wave 5)
        minhash_kwargs.setdefault("materialize", False)
    pairs = minhash_near_dup_pairs(df, id_col, text_col, **minhash_kwargs)
    rep = cluster_representatives(pairs, small_graph=small_graph)
    losers = rep.filter(F.col("member_id") != F.col("rep_id")).select(
        F.col("member_id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def build_near_dup_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """One-time dedup index for incremental near-dedup: (id, hh,
    signature). Written once per corpus (parquet/table), reused by every
    subsequent batch — the corpus text is never re-tokenized. Banding is
    applied at join time (a cheap scan-side transform), so one index
    serves any band count with rows_per_band = num_hashes // bands."""
    src = df
    sc = df.sparkSession.sparkContext
    if src.rdd.getNumPartitions() < sc.defaultParallelism:
        src = src.repartition(sc.defaultParallelism)
    return src.select(
        F.col(id_col), hashed_shingles(text_col, shingle_n).alias("hh")
    ).select(
        id_col, "hh", _minhash_sig_from_hashes(F.col("hh"), num_hashes).alias("signature")
    )


def _band_keys(df: DataFrame, id_col: str, bands: int, num_hashes: int) -> DataFrame:
    rows_per_band = max(1, num_hashes // bands)
    return df.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        F.slice("signature", b * rows_per_band + 1, rows_per_band)
                    ).alias("band_hash"),
                )
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.band_hash")


def near_dedup_incremental(
    index: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.7,
    shingle_n: int = 3,
) -> DataFrame:
    """Dedup a NEW batch against an already-indexed corpus plus itself,
    without touching corpus text: the production steady-state where the
    corpus is 100 TB and the daily batch is 0.1% of it.

    ``index`` is ``build_near_dup_index`` output for the kept corpus.
    Candidates come from banding the batch signatures against
    (index ∪ batch) bands — corpus-corpus pairs are never generated
    (the corpus is already deduped; their edges cannot change which
    batch docs survive, see below). Candidates are verified with exact
    shingle-hash Jaccard, then components form over the batch-involving
    edges; a batch doc is kept iff its component contains no corpus doc
    and it is the min batch id in it (corpus-always-wins + min-id rep,
    the same rule ``near_dedup`` applies globally). Correctness note:
    omitting corpus-corpus edges cannot alter the kept set — any batch
    doc adjacent to ANY corpus doc is dropped regardless of how corpus
    docs interconnect, and components without corpus docs have no
    corpus edges to lose.

    Returns the kept batch rows (original ``batch`` columns).
    Scale: cost ∝ |batch| + |candidates|; the index side shuffles only
    (id, band keys) and the hh arrays of candidate ids."""
    b_idx = build_near_dup_index(
        batch, id_col, text_col, num_hashes=num_hashes, shingle_n=shingle_n
    ).persist()
    b_idx.count()
    c_banded = _band_keys(index, id_col, bands, num_hashes).withColumn(
        "is_corpus", F.lit(True)
    )
    b_banded = _band_keys(b_idx, id_col, bands, num_hashes).withColumn(
        "is_corpus", F.lit(False)
    )
    both = c_banded.unionByName(b_banded)
    a, b = b_banded.alias("a"), both.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (
                F.col("b.is_corpus")
                | (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            ),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("b.is_corpus").alias("b_is_corpus"),
        )
        .distinct()
    )
    # exact-Jaccard verify: batch side from b_idx, other side from the
    # union of index and batch hh maps
    hh_all = index.select(F.col(id_col), "hh").unionByName(
        b_idx.select(F.col(id_col), "hh")
    )
    sa = b_idx.select(F.col(id_col).alias("id_a"), F.col("hh").alias("hh_a"))
    sb = hh_all.select(F.col(id_col).alias("id_b"), F.col("hh").alias("hh_b"))
    pairs = (
        cands.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "__j",
            F.size(F.array_intersect("hh_a", "hh_b")).cast("double")
            / F.size(F.array_union("hh_a", "hh_b")).cast("double"),
        )
        .filter(F.col("__j") >= threshold)
        .select("id_a", "id_b", "b_is_corpus")
    )
    # Corpus-always-wins needs NO graph for batch-vs-corpus edges: a
    # batch doc with any corpus-verified pair is dropped regardless of
    # how the rest of the graph looks, so that test is a distributed
    # pre-aggregation — the driver NEVER sees corpus-hit edges. This
    # matters because a boilerplate-heavy batch (one batch doc near-dup
    # with thousands of corpus docs) multiplies batch-corpus pairs
    # ∝ |batch| · corpus-hit-fanout; only the batch-batch residual
    # (bounded by batch-internal dup density, never corpus fanout) may
    # be collected, and only under an edge-count guard.
    pairs = pairs.localCheckpoint()  # verified pair graph, reused 3×
    corpus_hit = (
        pairs.groupBy("id_a")
        .agg(F.max(F.col("b_is_corpus").cast("int")).alias("__h"))
        .filter(F.col("__h") == 1)
        .select(F.col("id_a").alias(id_col))
    )
    bb_edges = pairs.filter(~F.col("b_is_corpus")).select("id_a", "id_b")
    # Exact driver union-find only when the RESIDUAL graph is provably
    # small; otherwise exact star contraction (no collect). Bounded
    # min-propagation would under-merge a duplicate chain longer than
    # its rounds.
    if bb_edges.count() <= _DRIVER_CLUSTER_MAX_EDGES:
        members = cluster_representatives(bb_edges, small_graph=True)
    else:
        members = cluster_representatives(bb_edges, diameter_unknown=True)
    # Transitive corpus poisoning: a batch doc connected to the corpus
    # only THROUGH other batch docs is still dropped (its component
    # contains a corpus doc), matching the global near_dedup rule.
    poisoned = (
        members.join(corpus_hit, members.member_id == corpus_hit[id_col])
        .select("rep_id")
        .distinct()
    )
    drop = (
        corpus_hit  # direct corpus hits (incl. batch-singletons)
        .unionByName(
            members.join(poisoned, "rep_id")
            .select(F.col("member_id").alias(id_col))
        )  # whole components touching the corpus
        .unionByName(
            members.filter(F.col("member_id") != F.col("rep_id"))
            .select(F.col("member_id").alias(id_col))
        )  # non-representatives of clean batch-only components
        .distinct()
    )
    out = batch.join(drop, on=id_col, how="left_anti")
    out = out.localCheckpoint()  # detach result before releasing b_idx
    b_idx.unpersist()
    return out


def duplicate_ngram_fraction(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3
) -> DataFrame:
    """Per-document fraction of distinct word n-grams that also occur in
    at least one OTHER document — the corpus-level duplication signal
    curation pipelines (CCNet / RefinedWeb "duplicate n-gram fraction")
    threshold on before training. Returns (id, n_shingles, n_dup,
    dup_frac).

    Scale shape: an inverted index keyed by the 64-bit shingle hash —
    doc-frequency is a partial-aggregated count, then one hash join back
    to the (shingle, doc) postings. Everything shuffled is an 8-byte
    hash + id; no self-join, so hot stop-shingles cost k postings rows,
    never k² (unlike a candidate join). Linear in corpus tokens.
    """
    sc = df.sparkSession.sparkContext
    # Docs shorter than one shingle are excluded, not given a whole-text
    # pseudo-shingle: two empty docs must not count as mutual dups, and
    # the SQL oracle's `len(words) >= n` filter states the same rule.
    src = df.filter(F.size(tokens(text_col)) >= shingle_n)
    if src.rdd.getNumPartitions() < sc.defaultParallelism:
        # compute-bound shingle stage: don't let a few input files
        # serialize it (same guard as minhash_signatures)
        src = src.repartition(sc.defaultParallelism)
    sh = src.select(
        F.col(id_col),
        F.explode(hashed_shingles(text_col, shingle_n)).alias("__sh"),
    )
    # dfreq via a partition-only window COUNT instead of groupBy+join-
    # back: the join formulation references `sh` twice, and because the
    # dfreq leg partial-aggregates before its exchange the two subtrees
    # differ — no ReusedExchange — so the whole tokenize+shingle+hash
    # explode executed TWICE (the r12 before-plan shows two Scan+
    # Generate chains). count(*) OVER (PARTITION BY __sh) computes the
    # same per-shingle posting count from ONE postings pass; the hot-
    # shingle bound is unchanged (a k-posting shingle costs k rows in
    # one task either way, never k²). Guide §2.4 (remove shuffles
    # outright) + §2.3 (don't recompute what you can reuse).
    per_posting = sh.withColumn(
        "__dfreq", F.count(F.lit(1)).over(Window.partitionBy("__sh"))
    )
    return (
        per_posting
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum((F.col("__dfreq") > 1).cast("long")).alias("n_dup"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_dup",
            F.round(
                F.col("n_dup").cast("double") / F.col("n_shingles").cast("double"), 6
            ).alias("dup_frac"),
        )
    )


def cdc_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 4,
    boundary_modulus: int = 8,
) -> DataFrame:
    """Content-defined chunking (FastCDC-style) over a document frame:
    split each doc's token stream at positions where a rolling
    ``window``-token hash ≡ 0 (mod ``boundary_modulus`` — a true
    modulus, not a FastCDC bitmask: any positive value works, though a
    power of 2 reproduces the mask semantics exactly), yielding
    ``(…passthrough cols, chunk, chunk_tokens)`` with one row per
    chunk. Boundaries are CONTENT-anchored, so an insertion early in a
    doc re-synchronizes chunking after one window — the property that
    makes CDC the storage/corpus dedup standard (fixed grids shift
    everywhere). Cf. FastCDC (Xia et al., USENIX ATC'16); the
    reference has no analog (mandated [EXT], SURVEY.md §2.11).

    Implementation is pure Catalyst HOFs — no UDF in the per-token
    path: each token is fold-hashed ONCE (portable hash, SQL-
    replicable), then each window combines ``window`` token hashes
    with a polynomial accumulate — O(n) per doc for the hashing plus
    O(n·window) cheap integer combines, measured 2.2× faster than
    re-hashing the joined window string per position. Docs shorter
    than the window become a single chunk.
    """
    other_cols = [c for c in docs.columns if c != text_col]
    toks_df = docs.select(*other_cols, tokens(text_col).alias("toks"))
    n = F.size("toks").cast("long")
    th = F.transform("toks", lambda t: _token_fold_hash(t))

    def window_hash(i):
        h = F.element_at(F.col("th"), (i - window + 1).cast("int"))
        for d in range(window - 2, -1, -1):
            h = (h * 31 + F.element_at(F.col("th"), (i - d).cast("int"))) % HASH_MOD
        return h

    bounded = toks_df.withColumn("th", th).select(
        *other_cols, "toks", n.alias("n"),
        F.when(
            n >= window,
            F.filter(
                F.sequence(F.lit(window).cast("long"), n),
                lambda i: window_hash(i) % boundary_modulus == 0,
            ),
        ).otherwise(F.expr("array()").cast("array<long>")).alias("bounds"),
    )
    bps = F.concat(
        F.array(F.lit(0).cast("long")),
        F.col("bounds"),
        F.when(
            (F.size("bounds") > 0) & (F.element_at("bounds", -1) == F.col("n")),
            F.expr("array()").cast("array<long>"),
        ).otherwise(F.array(F.col("n"))),
    )
    chunk_structs = F.transform(
        F.sequence(F.lit(1), F.size("bps") - 1),
        lambda j: F.struct(
            F.array_join(
                F.slice(
                    F.col("toks"),
                    (F.element_at("bps", j) + 1).cast("int"),
                    (F.element_at("bps", j + 1) - F.element_at("bps", j)).cast("int"),
                ),
                " ",
            ).alias("chunk"),
            (F.element_at("bps", j + 1) - F.element_at("bps", j)).alias("chunk_tokens"),
        ),
    )
    return (
        bounded.withColumn("bps", bps)
        .select(*other_cols, F.explode(chunk_structs).alias("c"))
        .select(
            *other_cols,
            F.col("c.chunk").alias("chunk"),
            F.col("c.chunk_tokens").alias("chunk_tokens"),
        )
    )


def _token_fold_hash(tok):
    """fold_hash(token, seed=7) for a lambda-bound token Column."""
    from .textstats import fold_hash

    return fold_hash(tok, 7)


def repeated_substring_excision(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 15,
) -> DataFrame:
    """Exact substring-level deduplication (the ExactSubstr operator of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better", ACL 2022): find every token position that starts a
    ``min_len``-token gram occurring elsewhere in the corpus, keep the
    single canonical occurrence per gram (minimum (doc, pos)), merge
    the flagged positions' spans, and report the excision per document
    — (n_tokens, n_excised, n_spans, n_kept, kept_md5), where kept_md5
    is the md5 of the document with every excised token removed (the
    same closed-form reassembly receipt line_level_dedup_ccnet uses).

    A substring of ≥ L tokens repeats iff every constituent L-gram
    repeats, so the union of duplicated-L-gram spans [p, p+L) is
    exactly the union of maximal repeated substrings of length ≥ L —
    the fixed-L gram table IS the first-L-columns view of the suffix
    array, which is why this matches the paper's suffix-array method
    without a distributed suffix sort.

    Scale shape (all shuffles linear in token count):
    1. per-token fold hash ONCE + per-position polynomial combine —
       scan-side Catalyst HOFs, the measured-2.2×-faster device
       cdc_chunks uses; no gram STRINGS are materialized here.
    2. hash-frequency prefilter: groupBy(gram_hash) with map-side
       combine; only positions whose hash repeats survive. The small
       modulus (HASH_MOD ≈ 2²⁰) makes collisions certain at corpus
       scale, so the prefilter is a SUPERSET filter, never trusted.
    3. exact verify on the surviving candidates only: gram strings are
       built for candidates alone (slice + concat_ws after a join back
       to the token arrays) and grouped exactly — every true duplicate
       survives step 2 (equal grams ⇒ equal hashes), so exact
       frequencies computed on the subset equal corpus-wide truth.
    4. span union / island merge per doc: lag-window over covered
       positions; reassembly via anti-join of token positions against
       the covered set. The DuckDB oracle states the exact one-phase
       semantics (group the gram strings directly) — equal by the
       superset argument — so the hash prefilter is verified, not
       assumed.
    """
    L = min_len
    toks_df = (
        docs.select(F.col(id_col), tokens(text_col).alias("toks"))
        .withColumn("n", F.size("toks").cast("long"))
        .withColumn("th", F.transform("toks", lambda t: _token_fold_hash(t)))
    )
    sc = docs.sparkSession.sparkContext
    if toks_df.rdd.getNumPartitions() < sc.defaultParallelism:
        toks_df = toks_df.repartition(sc.defaultParallelism)
    toks_df = toks_df.localCheckpoint(eager=True)  # referenced 3×

    def gram_hash(i):
        h = F.element_at(F.col("th"), i.cast("int"))
        for d in range(1, L):
            h = (h * 31 + F.element_at(F.col("th"), (i + d).cast("int"))) % HASH_MOD
        return h

    pos = (
        toks_df.filter(F.col("n") >= L)
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1).cast("long"), F.col("n") - L + 1),
                    lambda i: F.struct(
                        i.alias("pos"), gram_hash(i).alias("gh")
                    ),
                )
            ).alias("p"),
        )
        .select(id_col, F.col("p.pos").alias("pos"), F.col("p.gh").alias("gh"))
    )
    hot = (
        pos.groupBy("gh").agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .select("gh")
    )
    cand = (
        pos.join(hot, "gh")
        .join(toks_df.select(id_col, "toks"), id_col)
        .select(
            id_col,
            "pos",
            F.concat_ws(
                " ", F.slice("toks", F.col("pos").cast("int"), L)
            ).alias("gram"),
        )
    )
    # Canonical occurrence = lexicographic min(struct(doc, pos)) — a
    # struct min, NOT an arithmetic doc*K+pos encoding: the encoding
    # collides once a document holds >= K tokens (doc 5 pos K+1 ==
    # doc 6 pos 1) and breaks outright for non-numeric ids, silently
    # mis-canonizing exactly at the corpus scale this operator targets
    # (struct comparison is lexicographic field order on both engines).
    gstats = cand.groupBy("gram").agg(
        F.count("*").alias("n_occ"),
        F.min(F.struct(F.col(id_col).alias("cd"), F.col("pos").alias("cp")))
        .alias("canon"),
    )
    flagged = (
        cand.join(gstats, "gram")
        .filter(
            (F.col("n_occ") > 1)
            & ~(
                (F.col(id_col) == F.col("canon.cd"))
                & (F.col("pos") == F.col("canon.cp"))
            )
        )
        .select(id_col, "pos")
    )
    covered = flagged.select(
        id_col,
        F.explode(F.sequence(F.col("pos"), F.col("pos") + L - 1)).alias("i"),
    ).distinct()
    w = Window.partitionBy(id_col).orderBy("i")
    cov_stats = (
        covered.withColumn(
            "new_span",
            F.when(F.col("i") - F.lag("i").over(w) == 1, F.lit(0))
            .otherwise(F.lit(1))
            .cast("long"),
        )
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_excised"),
            F.sum("new_span").alias("n_spans"),
        )
    )
    # Reassembly cost must be proportional to the DUPLICATES, not the
    # corpus: only docs with covered positions explode/anti-join/regroup
    # (a few % organically); untouched docs take md5 of the unmodified
    # token join straight off the array — same value, zero shuffle.
    touched_ids = covered.select(id_col).distinct()
    touched = toks_df.join(touched_ids, id_col, "left_semi")
    tok_idx = touched.select(
        id_col, F.posexplode("toks").alias("i0", "tok")
    ).select(id_col, (F.col("i0") + 1).cast("long").alias("i"), "tok")
    kept = tok_idx.join(covered, [id_col, "i"], "left_anti")
    kd = kept.groupBy(id_col).agg(
        F.count("*").alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "tok"))),
                    lambda s: s["tok"],
                ),
            )
        ).alias("kept_md5"),
    )
    return (
        toks_df.select(id_col, F.col("n").alias("n_tokens"), "toks")
        .join(cov_stats, id_col, "left")
        .join(kd, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("n_excised", F.lit(0)).cast("long").alias("n_excised"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.when(F.col("n_excised").isNull(), F.col("n_tokens"))
            .otherwise(F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_kept"),
            F.when(
                F.col("n_excised").isNull(),
                F.md5(F.concat_ws(" ", F.col("toks"))),
            )
            .otherwise(F.coalesce("kept_md5", F.md5(F.lit(""))))
            .alias("kept_md5"),
        )
    )


def gram_contamination(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    test_col: str = "is_test",
    min_len: int = 10,
) -> DataFrame:
    """Substring-level train/test contamination audit: for every TEST
    document, count the positions whose ``min_len``-token gram also
    occurs in ANY train document — the n-gram decontamination check
    run before every serious eval (cf. the 13-gram GPT-3 and
    PaLM-style audits; Lee et al. ACL'22 §6.2 measure the same leak
    with the ExactSubstr machinery this reuses). Returns one row per
    test doc: (id, n_tokens, n_contaminated_positions,
    n_distinct_contaminated_grams, max_train_docs_per_gram,
    contaminated).

    Scale shape mirrors :func:`repeated_substring_excision`: per-token
    fold hash + per-position polynomial combine (scan-side HOFs, no
    gram strings), then a hash-group prefilter keeping only hashes
    seen on BOTH sides (a superset of true cross-split grams — the
    small modulus collides by design and is never trusted), then the
    exact gram-string verify on that small candidate set. Test-side
    positions join train-side distinct-doc counts per exact gram —
    every shuffle is linear in token count, and the expensive string
    comparison touches only candidate grams.
    """
    L = min_len
    toks_df = (
        docs.select(
            F.col(id_col),
            F.col(test_col).cast("boolean").alias("__t"),
            tokens(text_col).alias("toks"),
        )
        .withColumn("n", F.size("toks").cast("long"))
        .withColumn("th", F.transform("toks", lambda t: _token_fold_hash(t)))
    )
    sc = docs.sparkSession.sparkContext
    if toks_df.rdd.getNumPartitions() < sc.defaultParallelism:
        toks_df = toks_df.repartition(sc.defaultParallelism)
    toks_df = toks_df.localCheckpoint(eager=True)

    def gram_hash(i):
        h = F.element_at(F.col("th"), i.cast("int"))
        for d in range(1, L):
            h = (h * 31 + F.element_at(F.col("th"), (i + d).cast("int"))) % HASH_MOD
        return h

    pos = (
        toks_df.filter(F.col("n") >= L)
        .select(
            id_col,
            "__t",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1).cast("long"), F.col("n") - L + 1),
                    lambda i: F.struct(i.alias("pos"), gram_hash(i).alias("gh")),
                )
            ).alias("p"),
        )
        .select(id_col, "__t", F.col("p.pos").alias("pos"), F.col("p.gh").alias("gh"))
    )
    both = (
        pos.groupBy("gh")
        .agg(
            F.max(F.col("__t").cast("int")).alias("has_t"),
            F.min(F.col("__t").cast("int")).alias("all_t"),
        )
        .filter((F.col("has_t") == 1) & (F.col("all_t") == 0))
        .select("gh")
    )
    cand = (
        pos.join(both, "gh")
        .join(toks_df.select(id_col, "toks"), id_col)
        .select(
            id_col,
            "__t",
            "pos",
            F.concat_ws(" ", F.slice("toks", F.col("pos").cast("int"), L)).alias(
                "gram"
            ),
        )
    )
    train_grams = (
        cand.filter(~F.col("__t"))
        .groupBy("gram")
        .agg(F.count_distinct(F.col(id_col)).alias("n_train_docs"))
    )
    hits = cand.filter(F.col("__t")).join(train_grams, "gram")
    per_doc = hits.groupBy(id_col).agg(
        F.count("*").alias("n_contaminated_positions"),
        F.count_distinct("gram").alias("n_distinct_contaminated_grams"),
        F.max("n_train_docs").alias("max_train_docs_per_gram"),
    )
    return (
        toks_df.filter(F.col("__t"))
        .select(id_col, F.col("n").alias("n_tokens"))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("n_contaminated_positions", F.lit(0))
            .cast("long")
            .alias("n_contaminated_positions"),
            F.coalesce("n_distinct_contaminated_grams", F.lit(0))
            .cast("long")
            .alias("n_distinct_contaminated_grams"),
            F.coalesce("max_train_docs_per_gram", F.lit(0))
            .cast("long")
            .alias("max_train_docs_per_gram"),
            (F.coalesce("n_contaminated_positions", F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    shingle_n: int | None = None,
) -> DataFrame:
    """EXACT-threshold Jaccard similarity self-join via prefix
    filtering (the SSJoin/PPJoin candidate rule — Chaudhuri et al.
    ICDE'06, Xiao et al. WWW'08): returns every pair with
    J(A, B) >= threshold, with NO false negatives — the exact
    complement to the probabilistic MinHash-LSH path. The set domain
    is word tokens by default, or ``shingle_n``-word shingles (choose
    the domain whose sets discriminate on the corpus at hand: a
    small-vocabulary corpus makes word sets near-degenerate).

    Candidate rule: order each document's distinct tokens by a GLOBAL
    total order (corpus frequency ascending, token ascending — rarest
    first) and emit only the first p = n - ceil(t*n) + 1 tokens as
    join keys. Completeness: J >= t implies |A∩B| >= t*|A∪B| >=
    ceil(t*|A|); if A's p-prefix missed B entirely the intersection
    would fit inside A's last n-p = ceil(t*n)-1 tokens — contradiction
    — and symmetrically for B, so every qualifying pair shares a key
    in BOTH prefixes. Candidates then verify by exact intersection
    count.

    Scale shape vs the naive inverted-index join: only ~(1-t) of each
    document's tokens become join keys, and the global frequency-
    ascending order puts exactly the RAREST tokens in the prefix — the
    hot-token (stopword) buckets that make a full token self-join
    quadratic never become keys at all. Shuffles: one token-frequency
    agg (map-side combine), one per-doc window over that document's
    own tokens (partition = doc, bounded by doc length), the
    prefix-key equi-join, and one verify join proportional to the
    CANDIDATES, not the corpus squared. The frequency table is only
    used for ORDERING, so it can be stale/sampled at 100 TB without
    affecting correctness (any consistent total order preserves the
    lemma).
    """
    t = float(threshold)
    units = (
        F.array_distinct(word_shingles(text_col, shingle_n))
        if shingle_n
        else F.array_distinct(tokens(text_col))
    )
    # per-doc distinct happens INSIDE the array (scan-side), so no
    # global distinct() exchange is needed — (id, tok) rows are unique
    # by construction
    toks = df.select(F.col(id_col), F.explode(units).alias("tok")).localCheckpoint(
        eager=True  # consumed 3x (candidate core) + verify
    )
    # Candidate generation (prefix ranking, FP-ceiling guard, size
    # filter) is the shared `_prefix_filter_candidates` core — see its
    # docstring for the guard's correctness argument.
    cand = _prefix_filter_candidates(toks, id_col, threshold)
    sizes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    ta = toks.select(F.col(id_col).alias("id_a"), "tok")
    tb = toks.select(F.col(id_col).alias("id_b"), "tok")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    jac = F.col("n_inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_inter")
    ).cast("double")
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jac >= F.lit(t))
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )

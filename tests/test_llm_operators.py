"""LLM-data operator tests: LSH recall vs exact ground truth,
multimodal stub plumbing, hash determinism (SURVEY §2.11). The Test*
classes at the end pin rewritten operators (dedup, CDC, BM25, language
ID, GD, PQ) against their earlier formulations."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from open_crime_etl_pipeline_spark.io.readers import load_table
from open_crime_etl_pipeline_spark.operators import dedup as D
from open_crime_etl_pipeline_spark.operators import multimodal as M
from open_crime_etl_pipeline_spark.operators import similarity as S
from open_crime_etl_pipeline_spark.operators import textstats as TS
from open_crime_etl_pipeline_spark.operators.dedup import (
    duplicate_ngram_fraction,
    hashed_shingles,
    tokens,
)


@pytest.fixture(scope="module")
def near_corpus(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace("text", "^[a-z]+", "zzz").alias("text"),
    )
    return docs.unionByName(copies).localCheckpoint()


def test_minhash_lsh_recall_vs_exact(spark, near_corpus):
    """Every exact-Jaccard>=0.7 pair must be found by the LSH pipeline
    with verify_exact (recall ~1 at these parameters)."""
    exact = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(near_corpus, "doc_id", "text", threshold=0.7).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in D.minhash_near_dup_pairs(
            near_corpus, "doc_id", "text",
            num_hashes=32, bands=16, threshold=0.7, verify_exact=True,
        ).collect()
    }
    assert lsh == exact  # verify_exact ⇒ precision 1; banding params ⇒ recall 1 here


def test_simhash_finds_perturbed_copies(spark, near_corpus):
    pairs = D.simhash_near_dup_pairs(near_corpus, "doc_id", "text", max_hamming=8)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    true_pairs = {(i, i + 100000) for i in range(500) if (i, i + 100000) in found}
    # SimHash on one-word perturbation: expect the vast majority found
    n_docs = near_corpus.count() // 2
    assert len(true_pairs) >= int(0.8 * n_docs)


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "hello  world"), (2, "Hello world"), (3, "unrelated text")],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in D.exact_dedup(df, "doc_id", "text").collect())
    assert kept == [1, 3]  # whitespace+case normalization unifies 1 and 2


def test_cosine_lsh_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = S.cosine_topk(emb, queries, k=5)
    approx = S.cosine_topk_lsh(emb, queries, dim=64, k=5, n_planes=4, n_tables=8)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_embedding_near_dup_self_consistency(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    doubled = emb.unionByName(
        emb.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label")
    )
    pairs = S.embedding_near_dup_pairs(doubled, threshold=0.999999)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    n = emb.count()
    exact_copies = {(i, i + 100000) for i in range(n)}
    # identical vectors share every LSH bucket → all copies found
    assert exact_copies <= found


def test_multimodal_real_codec_path_raises_for_non_raster(spark, sf_dir):
    """fake=False is now a real BMP/PPM codec; payloads that are neither
    (here: raw UTF-8 text) must still fail loudly, not decode garbage."""
    docs = load_table(spark, sf_dir, "documents").limit(5)
    media = M.synthesize_media(docs)
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        M.decode_and_featurize(media, fake=False).collect()


def test_raster_codec_roundtrip_exact():
    """Driver-side: encode a known gradient to BMP and PPM, decode, and
    check every output against hand-computed sums — including row0_sum_r,
    which catches a decoder that ignores BMP's bottom-up storage, and a
    padded width (w=5 → 15-byte rows padded to 16)."""
    w, h, c = 5, 4, 9
    rows = [[(7 * x + 13 * y + c, 5 * x + 11 * y + c, 3 * x + 2 * y + c)
             for x in range(w)] for y in range(h)]
    exp = (
        w, h,
        sum(7 * x + 13 * y + c for x in range(w) for y in range(h)),
        sum(5 * x + 11 * y + c for x in range(w) for y in range(h)),
        sum(3 * x + 2 * y + c for x in range(w) for y in range(h)),
        sum(7 * x + c for x in range(w)),
    )
    bmp = M.encode_bmp24(w, h, rows)
    ppm = M.encode_ppm6(w, h, rows)
    assert bmp[:2] == b"BM" and len(bmp) == 54 + h * 16  # padded stride
    assert ppm[:2] == b"P6"
    assert M.decode_raster(bmp) == exp + (1,)
    assert M.decode_raster(ppm) == exp + (2,)
    # top-down BMP variant (negative height) must decode identically
    import struct
    topdown = bytearray(M.encode_bmp24(w, h, rows[::-1]))  # rows pre-flipped
    struct.pack_into("<i", topdown, 22, -h)
    assert M.decode_raster(bytes(topdown)) == exp + (1,)


def test_wav_codec_roundtrip_and_chunk_walking():
    """PCM16 WAV: signed negative-heavy ramps round-trip exactly in mono
    and interleaved stereo; a LIST chunk injected BEFORE data (with an
    odd size, exercising word alignment) must be skipped by the chunk
    walker — a decoder that assumes data at byte 44 reads garbage."""
    import struct

    ch0 = [3 * t - 500 for t in range(120)]
    ch1 = [2 * t - 300 for t in range(120)]
    mono = M.encode_wav_pcm16(16000, [ch0])
    stereo = M.encode_wav_pcm16(16000, [ch0, ch1])
    assert M.decode_wav(mono) == (1, 120, sum(ch0), 0, 16000, 0, 3)
    assert M.decode_wav(stereo) == (2, 120, sum(ch0), sum(ch1), 16000, 0, 3)
    # splice an odd-sized LIST chunk between fmt and data
    fmt_end = 12 + 8 + 16
    info = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # pad byte
    hostile = bytearray(mono[:fmt_end] + info + mono[fmt_end:])
    hostile[4:8] = struct.pack("<I", len(hostile) - 8)
    assert M.decode_wav(bytes(hostile)) == (1, 120, sum(ch0), 0, 16000, 0, 3)
    with pytest.raises(NotImplementedError):
        M.decode_wav(b"RIFFxxxxNOPE")
    # 8-bit PCM must be refused, not mis-decoded
    bad = bytearray(mono)
    struct.pack_into("<H", bad, 12 + 8 + 14, 8)  # bits-per-sample field
    with pytest.raises(NotImplementedError):
        M.decode_wav(bytes(bad))


def test_y4m_codec_roundtrip_and_gates():
    """Y4M: encoded frames decode to exact per-frame luma sums; C420
    (the spec default when no C tag is present) and non-Y4M payloads
    are refused rather than mis-decoded with wrong plane sizes."""
    frames = [[[x + 2 * y + 5 * t for x in range(5)] for y in range(4)]
              for t in range(3)]
    payload = M.encode_y4m(5, 4, frames)
    exp = [(t, sum(x + 2 * y + 5 * t for x in range(5) for y in range(4)))
           for t in range(3)]
    assert M.decode_y4m(payload) == exp
    with pytest.raises(NotImplementedError, match="C420"):
        M.decode_y4m(b"YUV4MPEG2 W4 H4 F25:1\nFRAME\n" + bytes(16 + 8))
    with pytest.raises(NotImplementedError):
        M.decode_y4m(b"RIFF not a y4m")


def test_raster_roundtrip_distributed(spark, sf_dir):
    """The full Spark path: synthesize real BMP/PPM payloads, decode with
    the fake=False kernel, and re-check a sample row against the pure
    driver-side decode of the same payload bytes."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id").limit(40)
    media = M.synthesize_raster_media(docs)
    feats = {r.media_id: r.features
             for r in M.decode_and_featurize(media, fake=False).collect()}
    payloads = {r.media_id: bytes(r.payload) for r in media.collect()}
    assert set(feats) == set(payloads)
    for mid, payload in payloads.items():
        expect = [float(v) for v in M.decode_raster(payload)] + [0.0]
        assert feats[mid] == expect, mid
        assert feats[mid][6] == (1.0 if mid % 2 == 0 else 2.0)


def test_multimodal_fake_decode_deterministic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = M.synthesize_media(docs)
    a = M.decode_and_featurize(media, fake=True).orderBy("media_id").collect()
    b = M.decode_and_featurize(media, fake=True).orderBy("media_id").collect()
    assert a == b
    assert all(len(r.features) == M.N_FEATURES for r in a)
    assert all(r.byte_len > 0 for r in a)


def test_frame_sample_bounds(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    frames = M.frame_sample(M.synthesize_media(docs), every_n=5)
    bad = frames.filter((F.col("frame_idx") < 0) | (F.col("frame_idx") >= F.col("n_frames")))
    assert bad.count() == 0


def test_quality_score_range(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    scores = docs.select(TS.quality_score("text").alias("q"))
    out_of_range = scores.filter((F.col("q") < 0) | (F.col("q") > 1)).count()
    assert out_of_range == 0


def test_pii_redaction_on_pii_laden_rows(spark):
    """The synthetic corpus carries no PII, so the driver query sees
    zeros — this exercises the scrub on rows that do contain it."""
    rows = [
        ("mail me at jo.doe+x@ex-ample.co.uk or call 555-867-5309.",),
        ("server 192.168.0.1 and 10.0.0.255; dotted phone 555.123.4567",),
        ("no pii here, just 1234 and a.b",),
        ("two mails: a@b.io c@d.org and ip 8.8.8.8",),
    ]
    df = spark.createDataFrame(rows, "text string")
    counts = TS.pii_counts("text")
    got = df.select(
        TS.pii_redact("text").alias("red"),
        counts["email"].alias("e"), counts["phone"].alias("p"),
        counts["ip"].alias("i"),
    ).collect()
    assert got[0].e == 1 and got[0].p == 1 and got[0].i == 0
    assert "jo.doe" not in got[0].red and "<EMAIL>" in got[0].red
    assert "555-867-5309" not in got[0].red and "<PHONE>" in got[0].red
    assert got[1].i == 2 and got[1].p == 1
    assert "<IP>" in got[1].red and "192.168.0.1" not in got[1].red
    assert got[2].e == got[2].p == got[2].i == 0
    assert got[2].red == rows[2][0]  # clean text passes through unchanged
    assert got[3].e == 2 and got[3].i == 1


def test_bpe_ish_tokens_cover_text(spark):
    df = spark.createDataFrame([("short extravagantly long-word",)], "text string")
    toks = df.select(TS.bpe_ish_tokens("text").alias("t")).first().t
    assert "short" in toks
    assert any(t.startswith("extr") for t in toks)  # long word chunked
    assert all(len(t) <= 6 for t in toks)


def test_ivf_topk_recall_vs_exact(spark, sf_dir):
    from open_crime_etl_pipeline_spark.io.readers import load_table
    from open_crime_etl_pipeline_spark.operators import similarity as S
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id) for r in S.cosine_topk(emb, q, k=5).collect()}
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk_ivf(emb, q, k=5, n_clusters=8, n_probe=4).collect()
    }
    # probing half the clusters must beat the n_probe/n_clusters=0.5
    # uniform baseline (centroid structure is doing work)
    assert len(exact & ivf) / len(exact) >= 0.6
    # every returned neighbor must carry a correct similarity rank shape
    assert all(r.rank <= 5 for r in S.cosine_topk_ivf(emb, q, k=5, n_clusters=8, n_probe=4).collect())


def test_prefix_filter_jaccard_equals_naive_join(spark, near_corpus):
    """The prefix-filtered set-similarity join must be bit-identical to
    the naive explode-and-join formulation (it is an exact algorithm,
    not an approximation) — including low thresholds where prefixes are
    long and stop-shingles would dominate the naive join."""
    for t in (0.3, 0.5, 0.8):
        sh = near_corpus.select(
            "doc_id", F.explode(TS.word_shingles("text", 3)).alias("shingle")
        )
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
        a, b = sh.alias("a"), sh.alias("b")
        inter = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
            .agg(F.count("*").alias("o"))
        )
        naive = {
            (r.id_a, r.id_b, round(r.o / (r.n_a + r.n_b - r.o), 6))
            for r in inter
            .join(sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a")), "id_a")
            .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b")), "id_b")
            .collect()
            if r.o / (r.n_a + r.n_b - r.o) >= t
        }
        fast = {
            (r.id_a, r.id_b, r.jaccard)
            for r in D.ngram_jaccard_pairs(near_corpus, "doc_id", "text", threshold=t).collect()
        }
        assert fast == naive, f"threshold {t}: {fast ^ naive}"


def test_kmeans_parallel_centroids_deterministic_and_balanced(spark, sf_dir):
    """k-means|| init: deterministic (hash-thresholded sampling, no RNG
    state), exactly k centroids, and inverted lists with bounded skew —
    the property that gives IVF its scan-fraction guarantee. (The
    synthetic embeddings are near-uniform, so a recall WIN over hash
    seeding is not assertable here; recall floor is.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    c1 = S.kmeans_parallel_centroids(emb, 6)
    c2 = S.kmeans_parallel_centroids(emb, 6)
    rows1 = sorted(map(str, c1.collect()))
    assert rows1 == sorted(map(str, c2.collect()))
    assert c1.count() == 6
    sizes = [
        r["c"]
        for r in S.ivf_assign(emb, c1).groupBy("cluster_id")
        .agg(F.count("*").alias("c")).collect()
    ]
    assert len(sizes) == 6 and max(sizes) <= 0.5 * n  # no mega-cluster
    q = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk(emb, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk_ivf(
            emb, q, k=5, n_clusters=6, n_probe=4, centroid_init="kmeans||"
        ).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.4  # probes 4/6 of the lists


def test_repetition_metrics_hand_computed(spark):
    """Gopher repetition metrics against hand-computed values."""
    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "x y z"), (3, "q")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in TS.repetition_metrics(df).collect()}
    # doc 1: bigram "a b"×3 (len 3) over 11 chars; all trigrams repeat
    assert got[1].top_ngram == "a b"
    assert got[1].top_ngram_frac == round(9 / 11, 6)
    assert got[1].dup_ngram_frac == 1.0
    # doc 2: tie between "x y"/"y z" breaks to the larger string
    assert got[2].top_ngram == "y z"
    assert got[2].top_ngram_frac == 0.6
    assert got[2].dup_ngram_frac == 0.0
    # doc 3: too short for any bigram
    assert got[3].top_ngram == "" and got[3].top_ngram_frac == 0.0


def test_contamination_overlap_vs_python_ground_truth(spark, sf_dir):
    """Broadcast 3-gram overlap join vs a pure-python reference."""
    import hashlib

    from open_crime_etl_pipeline_spark.queries.llm import contamination_ngram_overlap

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }

    def bucket(doc_id):
        return int(hashlib.md5(f"{doc_id}cont".encode()).hexdigest()[:8], 16) % 100

    def tris(text):
        tk = [t for t in text.split(" ") if t]
        return {" ".join(tk[i:i + 3]) for i in range(len(tk) - 2)}

    bench = set().union(*(tris(t) for d, t in docs.items() if bucket(d) < 5))
    expect = {
        d: (len(tris(t)), len(tris(t) & bench))
        for d, t in docs.items() if bucket(d) >= 5
    }
    got = {
        r.doc_id: (r.n_shingles, r.n_overlap)
        for r in contamination_ngram_overlap(spark, sf_dir).collect()
    }
    assert got == expect and len(got) > 10


def test_quantize_int8_codes_and_reconstruction(spark):
    """Hand-computed codes; dequantization error bounded by half a step;
    constant vectors hit the degenerate-range guard."""
    df = spark.createDataFrame(
        [(1, [0.0, 1.0, 0.5]), (2, [2.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: r for r in S.quantize_int8(df).collect()}
    assert got[1].qvec == [0, 255, 128]  # round(127.5) half-up
    assert (got[1].scale_min, got[1].scale_max) == (0.0, 1.0)
    assert got[2].qvec == [0, 0] and got[2].scale_min == got[2].scale_max == 2.0
    # reconstruction bound on real data: |x - dequant(q)| <= step/2
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(50)
    joined = (
        S.quantize_int8(emb).join(emb, "vec_id")
        .select(
            F.max(
                F.aggregate(
                    F.zip_with(
                        "embedding", "qvec",
                        lambda x, q: F.abs(
                            x.cast("double")
                            - (F.col("scale_min")
                               + q / 255.0 * (F.col("scale_max") - F.col("scale_min")))
                        ),
                    ),
                    F.lit(0.0),
                    lambda acc, x: F.greatest(acc, x),
                )
                - (F.col("scale_max") - F.col("scale_min")) / 510.0
            ).alias("worst_excess")
        )
    )
    assert joined.first().worst_excess <= 1e-9


def test_curation_pipeline_summary_consistent_with_stages(spark, sf_dir):
    """The one-query pipeline must agree with running its stages
    individually."""
    from open_crime_etl_pipeline_spark.operators.sampling import train_val_test_split
    from open_crime_etl_pipeline_spark.queries.llm import curation_pipeline_summary

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "text", TS.quality_score("text").alias("q"))
    kept = scored.filter(F.col("q") >= 0.5)
    deduped = D.exact_dedup(kept, "doc_id", "text")
    expect = {
        r.split: r.n for r in train_val_test_split(deduped, "doc_id", salt="cur")
        .groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    got = {
        r.split: r.n_docs
        for r in curation_pipeline_summary(spark, sf_dir).collect()
    }
    assert got == expect and sum(got.values()) == deduped.count()


def test_cluster_union_find_matches_iterative_on_near_cliques(spark):
    """small_graph=True (driver union-find) and the scale path (bounded
    min-propagation) must assign identical min-id representatives on
    dup-cluster-shaped graphs (near-cliques, the only shape near-dup
    verify emits)."""
    pairs = spark.createDataFrame(
        # two triangles + one pair + self-contained star
        [(1, 2), (2, 3), (1, 3), (10, 11), (20, 21), (20, 22), (20, 23)],
        "id_a long, id_b long",
    )
    uf = {(r.member_id, r.rep_id)
          for r in D.cluster_representatives(pairs, small_graph=True).collect()}
    it = {(r.member_id, r.rep_id)
          for r in D.cluster_representatives(pairs, small_graph=False).collect()}
    assert uf == it
    assert uf == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
                  (20, 20), (21, 20), (22, 20), (23, 20)}


def test_cluster_union_find_exact_on_long_chain(spark):
    """The union-find path computes EXACT connected components even on a
    chain longer than the iterative path's max_iter propagation radius —
    the one graph family where the two paths may legitimately differ."""
    n = 20
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    reps = {r.member_id: r.rep_id
            for r in D.cluster_representatives(pairs, small_graph=True).collect()}
    assert set(reps.values()) == {0}  # one component, min-id rep
    assert len(reps) == n + 1


def test_cluster_diameter_unknown_routes_to_star_equivalently(spark):
    """diameter_unknown=True (the documented general-graph default)
    must equal the other two paths exactly on a REAL LSH pair graph —
    and, unlike the bounded propagation, stay exact on a chain whose
    diameter exceeds the bounded path's effective rounds (the graph
    family the flag exists for)."""
    # real pair graph: minhash LSH candidates + exact verify over a
    # corpus with planted near-dup clusters
    base = ("quick brown fox jumps over the lazy dog near the riverbank "
            "while data pipelines hum along in the background cluster")
    rows = []
    for c in range(6):
        for m in range(4):  # 6 clusters of 4 near-identical docs
            rows.append((c * 10 + m, base + f" cluster{c}" + (" pad" * m)))
    for i in range(100, 130):  # unique background docs
        rows.append((i, f"totally unrelated document number {i} " * 3))
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = D.minhash_near_dup_pairs(
        corpus, "doc_id", "text",
        num_hashes=32, bands=16, threshold=0.7, verify_exact=True,
    ).localCheckpoint()
    assert pairs.count() > 0
    star = {(r.member_id, r.rep_id)
            for r in D.cluster_representatives(
                pairs, diameter_unknown=True).collect()}
    uf = {(r.member_id, r.rep_id)
          for r in D.cluster_representatives(pairs, small_graph=True).collect()}
    bounded = {(r.member_id, r.rep_id)
               for r in D.cluster_representatives(pairs).collect()}
    assert star == uf == bounded

    # adversarial chain (diameter 40): bounded 5-round propagation
    # under-merges; the general-graph default must be exact
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    star_chain = {r.rep_id for r in D.cluster_representatives(
        chain, diameter_unknown=True).collect()}
    assert star_chain == {0}
    bounded_chain = {r.rep_id for r in D.cluster_representatives(
        chain).collect()}
    assert len(bounded_chain) > 1  # the silent under-merge the flag fixes


def test_cluster_union_find_empty_pairs(spark):
    out = D.cluster_representatives(
        spark.createDataFrame([], "id_a long, id_b long"), small_graph=True
    )
    assert out.count() == 0
    assert out.columns == ["member_id", "rep_id"]


def test_bloom_no_false_negatives_and_prefilter_bites(spark):
    from open_crime_etl_pipeline_spark.operators import bloom as B

    small = spark.range(500).select(F.concat(F.lit("k"), "id").alias("sh"))
    big = spark.range(20_000).select(F.concat(F.lit("k"), "id").alias("sh"))
    num_bits, k = 1 << 14, 3
    bits = B.build_bloom(small, "sh", num_bits=num_bits, k=k)
    kept = big.filter(B.might_contain(bits, F.col("sh"), num_bits, k))
    n_kept = kept.count()
    # every true member survives (no false negatives) ...
    assert kept.join(small, "sh", "left_semi").count() == 500
    # ... and the filter removes the overwhelming majority of non-members
    # (16k bits / 500 elems = 32 bits/elem, k=3 → FP ~0.1%)
    assert 500 <= n_kept < 1000


def test_bloom_semi_join_equals_exact_semi_join(spark):
    from open_crime_etl_pipeline_spark.operators import bloom as B

    small = spark.range(300).select((F.col("id") * 7).alias("v"))
    big = spark.range(10_000).select(F.col("id").alias("v"), (F.col("id") % 13).alias("x"))
    got = B.bloom_semi_join(big, small, "v", num_bits=1 << 13, k=3)
    want = big.join(small.distinct(), "v", "left_semi")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_contamination_bloom_matches_exact_variant(spark, sf_dir):
    from open_crime_etl_pipeline_spark.queries.llm import (
        contamination_bloom_prefilter,
        contamination_ngram_overlap,
    )

    a = sorted(map(tuple, contamination_bloom_prefilter(spark, sf_dir).collect()))
    b = sorted(map(tuple, contamination_ngram_overlap(spark, sf_dir).collect()))
    assert a == b


def test_incremental_near_dedup_matches_global_pipeline(spark, sf_dir):
    """near_dedup_incremental(index(corpus), batch) must keep exactly the
    batch rows that near_dedup(corpus ∪ batch) keeps — the incremental
    path skips corpus-corpus candidate generation, which provably cannot
    change which batch docs survive."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 200
    )
    # batch: near-dups of corpus, a batch-internal near-dup pair
    # (reversed text → unrelated to corpus), and fresh docs
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
    inc = {r.doc_id for r in D.near_dedup_incremental(
        idx, batch, "doc_id", "text", num_hashes=32, bands=16, threshold=0.7
    ).select("doc_id").collect()}
    full = D.near_dedup(
        docs.unionByName(batch), "doc_id", "text",
        num_hashes=32, bands=16, threshold=0.7, small_graph=True,
    )
    glob = {r.doc_id for r in full.select("doc_id").collect() if r.doc_id >= 1_000_000}
    assert inc == glob
    # sanity on the scenario itself: near-dups of corpus all dropped,
    # min-id of each batch-internal pair kept, fresh docs kept
    assert not any(1_000_000 <= d < 2_000_000 for d in inc)
    assert {d for d in inc if d >= 5_000_000} == {
        r.doc_id + 5_000_000
        for r in docs.filter(F.col("doc_id") % 5 == 3).collect()}
    assert {d for d in inc if 3_000_000 <= d < 5_000_000} == {
        r.doc_id + 3_000_000
        for r in docs.filter(F.col("doc_id") % 5 == 2).collect()}


def test_incremental_near_dedup_collect_bounded_by_batch_edges(spark, monkeypatch):
    """Boilerplate-heavy batch: ONE batch doc near-dups thousands of
    corpus docs. Batch-corpus pairs (∝ corpus fanout) must be resolved
    by the distributed corpus-hit pre-aggregation — the driver-side
    union-find (cluster_representatives) may only ever see the
    batch-batch residual graph, which here is a single edge (the
    equivalence-to-global test above pins the full drop semantics,
    including transitive corpus poisoning through batch docs)."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [(i, base + f" tail{i}") for i in range(3000)]
        + [(3001, "completely unrelated corpus text about rivers and mountains flowing north")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (1_000_000, base + " tailX"),          # near-dups ~all 3000 corpus docs
            (1_000_001, base + " tailY"),          # corpus-hit AND batch-batch edge to the above
            (2_000_000, "fresh singleton document having no overlap with anything else at all ok"),
        ],
        ["doc_id", "text"],
    )
    seen_edge_counts = []
    orig = D.cluster_representatives

    def spy(pairs, *a, **kw):
        rows = pairs.select("id_a", "id_b").collect()
        seen_edge_counts.append(len(rows))
        assert all(r.id_a >= 1_000_000 and r.id_b >= 1_000_000 for r in rows), (
            "driver-side clustering saw a corpus-involving edge"
        )
        return orig(pairs, *a, **kw)

    monkeypatch.setattr(D, "cluster_representatives", spy)
    idx = D.build_near_dup_index(corpus, "doc_id", "text", num_hashes=32)
    kept = {r.doc_id for r in D.near_dedup_incremental(
        idx, batch, "doc_id", "text", num_hashes=32, bands=16, threshold=0.7
    ).select("doc_id").collect()}
    assert kept == {2_000_000}  # both corpus-hit docs dropped, singleton kept
    assert seen_edge_counts and all(n <= 1 for n in seen_edge_counts), seen_edge_counts


def test_incremental_near_dedup_large_residual_merges_whole_chain(spark, monkeypatch):
    """Past the driver union-find's edge limit the batch-batch graph is
    clustered by exact star contraction. A filament batch: 40-word
    windows shifted 5 words along one run of distinct words, so
    neighbours share 33 of 43 shingles (Jaccard 0.77) and documents two
    apart 28 of 48 (0.58, below the threshold). The chain
    0-100-101-102-103-104-105-50 has diameter 7, past the 5 rounds of
    bounded min-propagation, which would keep both 0 and 50."""
    words = [f"w{i}" for i in range(75)]
    ids = [0, 100, 101, 102, 103, 104, 105, 50]
    batch = spark.createDataFrame(
        [(d, " ".join(words[5 * k:5 * k + 40])) for k, d in enumerate(ids)],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [(900, "an unrelated corpus document about rivers and mountains")],
        "doc_id long, text string",
    )
    idx = D.build_near_dup_index(corpus, "doc_id", "text", num_hashes=32)

    def kept():
        return sorted(r.doc_id for r in D.near_dedup_incremental(
            idx, batch, "doc_id", "text", num_hashes=32, bands=16, threshold=0.7
        ).select("doc_id").collect())

    assert kept() == [0]  # driver union-find
    monkeypatch.setattr(D, "_DRIVER_CLUSTER_MAX_EDGES", 0)
    assert kept() == [0]  # star contraction


def test_duplicate_ngram_fraction_hand_computed(spark):
    """Planted corpus with known shared 3-grams: a twin pair shares ALL
    shingles (dup_frac 1.0); a unique doc shares none (0.0); a doc
    overlapping the twin text on exactly one 3-gram gets 1/its-count."""
    rows = [
        (1, "a b c d e"),        # twins: every shingle duplicated
        (2, "a b c d e"),
        (3, "p q r s t"),        # unique: no shingle appears elsewhere
        (4, "x y a b c"),        # shares exactly "a b c" with the twins
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in D.duplicate_ngram_fraction(df, "doc_id", "text", shingle_n=3).collect()
    }
    assert out[1].n_shingles == 3 and out[1].dup_frac == 1.0
    assert out[2].dup_frac == 1.0
    assert out[3].n_shingles == 3 and out[3].n_dup == 0 and out[3].dup_frac == 0.0
    # doc 4: shingles {"x y a", "y a b", "a b c"}; only "a b c" is shared
    assert out[4].n_shingles == 3 and out[4].n_dup == 1
    assert abs(out[4].dup_frac - round(1 / 3, 6)) < 1e-9


def test_semdedup_drops_twin_keeps_near_threshold(spark):
    """Hand-built vectors: ids 1/2 identical (cosine 1.0 -> dedup, keep
    min id), ids 3/4 at cosine 0.96 (below the 0.99 threshold -> both
    kept), id 5 orthogonal. One cluster forces all pairs examined."""
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0]),
        (3, [0.8, 0.6, 0.0]),
        (4, [0.6, 0.8, 0.0]),
        (5, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r.vec_id: r.had_semantic_dup for r in
           S.semdedup(df, "vec_id", "embedding", n_clusters=1, threshold=0.99).collect()}
    assert set(out) == {1, 3, 4, 5}          # 2 dropped as twin of 1
    assert out[1] is True                     # survivor of a dup group
    assert out[3] is False and out[4] is False and out[5] is False


def test_semdedup_pandas_kernel_equals_catalyst_join(spark, sf_dir):
    """The per-cluster numpy gram-matrix kernel must produce exactly the
    pairs (hence representatives + flags) of the pure-Catalyst cosine
    join, on the planted-twin corpus."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    twins = emb.filter(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(twins)
    p = set(map(tuple, S.semdedup(corpus, "vec_id", "embedding", pairwise="pandas").collect()))
    s = set(map(tuple, S.semdedup(corpus, "vec_id", "embedding", pairwise="sql").collect()))
    assert p == s and len(p) == emb.count()


def test_semdedup_pandas_assign_equals_catalyst_assign(spark, sf_dir):
    """The numpy argmax matmul assignment must yield the same final
    representatives/flags as the Catalyst crossJoin assignment."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    twins = emb.filter(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(twins)
    p = set(map(tuple, S.semdedup(corpus, "vec_id", "embedding", assign="pandas").collect()))
    s = set(map(tuple, S.semdedup(corpus, "vec_id", "embedding", assign="sql").collect()))
    assert p == s


def test_semdedup_zero_vector_agrees_across_modes(spark, sf_dir):
    """An all-zero embedding must not poison either path: norms are
    eps-clamped so the zero vector has affinity/similarity 0 everywhere
    — assigned to cluster 0 by BOTH the numpy argmax and the Catalyst
    NaN-desc ordering, and never emitted as a near-dup pair (the
    unclamped sql path would compare NaN >= threshold as TRUE under
    Spark's NaN ordering and fabricate pairs). Tie caveat: float
    evaluation-order differences can flip true near-tie assignments
    between modes, so this test plants an unambiguous case (zero
    vector), not a near-tie."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").limit(50)
    dim = len(emb.first().embedding)
    zero = spark.createDataFrame(
        [(99_000_000, [0.0] * dim)], "vec_id long, embedding array<double>"
    ).select("vec_id", F.col("embedding").cast(emb.schema["embedding"].dataType))
    corpus = emb.unionByName(zero)
    for kw in ({"pairwise": "pandas", "assign": "pandas"},
               {"pairwise": "sql", "assign": "sql"}):
        out = {r.vec_id: r for r in
               S.semdedup(corpus, "vec_id", "embedding", n_clusters=4, **kw).collect()}
        assert 99_000_000 in out, f"zero vector dropped under {kw}"
        assert not out[99_000_000].had_semantic_dup, f"zero vector flagged dup under {kw}"


def test_duplicate_ngram_fraction_excludes_short_docs(spark):
    """Docs with fewer than shingle_n words are excluded, not collapsed
    to a whole-text pseudo-shingle: two empty/short twins must not mark
    each other as duplicates, matching the oracle's len(words)>=n rule."""
    rows = [(1, "a b"), (2, "a b"), (3, ""), (4, ""), (5, "x y z w")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in
           D.duplicate_ngram_fraction(df, "doc_id", "text", shingle_n=3).collect()}
    assert set(out) == {5}
    assert out[5].n_dup == 0


def test_semdedup_rejects_unknown_mode(spark):
    df = spark.createDataFrame([(1, [1.0, 0.0])], ["vec_id", "embedding"])
    import pytest as _pytest
    with _pytest.raises(ValueError, match="pandas"):
        S.semdedup(df, "vec_id", "embedding", pairwise="panda")


# ---------------------------------------------------------------------------
# Round-3: signal-feature kernels over the real codecs + linalg
# ---------------------------------------------------------------------------

def test_ahash_brightness_invariant_and_pixel_sensitive():
    """aHash must bucket brightness-shifted copies together (the
    perceptual property) yet split on a real pixel change."""
    w, h = 6, 5
    base = [[(7 * x + 13 * y, 5 * x + 11 * y, 3 * x + 2 * y)
             for x in range(w)] for y in range(h)]
    bright = [[(r + 40, g + 40, b + 40) for (r, g, b) in row] for row in base]
    _, _, h_base = M.ahash64(M.encode_bmp24(w, h, base))
    _, _, h_bright = M.ahash64(M.encode_ppm6(w, h, bright))
    assert h_base == h_bright  # shift-invariant, format-independent
    # flipping a dark corner pixel to max flips its threshold bit
    changed = [row[:] for row in base]
    changed[0][0] = (255, 255, 255)
    _, _, h_changed = M.ahash64(M.encode_bmp24(w, h, changed))
    assert h_changed != h_base
    with pytest.raises(NotImplementedError, match="8.8|box-filter"):
        M.ahash64(M.encode_ppm6(9, 8, [[(0, 0, 0)] * 9 for _ in range(8)]))


def test_audio_features_kernel_chunk_walk_and_signs():
    """Features must survive a LIST chunk before data (no byte-44
    assumption) and count sign changes exactly."""
    import struct

    sig = [5, -3, -2, 7, 0, -1]  # crossings at 1, 3, 5 → 3
    wav = M.encode_wav_pcm16(8000, [sig])
    n_ch, n, sumsq, zc, peak = M.audio_features_ch0(wav)
    assert (n_ch, n, peak) == (1, 6, 7)
    assert sumsq == sum(s * s for s in sig)
    assert zc == 3
    # splice an unknown LIST chunk between fmt and data
    pos = wav.index(b"data")
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOX" + b"\x00"  # odd→padded
    spliced = wav[:pos] + extra + wav[pos:]
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    assert M.audio_features_ch0(spliced) == (n_ch, n, sumsq, zc, peak)


def test_scene_change_stats_finds_planted_cut(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id").limit(40)
    media = M.synthesize_y4m_media(docs, scene_cut=True)
    out = M.scene_change_stats(media, mean_delta_threshold=50).collect()
    assert len(out) == 40
    for r in out:
        mid = r["media_id"]
        nf = 3 + mid % 10
        assert r["n_frames"] == nf
        assert r["n_scenes"] == 2
        assert r["first_cut_frame"] == 1 + mid % (nf - 1)
        assert r["max_mean_delta"] == 105
    # without a cut: one scene, no boundary, drift-only deltas
    flat = M.scene_change_stats(
        M.synthesize_y4m_media(docs, scene_cut=False), mean_delta_threshold=50
    ).collect()
    assert all(r["n_scenes"] == 1 and r["first_cut_frame"] is None for r in flat)


def test_gram_covariance_matches_numpy(spark, sf_dir):
    import numpy as np

    from open_crime_etl_pipeline_spark.operators import linalg as LA

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = LA.covariance_pairs(emb, "embedding", d=64).collect()
    X = np.stack([r["embedding"] for r in emb.collect()]).astype(np.float64)
    ref = np.cov(X, rowvar=False, ddof=1)
    assert len(rows) == 64 * 65 // 2
    for r in rows[:500]:
        assert abs(r["cov"] - ref[r["i"] - 1, r["j"] - 1]) < 1e-10


def test_power_iteration_matches_eigh(spark, sf_dir):
    import numpy as np

    from open_crime_etl_pipeline_spark.operators import linalg as LA

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = [r.asDict() for r in LA.covariance_pairs(emb, "embedding", d=64).collect()]
    lam, v = LA.power_iteration_top_eig(rows, d=64)
    X = np.stack([r["embedding"] for r in emb.collect()]).astype(np.float64)
    C = np.cov(X, rowvar=False, ddof=1)
    w, V = np.linalg.eigh(C)
    lam_ref, v_ref = w[-1], V[:, -1]
    if v_ref[np.flatnonzero(np.abs(v_ref) > 1e-12)[0]] < 0:
        v_ref = -v_ref
    assert abs(lam - lam_ref) / lam_ref < 1e-6
    assert np.abs(v - v_ref).max() < 1e-4


def test_domain_cap_is_deterministic_across_partitionings(spark, sf_dir):
    from tests.conftest import SF_DIR_MID

    from open_crime_etl_pipeline_spark.queries.registry import get_spec

    spec = get_spec("domain_cap_retention")
    a = {tuple(r) for r in spec.fn(spark, SF_DIR_MID).collect()}
    docs = spark.read.parquet(f"{SF_DIR_MID}/documents.parquet")
    assert all(r[1] <= 10 for r in a)  # n_retained ≤ cap
    # same answer when the input arrives in 1 partition vs many
    import pyspark.sql.functions as SF
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        SF.md5(SF.col("doc_id").cast("string")), SF.col("doc_id")
    )
    b = {
        tuple(r)
        for r in docs.repartition(1)
        .select("source", "doc_id", "n_chars")
        .withColumn("rk", SF.row_number().over(w))
        .filter(SF.col("rk") <= 10)
        .groupBy("source")
        .agg(
            SF.count("*").alias("n_retained"),
            SF.sum("doc_id").alias("retained_id_sum"),
            SF.sum("n_chars").alias("retained_chars"),
        )
        .collect()
    }
    assert a == b


def test_bpe_pairs_hand_computed(spark):
    docs = spark.createDataFrame(
        [(1, "abab cd"), (2, "abc a")], ["doc_id", "text"]
    )
    docs.createOrReplaceTempView("_bpe_docs")
    from pyspark.sql import functions as SF

    from open_crime_etl_pipeline_spark.operators import textstats as TSx

    words = docs.select(SF.explode(TSx.tokens("text")).alias("w")).filter(
        SF.length("w") > 1
    )
    pairs = (
        words.select(
            SF.explode(
                SF.expr(
                    "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"
                )
            ).alias("pair")
        )
        .groupBy("pair")
        .count()
        .collect()
    )
    got = {r["pair"]: r["count"] for r in pairs}
    # abab → ab, ba, ab ; cd → cd ; abc → ab, bc ; 'a' filtered
    assert got == {"ab": 3, "ba": 1, "cd": 1, "bc": 1}


def test_normalization_inverts_planted_perturbations(spark, sf_dir):
    """norm(perturb(text)) == norm(text) for every planted perturbation,
    so normalized dedup groups equal raw-text groups."""
    from pyspark.sql import functions as SF

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")

    def norm(col):
        return SF.trim(
            SF.regexp_replace(
                SF.regexp_replace(SF.lower(col), "[^a-z0-9 ]", " "), " +", " "
            )
        )

    ptext = (
        SF.when(SF.col("doc_id") % 3 == 0, SF.upper("text"))
        .when(SF.col("doc_id") % 3 == 1, SF.concat(SF.col("text"), SF.lit("  !!! ")))
        .otherwise(SF.regexp_replace("text", " ", "   "))
    )
    diff = docs.filter(norm(ptext) != norm(SF.col("text"))).count()
    assert diff == 0


def test_weighted_sample_biases_toward_heavy_weights(spark):
    """A-ES property: with weights 100 vs 1, the heavy rows dominate
    the sample. 200 rows per class, k=50: heavy expected ≈ all."""
    from pyspark.sql import functions as SF

    from open_crime_etl_pipeline_spark.operators.sampling import (
        weighted_sample_per_group,
    )

    rows = spark.range(400).select(
        SF.lit("g").alias("grp"),
        SF.col("id").alias("rid"),
        SF.when(SF.col("id") < 200, SF.lit(100.0)).otherwise(SF.lit(1.0)).alias("w"),
    )
    picked = weighted_sample_per_group(rows, "grp", "rid", "w", k=50).collect()
    assert len(picked) == 50
    heavy = sum(1 for r in picked if r["rid"] < 200)
    assert heavy >= 45  # P[this few heavy] is astronomically small

    # determinism across partitionings
    again = {
        r["rid"]
        for r in weighted_sample_per_group(
            rows.repartition(13), "grp", "rid", "w", k=50
        ).collect()
    }
    assert again == {r["rid"] for r in picked}


def test_iqr_filter_hand_computed(spark):
    from pyspark.sql import functions as SF

    from open_crime_etl_pipeline_spark.queries.registry import get_spec

    # n_chars 1..8 plus outlier 1000: q1=3, q3=7 (interpolated over 9
    # values: q1 = 25th pct of sorted [1..8,1000])
    import numpy as np

    vals = [1, 2, 3, 4, 5, 6, 7, 8, 1000]
    q1, q3 = np.percentile(vals, 25), np.percentile(vals, 75)
    df = spark.createDataFrame([("s", v) for v in vals], ["source", "n_chars"])
    got = (
        df.groupBy("source").agg(
            SF.expr("percentile(n_chars, 0.25)").alias("q1"),
            SF.expr("percentile(n_chars, 0.75)").alias("q3"),
        ).collect()[0]
    )
    assert got["q1"] == q1 and got["q3"] == q3
    lo, hi = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
    assert sum(1 for v in vals if lo <= v <= hi) == 8  # 1000 is fenced out


def test_window_group_limit_bounds_skewed_caps(spark):
    """The per-group cap pattern (row_number + filter ≤ k) must compile
    to WindowGroupLimit with a PARTIAL phase — per-input-partition
    top-k heaps before the shuffle — so a dominant group ships k rows
    per map partition, not its full row set. Measured on a 20M-row
    90%-skewed input: 2.2 s with this plan vs 62 s for a hand-rolled
    hash-threshold prefilter (PERF.md r3c); this test pins the plan so
    a Spark upgrade or query edit that loses the rewrite fails loudly."""
    from pyspark.sql import Window
    from pyspark.sql import functions as SF

    rows = spark.range(10_000).select(
        SF.when(SF.col("id") % 10 < 9, SF.lit("dominant"))
        .otherwise(SF.lit("minor")).alias("g"),
        SF.col("id").alias("rid"),
    )
    w = Window.partitionBy("g").orderBy(
        SF.md5(SF.col("rid").cast("string")), SF.col("rid")
    )
    df = rows.withColumn("rn", SF.row_number().over(w)).filter(SF.col("rn") <= 10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan
    out = df.collect()
    assert sum(1 for r in out if r["g"] == "dominant") == 10


def test_token_entropy_hand_computed(spark):
    import math

    from pyspark.sql import functions as SF

    from open_crime_etl_pipeline_spark.operators import textstats as TSx

    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d"), (3, "a a b b")],
        ["doc_id", "text"],
    )
    toks = docs.select("doc_id", SF.explode(TSx.tokens("text")).alias("tok"))
    counts = toks.groupBy("doc_id", "tok").agg(SF.count("*").alias("c"))
    totals = counts.groupBy("doc_id").agg(SF.sum("c").alias("n"))
    p = SF.col("c") / SF.col("n").cast("double")
    got = {
        r["doc_id"]: r["h"]
        for r in counts.join(totals, "doc_id")
        .groupBy("doc_id").agg(SF.round(-SF.sum(p * SF.log(p)), 6).alias("h"))
        .collect()
    }
    assert got[1] == 0.0                         # all same token
    assert got[2] == round(math.log(4), 6)       # uniform over 4
    assert got[3] == round(math.log(2), 6)       # uniform over 2


def test_weighted_sample_rejects_nonpositive_weights(spark):
    from pyspark.errors import PySparkRuntimeError, SparkRuntimeException
    from open_crime_etl_pipeline_spark.operators.sampling import (
        weighted_sample_per_group,
    )

    rows = spark.createDataFrame(
        [("g", 1, 2.0), ("g", 2, 0.0), ("g", 3, 1.0)], ["grp", "rid", "w"]
    )
    with pytest.raises((PySparkRuntimeError, SparkRuntimeException, Exception)) as ei:
        weighted_sample_per_group(rows, "grp", "rid", "w", k=2).collect()
    assert "non-positive weight" in str(ei.value)
    neg = spark.createDataFrame([("g", 1, 1.0), ("g", 2, -3.0)], ["grp", "rid", "w"])
    with pytest.raises(Exception, match="non-positive weight"):
        weighted_sample_per_group(neg, "grp", "rid", "w", k=1).collect()


def test_gram_pairs_clear_errors_on_null_and_ragged(spark):
    from open_crime_etl_pipeline_spark.operators import linalg as LA

    null_vec = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None)], "id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="null embedding"):
        LA.gram_pairs(null_vec, "embedding", d=2).collect()

    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0])], "id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="ragged|expected dim"):
        LA.gram_pairs(ragged, "embedding", d=2).collect()


def test_gram_pairs_shift_invariance_exact_small_case(spark):
    """covariance_pairs' shifted-Gram path must equal the raw formula
    on a small exact case (shift-invariance of covariance)."""
    import numpy as np
    from open_crime_etl_pipeline_spark.operators import linalg as LA

    rng = np.random.default_rng(7)
    X = rng.normal(5.0, 2.0, size=(40, 3))  # deliberately NOT centered
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(40)],
        "id long, embedding array<double>",
    )
    rows = LA.covariance_pairs(df, "embedding", d=3).collect()
    C = np.cov(X, rowvar=False)
    for r in rows:
        assert r["cov"] == pytest.approx(C[r["i"] - 1, r["j"] - 1], rel=1e-9)


def test_cdc_chunks_resynchronize_after_insertion(spark):
    """THE content-defined-chunking property: inserting a token early
    in a document changes only a bounded prefix of its chunks — the
    boundary positions are content-anchored, so chunking
    re-synchronizes once the rolling window clears the edit, and the
    (identical) suffix content yields byte-identical chunks again. A
    fixed-size grid would shift every chunk after the edit."""
    from open_crime_etl_pipeline_spark.operators.dedup import cdc_chunks

    base_words = [f"w{i % 37}x{(i * 7) % 11}" for i in range(400)]
    edited_words = base_words[:5] + ["INSERTED"] + base_words[5:]
    df = spark.createDataFrame(
        [(1, "src", " ".join(base_words)), (2, "src", " ".join(edited_words))],
        "doc_id long, source string, text string",
    )
    rows = cdc_chunks(df).collect()
    base = [r["chunk"] for r in rows if r["doc_id"] == 1]
    edited = [r["chunk"] for r in rows if r["doc_id"] == 2]
    # the edit lands in the first chunk(s); after re-sync the chunk
    # streams must share a long identical suffix
    k = 0
    while k < min(len(base), len(edited)) and base[-1 - k] == edited[-1 - k]:
        k += 1
    assert k >= len(base) - 3, (
        f"only {k} trailing chunks survived an edit at position 5 "
        f"(of {len(base)} base chunks) — boundaries are not content-anchored"
    )
    # and the differing prefix must actually contain the insertion
    assert any("INSERTED" in c for c in edited[: len(edited) - k])


def test_repeated_substring_excision_planted_passage(spark):
    """Plant a 20-token passage shared by two docs: the canonical
    (lower (doc,pos)) occurrence survives, the other doc excises
    exactly the passage (one merged span), and kept_md5 equals the
    hand-computed reassembly."""
    import hashlib

    from open_crime_etl_pipeline_spark.operators.dedup import (
        repeated_substring_excision,
    )

    a = [f"a{i}" for i in range(40)]
    u = [f"u{i}" for i in range(10)]
    v = [f"v{i}" for i in range(10)]
    shared = a[5:25]  # 20 tokens, doc1 positions 6..25 (1-based)
    rows = [
        (1, " ".join(a)),
        (2, " ".join(u + shared + v)),  # shared at positions 11..30
        (3, "short doc below the gram length"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r.asDict()
        for r in repeated_substring_excision(df, min_len=15).collect()
    }
    assert got[1]["n_excised"] == 0 and got[1]["n_spans"] == 0
    assert got[1]["n_kept"] == 40
    assert got[1]["kept_md5"] == hashlib.md5(" ".join(a).encode()).hexdigest()
    assert got[2]["n_excised"] == 20 and got[2]["n_spans"] == 1
    assert got[2]["n_kept"] == 20
    assert got[2]["kept_md5"] == hashlib.md5(
        " ".join(u + v).encode()
    ).hexdigest()
    assert got[3]["n_excised"] == 0 and got[3]["n_kept"] == 6


def test_auc_calibration_hand_computed_with_ties(spark):
    """Rank-statistic ROC-AUC and average precision on a tiny frame
    with score TIES, against hand-computed truth: 4 positives
    (0.9, 0.8, 0.8, 0.4) and 4 negatives (0.8, 0.5, 0.3, 0.3).
    ROC-AUC = (4 + 3.5 + 3.5 + 2)/16 = 0.8125 (tied pos/neg pairs
    count 1/2); AP over distinct thresholds descending =
    1/4*1 + 2/4*(3/4) + 1/4*(4/6) = 0.7916667. Calibration bins:
    floor(10p) with p=0.9..1 clamped into bin 9."""
    from open_crime_etl_pipeline_spark.queries.llm import auc_calibration_over

    rows = [(1, 0.9), (1, 0.8), (1, 0.8), (1, 0.4),
            (0, 0.8), (0, 0.5), (0, 0.3), (0, 0.3)]
    out = auc_calibration_over(
        spark.createDataFrame(rows, "y long, p double")
    ).collect()
    head = out[0]
    assert head.roc_auc == 0.8125
    assert head.pr_auc == 0.791667
    bins = {r.bin: r for r in out}
    assert set(bins) == {3, 4, 5, 8, 9}
    assert bins[9].n_docs == 1 and bins[9].frac_pos == 1.0
    assert bins[8].n_docs == 3 and bins[8].frac_pos == round(2 / 3, 6)
    assert bins[3].n_docs == 2 and bins[3].frac_pos == 0.0
    assert bins[8].avg_p == 0.8


def test_auc_degenerate_perfect_and_random(spark):
    """A perfectly separating scorer gives AUC exactly 1; identical
    scores for every row give the tie-rank AUC of exactly 0.5 and a
    single calibration bin."""
    from open_crime_etl_pipeline_spark.queries.llm import auc_calibration_over

    perfect = [(1, 0.9), (1, 0.8), (0, 0.2), (0, 0.1)]
    r = auc_calibration_over(
        spark.createDataFrame(perfect, "y long, p double")
    ).collect()[0]
    assert r.roc_auc == 1.0 and r.pr_auc == 1.0

    flat = [(1, 0.5), (0, 0.5), (1, 0.5), (0, 0.5)]
    out = auc_calibration_over(
        spark.createDataFrame(flat, "y long, p double")
    ).collect()
    assert len(out) == 1
    assert out[0].roc_auc == 0.5 and out[0].bin == 5
    assert out[0].frac_pos == 0.5 and out[0].n_docs == 4


def test_repeated_substring_excision_million_position_collision(spark):
    """Canonical-occurrence selection must survive a >=1e6-token
    document. The retired arithmetic key (doc_id*1e6 + pos) COLLIDES
    here: (doc 5, pos 1_000_001) and (doc 6, pos 1) both encoded to
    6_000_001, so `enc != canon` held for NEITHER occurrence and the
    duplicate passage silently survived (n_excised == 0). The
    struct-min canonical key keeps (5, 1_000_001) — lexicographic
    min — and excises doc 6's copy in full."""
    import hashlib

    from open_crime_etl_pipeline_spark.operators.dedup import (
        repeated_substring_excision,
    )

    shared = [f"s{i}" for i in range(15)]
    big = [f"f{i}" for i in range(1_000_000)] + shared + [
        f"g{i}" for i in range(5)
    ]  # shared gram at 1-based pos 1_000_001; n = 1_000_020
    rows = [(5, " ".join(big)), (6, " ".join(shared))]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r.asDict()
        for r in repeated_substring_excision(df, min_len=15).collect()
    }
    assert got[5]["n_tokens"] == 1_000_020
    assert got[5]["n_excised"] == 0 and got[5]["n_kept"] == 1_000_020
    assert got[6]["n_excised"] == 15 and got[6]["n_spans"] == 1
    assert got[6]["n_kept"] == 0
    assert got[6]["kept_md5"] == hashlib.md5(b"").hexdigest()


def test_repeated_substring_excision_string_ids(spark):
    """Non-numeric document ids must work (the arithmetic encoding
    required integer ids); canonical = lexicographic (id, pos) min."""
    from open_crime_etl_pipeline_spark.operators.dedup import (
        repeated_substring_excision,
    )

    shared = [f"s{i}" for i in range(15)]
    rows = [
        ("doc-b", " ".join(shared + ["tail1"])),
        ("doc-a", " ".join(["head1"] + shared)),  # canonical: 'doc-a' < 'doc-b'
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r.asDict()
        for r in repeated_substring_excision(df, min_len=15).collect()
    }
    assert got["doc-a"]["n_excised"] == 0 and got["doc-a"]["n_kept"] == 16
    assert got["doc-b"]["n_excised"] == 15 and got["doc-b"]["n_kept"] == 1


def test_repeated_substring_excision_disjoint_spans_merge(spark):
    """Two separated repeats in one doc yield TWO merged spans; an
    overlapping chain of repeated grams yields one."""
    from open_crime_etl_pipeline_spark.operators.dedup import (
        repeated_substring_excision,
    )

    p = [f"p{i}" for i in range(15)]
    q = [f"q{i}" for i in range(15)]
    mid = [f"m{i}" for i in range(5)]
    rows = [
        (1, " ".join(p + ["x1", "x2"] + q)),
        (2, " ".join(["y1"] + p + mid + q + ["y2"])),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r.asDict()
        for r in repeated_substring_excision(df, min_len=15).collect()
    }
    # doc 1 is canonical for both passages (positions 1 and 18)
    assert got[1]["n_excised"] == 0
    # doc 2 excises p (positions 2..16) and q (22..36): two spans
    assert got[2]["n_excised"] == 30 and got[2]["n_spans"] == 2
    assert got[2]["n_kept"] == 7  # y1, m0..m4, y2


def test_gram_contamination_planted_leak(spark):
    """A test doc sharing a 10-token passage with two train docs is
    flagged with the right position/gram/spread counts; a clean test
    doc and a too-short doc report zeros."""
    from open_crime_etl_pipeline_spark.operators.dedup import gram_contamination

    leak = [f"l{i}" for i in range(10)]
    rows = [
        (1, False, " ".join([f"a{i}" for i in range(5)] + leak)),
        (2, False, " ".join(leak + [f"b{i}" for i in range(5)])),
        (3, True, " ".join([f"c{i}" for i in range(3)] + leak + ["c9"])),
        (4, True, " ".join(f"d{i}" for i in range(20))),
        (5, True, "tiny doc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "is_test", "text"])
    got = {
        r["doc_id"]: r.asDict()
        for r in gram_contamination(df, min_len=10).collect()
    }
    assert set(got) == {3, 4, 5}
    # doc 3: exactly one 10-gram (positions 4..13) matches, present in
    # BOTH train docs
    assert got[3]["n_contaminated_positions"] == 1
    assert got[3]["n_distinct_contaminated_grams"] == 1
    assert got[3]["max_train_docs_per_gram"] == 2
    assert got[3]["contaminated"] is True
    assert got[4]["contaminated"] is False and got[4]["n_contaminated_positions"] == 0
    assert got[5]["n_tokens"] == 2 and got[5]["contaminated"] is False


def test_covariance_pairs_mean_i_matches_numpy(spark, sf_dir):
    import numpy as np

    from open_crime_etl_pipeline_spark.operators import linalg as LA

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = LA.covariance_pairs(emb, "embedding", d=64).collect()
    X = np.stack([r["embedding"] for r in emb.collect()]).astype(np.float64)
    mu = X.mean(axis=0)
    # mean_i is exposed on every (i, j) row; check the diagonal set
    diag = {r["i"]: r["mean_i"] for r in rows if r["i"] == r["j"]}
    assert len(diag) == 64
    for i, m in diag.items():
        assert abs(m - mu[i - 1]) < 1e-12


def test_pca_projection_query_matches_numpy(spark, sf_dir):
    """The registered PCA query's per-row projections equal a numpy
    re-derivation of the SAME fixed algorithm (exact covariance, 200
    power-iteration steps from 1/sqrt(d), first-nonzero-positive sign,
    centered dot product) — pinning that the distributed Gram +
    driver eigensolver + literal-array scan projection compose without
    loss."""
    import numpy as np

    from open_crime_etl_pipeline_spark.queries import all_specs

    got = {
        r["vec_id"]: r["pc1"]
        for r in all_specs()["pca_top_component_projection"].fn(spark, sf_dir).collect()
    }
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    ids = [r["vec_id"] for r in emb]
    X = np.stack([r["embedding"] for r in emb]).astype(np.float64)
    Xc = X - X.mean(axis=0)
    C = (Xc.T @ Xc) / (len(X) - 1)
    v = np.ones(64) / 8.0
    for _ in range(200):
        w = C @ v
        v = w / np.linalg.norm(w)
    nz = np.flatnonzero(np.abs(v) > 1e-12)
    if len(nz) and v[nz[0]] < 0:
        v = -v
    proj = Xc @ v
    assert len(got) == len(ids)
    for vid, p in zip(ids, proj):
        assert abs(got[vid] - p) < 1e-6


def test_quality_classifier_train_apply_consistent(spark, sf_dir):
    """The registered train→apply query's per-doc probabilities equal a
    driver-side sigmoid over the SAME trained params and features, in
    the same IEEE association order — pinning that embedding the model
    as plan literals loses nothing."""
    import math

    from open_crime_etl_pipeline_spark.queries import all_specs
    from open_crime_etl_pipeline_spark.queries.llm import (
        _gd_features,
        _gd_train_params,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w, b = _gd_train_params(docs)
    feats = {r["doc_id"]: r for r in _gd_features(docs).collect()}
    got = all_specs()["quality_classifier_train_apply"].fn(spark, sf_dir).collect()
    assert len(got) == len(feats)
    n_keep = 0
    for r in got:
        f = feats[r["doc_id"]]
        z = ((b + w[0] * f["x1"]) + w[1] * f["x2"]) + w[2] * f["x3"]
        p = 1.0 / (1.0 + math.exp(-z))
        # quality_p is rounded to 6dp in the query output
        assert abs(r["quality_p"] - p) < 5.001e-7
        assert r["keep"] == (p >= 0.5)
        assert r["label_long_doc"] == f["y"]
        n_keep += int(r["keep"])
    # two GD steps from zero weights move gently — keep may be all-true
    # at tiny SF — but the scores must genuinely spread
    ps = [r["quality_p"] for r in got]
    assert max(ps) - min(ps) > 0.01
    assert n_keep > 0


def test_near_dedup_star_components_consistent_with_representatives(spark, sf_dir):
    """The star-contraction clustering path and the bounded
    min-propagation path must induce the same keep/drop partition on
    the same verified pair graph: docs dropped by
    near_dedup_representatives == docs whose star component rep is not
    themselves."""
    from open_crime_etl_pipeline_spark.queries import all_specs
    from open_crime_etl_pipeline_spark.queries.llm import _corpus_near

    star = all_specs()["near_dedup_star_components"].fn(spark, sf_dir).collect()
    kept = {
        r["doc_id"]
        for r in all_specs()["near_dedup_representatives"].fn(spark, sf_dir).collect()
    }
    corpus_ids = {r["doc_id"] for r in _corpus_near(spark, sf_dir).select("doc_id").collect()}
    dropped_star = {r["doc_id"] for r in star if r["rep_id"] != r["doc_id"]}
    assert dropped_star == corpus_ids - kept
    # component invariants: rep is the member minimum and a member itself
    by_rep = {}
    for r in star:
        by_rep.setdefault(r["rep_id"], []).append(r)
    for rep, members in by_rep.items():
        ids = [m["doc_id"] for m in members]
        assert rep == min(ids) and rep in ids
        assert all(m["n_members"] == len(ids) for m in members)


def _pq_numpy_pipeline(X):
    """Mirror of the registered PQ pipeline (init = first 16 rows'
    sub-vectors, one Lloyd round with 6dp means, cid tie-breaks,
    ADC top-5 excluding self) in numpy."""
    import numpy as np

    n, m, dsub = len(X), 8, 8
    subs = X.reshape(n, m, dsub).astype(np.float64)
    cb = {s: {cid: subs[cid, s].copy() for cid in range(16)} for s in range(m)}

    def assign(cbm):
        codes = np.zeros((n, m), dtype=int)
        for s in range(m):
            cids = sorted(cbm[s])
            C = np.stack([cbm[s][c] for c in cids])
            # pinned left-fold == plain sum here: exactness not needed
            # for the test, numpy float64 matches to well under 1e-9
            d2 = ((subs[:, s, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            codes[:, s] = [cids[j] for j in d2.argmin(axis=1)]
        return codes

    codes0 = assign(cb)
    cb1 = {s: {} for s in range(m)}
    for s in range(m):
        for cid in set(codes0[:, s]):
            members = subs[codes0[:, s] == cid, s]
            cb1[s][cid] = np.round(members.mean(axis=0), 6)
    codes1 = assign(cb1)
    out = {}
    for q in range(5):
        d = np.zeros(n)
        for s in range(m):
            qc = {cid: ((subs[q, s] - v) ** 2).sum() for cid, v in cb1[s].items()}
            d += np.array([qc[c] for c in codes1[:, s]])
        order = sorted((dist, i) for i, dist in enumerate(d) if i != q)[:5]
        out[q] = order
    return cb, cb1, codes0, codes1, out


def test_pq_adc_matches_numpy(spark, sf_dir):
    """The registered PQ query's ADC distances and ranks equal a numpy
    re-derivation of the same fixed algorithm — pinning that the
    broadcast-codebook argmin, long-form Lloyd means, and pivot-chain
    ADC compose without loss."""
    import numpy as np

    from open_crime_etl_pipeline_spark.queries import all_specs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").orderBy("vec_id").collect()
    X = np.stack([r["embedding"] for r in emb])
    ids = [r["vec_id"] for r in emb]
    assert ids == list(range(len(ids)))  # vec_id IS the row index
    *_, expect = _pq_numpy_pipeline(X)
    got = all_specs()["pq_adc_topk"].fn(spark, sf_dir).collect()
    assert len(got) == 25
    for r in got:
        ed, ei = expect[r["query_id"]][r["rank"] - 1]
        assert ei == r["neighbor_id"]
        assert abs(ed - r["adc_dist2"]) < 1e-6


def test_pq_lloyd_sse_monotone_and_recall(spark, sf_dir):
    """Two strict PQ invariants: (a) one Lloyd round never increases
    total quantization SSE (means minimize within-cluster SSE,
    reassignment only lowers it); (b) ADC top-5 overlaps exact-L2
    top-5 — the compressed index finds real neighbors, not noise."""
    import numpy as np

    from open_crime_etl_pipeline_spark.queries import all_specs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").orderBy("vec_id").collect()
    X = np.stack([r["embedding"] for r in emb])
    n, m, dsub = len(X), 8, 8
    subs = X.reshape(n, m, dsub).astype(np.float64)
    cb0, cb1, codes0, codes1, _ = _pq_numpy_pipeline(X)

    def sse(cbm, codes):
        return sum(
            ((subs[i, s] - cbm[s][codes[i, s]]) ** 2).sum()
            for i in range(n) for s in range(m)
        )

    assert sse(cb1, codes1) <= sse(cb0, codes0) + 1e-9
    assert codes1.max() < 16 and codes1.shape == (n, 8)  # 8 uint8-able codes/vector

    got = all_specs()["pq_adc_topk"].fn(spark, sf_dir).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = total = 0
    for q in range(5):
        d = ((X.astype(np.float64) - X[q].astype(np.float64)) ** 2).sum(axis=1)
        exact = {i for i in np.argsort(d, kind="stable") if i != q}
        exact = set(list(sorted(exact, key=lambda i: (d[i], i)))[:5])
        hits += len(by_q[q] & exact)
        total += 5
    # k=16 codebooks are coarse; genuine-signal floor, not a tight pin
    assert hits / total >= 0.2, f"ADC recall@5 collapsed: {hits}/{total}"


def test_pca_whitening_top2_properties(spark, sf_dir):
    """Numpy re-derivation parity for the top-2 whitening query, plus
    the whitening contract itself: each whitened coordinate has unit
    sample variance (ddof=1) because λj IS that variance, components
    are orthogonal, and explained-variance ratios are ordered."""
    import numpy as np

    from open_crime_etl_pipeline_spark.operators.linalg import (
        power_iteration_components,
    )
    from open_crime_etl_pipeline_spark.queries import all_specs

    got = {r["vec_id"]: r
           for r in all_specs()["pca_whitening_top2"].fn(spark, sf_dir).collect()}
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").orderBy("vec_id").collect()
    X = np.stack([r["embedding"] for r in emb]).astype(np.float64)
    Xc = X - X.mean(axis=0)
    C = (Xc.T @ Xc) / (len(X) - 1)
    rows = [
        {"i": i + 1, "j": j + 1, "cov": C[i, j]}
        for i in range(64) for j in range(i, 64)
    ]
    (l1, v1), (l2, v2) = power_iteration_components(rows, d=64, n_components=2)
    # orthogonal to within the fixed-200-step convergence residual
    assert abs(float(v1 @ v2)) < 1e-5
    assert l1 >= l2 > 0
    z1 = (Xc @ v1) / np.sqrt(l1)
    z2 = (Xc @ v2) / np.sqrt(l2)
    assert abs(z1.var(ddof=1) - 1.0) < 1e-9                # λ1 IS var(Xc·v1)
    assert abs(z2.var(ddof=1) - 1.0) < 1e-5                # λ2 off by λ1(v1·v2)²
    tr = float(np.trace(C))
    for r, ez1, ez2 in zip(emb, z1, z2):
        g = got[r["vec_id"]]
        assert abs(g["z1"] - ez1) < 1e-5 and abs(g["z2"] - ez2) < 1e-5
        assert abs(g["evr1"] - l1 / tr) < 1e-5 and abs(g["evr2"] - l2 / tr) < 1e-5
    assert all(g["evr1"] >= g["evr2"] > 0 for g in got.values())


def test_ivfpq_matches_numpy_and_prunes(spark, sf_dir):
    """Numpy mirror of the full two-level IVF-PQ pipeline (coarse
    Lloyd cells -> residual PQ -> nprobe=2 ADC) must reproduce the
    registered query's ranks and distances, and the probe predicate
    must genuinely prune: every returned neighbor lives in one of the
    query's 2 probed cells out of 8."""
    import numpy as np

    from open_crime_etl_pipeline_spark.queries import all_specs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").orderBy("vec_id").collect()
    X = np.stack([r["embedding"] for r in emb]).astype(np.float64)
    n = len(X)

    def assign_full(cbm):
        cids = sorted(cbm)
        C = np.stack([cbm[c] for c in cids])
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return np.array([cids[j] for j in d2.argmin(axis=1)])

    cb0 = {c: X[c].copy() for c in range(8)}
    a0 = assign_full(cb0)
    cb1 = {c: np.round(X[a0 == c].mean(axis=0), 6) for c in set(a0)}
    cells = assign_full(cb1)
    R = X - np.stack([cb1[c] for c in cells])
    subs = R.reshape(n, 8, 8)

    def assign_sub(cbm):
        codes = np.zeros((n, 8), dtype=int)
        for s in range(8):
            cids = sorted(cbm[s])
            C = np.stack([cbm[s][c] for c in cids])
            d2 = ((subs[:, s, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            codes[:, s] = [cids[j] for j in d2.argmin(axis=1)]
        return codes

    rcb0 = {s: {cid: subs[cid, s].copy() for cid in range(16)} for s in range(8)}
    r0 = assign_sub(rcb0)
    rcb1 = {
        s: {cid: np.round(subs[r0[:, s] == cid, s].mean(axis=0), 6)
            for cid in set(r0[:, s])}
        for s in range(8)
    }
    codes = assign_sub(rcb1)

    got = all_specs()["ivfpq_residual_adc_topk"].fn(spark, sf_dir).collect()
    assert len(got) == 25
    n_candidates = 0
    by_q = {q: sorted((r for r in got if r["query_id"] == q),
                      key=lambda r: r["rank"]) for q in range(5)}
    for q in range(5):
        cc = sorted(cb1)
        dc = sorted((((X[q] - cb1[c]) ** 2).sum(), c) for c in cc)
        probed = {c for _, c in dc[:2]}
        cand = [i for i in range(n) if cells[i] in probed and i != q]
        n_candidates += len(cand)
        qr = {c: (X[q] - cb1[c]).reshape(8, 8) for c in probed}
        scored = sorted(
            (sum(((qr[cells[i]][s] - rcb1[s][codes[i, s]]) ** 2).sum()
                 for s in range(8)), i)
            for i in cand
        )[:5]
        for (ed, ei), r in zip(scored, by_q[q]):
            assert ei == r["neighbor_id"]
            assert abs(ed - r["adc_dist2"]) < 1e-6
            assert cells[ei] in probed  # pruning contract
    # nprobe=2 of kc=8 cells: the index must skip most of the corpus
    assert n_candidates < 5 * n * 0.6, f"no real pruning: {n_candidates}/{5 * n}"


def test_training_shard_manifest_repartition_invariant(spark, sf_dir):
    """The manifest is a data-delivery receipt: it must be identical
    under any physical layout. Run the same aggregation over a
    64-partition reshuffle of the corpus and require bit-equality,
    plus global accounting (shard doc counts sum to the corpus)."""
    from open_crime_etl_pipeline_spark.operators.sampling import hash_bucket
    from open_crime_etl_pipeline_spark.queries import all_specs

    import pyspark.sql.functions as F

    base = {r["shard_id"]: r.asDict()
            for r in all_specs()["training_shard_manifest"].fn(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(64)
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text")))
    rep = (
        docs.select(
            hash_bucket("doc_id", 16, "shard").alias("shard_id"),
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("n_toks"),
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("lo"),
            F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("hi"),
        )
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.sum("lo").alias("checksum_lo"),
            F.sum("hi").alias("checksum_hi"),
        )
        .collect()
    )
    assert len(rep) == len(base) == 16
    for r in rep:
        assert r.asDict() == base[r["shard_id"]]
    assert sum(r["n_docs"] for r in rep) == docs.count()


def test_bpe_frequency_table_equals_instance_table(spark):
    """The word-frequency corpus (distinct words + cnt) must learn the
    IDENTICAL merge trajectory as one-row-per-instance training:
    sum(cnt) over distinct words == count(*) over instances for every
    adjacent pair, so argmax picks the same merge with the same count.
    Hand-built corpus with skewed word frequencies and a tie that the
    (n DESC, w1, w2) ordering must break identically on both paths."""
    from open_crime_etl_pipeline_spark.queries.llm import _BPE_SEP, _bpe_merge_loop

    words = ["abab", "abc", "abc", "abc", "cab", "cab", "dd"]
    sep = _BPE_SEP

    def rep_of(w):
        return sep + sep.join(list(w)) + sep

    inst = spark.createDataFrame(
        [(rep_of(w),) for w in words], "rep string"
    ).localCheckpoint(eager=True)
    from collections import Counter

    freq = spark.createDataFrame(
        [(c, rep_of(w)) for w, c in Counter(words).items()], "cnt long, rep string"
    ).localCheckpoint(eager=True)

    m_inst, rep_inst = _bpe_merge_loop(inst, k=3)
    m_freq, rep_freq = _bpe_merge_loop(freq, k=3)
    assert m_inst == m_freq
    # and the fully-merged corpora agree word-for-word (weighted by cnt)
    got_inst = sorted(r["rep"] for r in rep_inst.collect())
    got_freq = sorted(
        r["rep"] for r in rep_freq.collect() for _ in range(r["cnt"])
    )
    assert got_inst == got_freq


def test_naive_bayes_learns_planted_separable_vocab(spark):
    """Two planted languages with disjoint content vocabularies plus
    shared noise words: NB must classify every doc correctly (the
    testdata's lang label is text-independent, so THIS is the proof
    the operator learns; the registered oracle proves the math)."""
    from open_crime_etl_pipeline_spark.queries.llm import _naive_bayes_predict

    rows = []
    did = 0
    for i in range(12):
        rows.append((did, "aa", "alpha amber apex noise common " + "alpha " * (i % 3)))
        did += 1
    for i in range(6):
        rows.append((did, "bb", "beta bravo basil noise common " + "beta " * (i % 3)))
        did += 1
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = _naive_bayes_predict(docs).collect()
    assert len(out) == 18
    assert all(r["correct"] for r in out)
    assert all(r["pred_lang"] == r["lang"] for r in out)


def test_naive_bayes_prior_dominates_ambiguous_doc(spark):
    """A doc containing ONLY vocabulary shared by both classes gets the
    majority-prior class: identical likelihoods, so the length-normalized
    log prior decides (and the class-name tiebreak would break exact
    prior ties deterministically)."""
    from open_crime_etl_pipeline_spark.queries.llm import _naive_bayes_predict

    rows = [(i, "major", "shared words everywhere") for i in range(9)]
    rows += [(100 + i, "minor", "shared words everywhere") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {r["doc_id"]: r["pred_lang"] for r in _naive_bayes_predict(docs).collect()}
    # every doc is pure shared vocabulary -> every prediction is the prior argmax
    assert set(out.values()) == {"major"}


def test_tput_bounds_hold_and_tail_cap_bounds_unreported_impostor(spark):
    """Adversarial TA distribution: 'spread' sits just below every
    node's local top-m, so NO node reports it — the classic case where
    a candidate-only protocol silently misranks. The certificate must
    (a) bracket every candidate's exact count, (b) cap the impostor's
    global count by sum(tau), and (c) mark certified only terms whose
    exact count no unreported term can reach."""
    import pyspark.sql.functions as F

    from open_crime_etl_pipeline_spark.queries.llm import _tput_topk

    rows = []
    for node in range(4):
        rows += [(node, "mega")] * 20            # global heavy: local #1 everywhere
        rows += [(node, f"hot{node}")] * 10      # each node's local #2 (= tau)
        rows += [(node, "warm")] * 6             # local #3 -> NEVER reported at m=2
        rows += [(node, "spread")] * 5           # local #4, also unreported
        rows += [(node, f"noise{node}")] * 1
    tok = spark.createDataFrame(rows, "node long, term string")
    out = _tput_topk(tok, m=2, k=4).collect()
    by_term = {r["term"]: r for r in out}

    # (a) bounds bracket exact for every returned candidate
    assert all(
        r["lower_bound"] <= r["exact_count"] <= r["upper_bound"] for r in out
    )
    # 'warm' was never in any node's top-2, so it is not a candidate --
    # even though its global count (24) beats every hot{i} (10)
    assert "warm" not in by_term and "spread" not in by_term
    # (b) unreported terms' true global counts are bounded by the tail cap
    tail_cap = out[0]["tail_cap"]
    assert tail_cap == 40  # sum of the four per-node taus (hot counts)
    warm_exact = tok.filter(F.col("term") == "warm").count()
    assert warm_exact <= tail_cap
    # (c) 'mega' (exact 80) exceeds the tail cap -> certified top-k member;
    # the per-node hots (exact 10) are correctly uncertified, because an
    # unreported term (warm, 24) really does outrank them
    assert by_term["mega"]["membership_certified"]
    assert not by_term["hot0"]["membership_certified"]
    assert warm_exact > by_term["hot0"]["exact_count"]


def test_hybrid_rrf_fuses_partial_coverage_and_recomputes(spark):
    """sf0.1 has embeddings for only a 2000-id prefix of the 5000-doc
    corpus, so the fused table must carry lexical-only rows (null
    dense_rank) through the full-outer join; and every emitted
    rrf_score must equal 1/(60+lex)+1/(60+dense) recomputed from the
    emitted ranks (missing leg contributes 0)."""
    from open_crime_etl_pipeline_spark.queries import all_specs

    from tests.conftest import SF_DIR_BIG

    rows = all_specs()["hybrid_rrf_retrieval"].fn(spark, SF_DIR_BIG).collect()
    assert [r["fused_rank"] for r in rows] != []
    assert sorted(r["fused_rank"] for r in rows) == list(range(1, len(rows) + 1))
    for r in rows:
        want = 0.0
        if r["lex_rank"] is not None:
            want += 1.0 / (60 + r["lex_rank"])
        if r["dense_rank"] is not None:
            want += 1.0 / (60 + r["dense_rank"])
        assert abs(r["rrf_score"] - round(want, 6)) < 1e-9, r
    # the outer join is load-bearing, not decorative: both legs place
    # items in the fused top-20, including lexical-only rows (the
    # testdata's text and embeddings are independent, so the two
    # top-50s need not overlap at all — RRF interleaves them by rank)
    assert any(r["dense_rank"] is None and r["lex_rank"] is not None for r in rows)
    assert any(r["dense_rank"] is not None for r in rows)


def test_adaboost_orthogonality_invariant_and_error_bound(spark):
    """Independent pure-Python replay of the integer-weight AdaBoost on
    a planted frame must reproduce the engine's trajectory exactly,
    the chosen stump's weighted error under the NEXT round's weights
    must be EXACTLY total/2 (the reweighting orthogonality invariant —
    exact in integers, never 'approximately 0.5'), and the ensemble's
    training error must satisfy the Freund-Schapire bound
    err <= prod_r 2*sqrt(eps_r*(1-eps_r))."""
    import math

    from open_crime_etl_pipeline_spark.queries.llm import _adaboost_train

    pts = [
        # (y, x1, x2, x3): +1 cluster needs two features to separate
        (1, 2, 0, 0), (1, 2, 1, 0), (1, 0, 2, 1), (1, 1, 2, 0),
        (1, 2, 2, 1), (1, 3, 0, 0), (1, 0, 3, 0), (1, 2, 0, 1),
        (-1, 0, 0, 0), (-1, 1, 0, 0), (-1, 0, 1, 0), (-1, 1, 1, 1),
        (-1, 0, 0, 1), (-1, 1, 0, 1), (-1, 2, 1, 2), (-1, 0, 1, 1),
    ]
    feat = spark.createDataFrame(
        [(i, y, x1, x2, x3) for i, (y, x1, x2, x3) in enumerate(pts)],
        "doc_id long, y int, x1 long, x2 long, x3 long",
    )
    k = 3
    rounds = _adaboost_train(feat, k=k)
    assert len(rounds) == k

    fidx = {"spark": 0, "data": 1, "slow": 2}
    w = [1] * len(pts)
    bound = 1.0
    for r, fname, thr, sgn, e_num, tot, alpha in rounds:
        assert tot == sum(w), "engine total_weight != replay"
        # replay the argmin over the full 24-stump grid
        best = None
        for f in range(3):
            for t in range(4):
                for s in (1, -1):
                    e = sum(
                        wi
                        for wi, (y, *xs) in zip(w, pts)
                        if (s if xs[f] > t else -s) != y
                    )
                    # same ORDER BY e, f, t, s ASC as engine and oracle
                    # (s = -1 wins a full tie, ascending)
                    key = (e, f + 1, t, s)
                    if best is None or key < best[0]:
                        best = (key, f, t, s, e)
        _, bf, bt, bs, be = best
        assert (fidx[fname], thr, sgn, e_num) == (bf, bt, bs, be), r
        assert 2 * e_num < tot  # better than chance, alpha > 0
        assert abs(alpha - 0.5 * math.log((tot - e_num) / e_num)) < 1e-6
        eps = e_num / tot
        bound *= 2 * math.sqrt(eps * (1 - eps))
        # integer reweight, then the orthogonality invariant is EXACT
        w = [
            wi * (e_num if (bs if pts[i][1 + bf] > bt else -bs) == pts[i][0]
                  else tot - e_num)
            for i, wi in enumerate(w)
        ]
        err_after = sum(
            wi
            for wi, (y, *xs) in zip(w, pts)
            if (bs if xs[bf] > bt else -bs) != y
        )
        assert 2 * err_after == sum(w), "orthogonality invariant broken"

    # Freund-Schapire: ensemble training error <= prod 2*sqrt(eps(1-eps))
    mis = 0
    for y, *xs in pts:
        score = sum(
            a if (s if xs[fidx[fn]] > t else -s) == 1 else -a
            for _, fn, t, s, _, _, a in rounds
        )
        if (1 if score > 0 else -1) != y:
            mis += 1
    assert mis / len(pts) <= bound + 1e-12


def test_auc_single_class_raises(spark):
    """AUC is undefined without both classes — the metric engine must
    raise, not emit NaN into every row."""
    import pytest

    from open_crime_etl_pipeline_spark.queries.llm import auc_calibration_over

    ones = spark.createDataFrame([(1, 0.3), (1, 0.7)], "y long, p double")
    with pytest.raises(ValueError, match="both classes"):
        auc_calibration_over(ones)
    zeros = spark.createDataFrame([(0, 0.3), (0, 0.7)], "y long, p double")
    with pytest.raises(ValueError, match="both classes"):
        auc_calibration_over(zeros)


def test_cluster_conflicting_hints_raise(spark):
    import pytest

    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="conflicting"):
        D.cluster_representatives(pairs, small_graph=True, diameter_unknown=True)


def test_prefix_filter_jaccard_lossless_and_reduces_candidates(spark):
    """The prefix filter must (a) return EXACTLY the brute-force
    J >= t pair set — the completeness theorem under test — and
    (b) generate strictly fewer candidate join keys than the full
    inverted index, with hot tokens excluded from prefixes."""
    import itertools

    base = [f"w{i}" for i in range(30)]
    rows = []
    # three near-dup families (high word-set overlap) + noise docs that
    # all share the hot tokens h1/h2 (the stopword stand-ins)
    for fam in range(3):
        fam_words = base[fam * 8:(fam + 1) * 8] + ["h1", "h2"]
        for m in range(3):
            words = fam_words + ([f"x{fam}{m}"] if m else [])
            rows.append((fam * 10 + m, " ".join(words)))
    for i in range(100, 140):
        rows.append((i, " ".join(["h1", "h2", f"u{i}", f"v{i}", f"q{i}"])))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.prefix_filter_jaccard_pairs(
            df, "doc_id", "text", threshold=0.6
        ).collect()
    }
    # brute force over word sets
    sets = {i: set(t.split()) for i, t in rows}
    exp = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if j >= 0.6:
            exp[(a, b)] = round(j, 6)
    assert got == exp and len(exp) >= 3

    # candidate-reduction receipt: hot tokens (h1/h2, in EVERY doc)
    # must never be prefix keys — every doc's prefix is its rarest
    # ~40% of tokens, and h1/h2 sort last under freq-ascending order
    from pyspark.sql import Window as W

    toks = df.select("doc_id", F.explode_outer(
        F.filter(F.split("text", " "), lambda t: t != F.lit(""))
    ).alias("tok")).distinct()
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("ftok"))
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("doc_id").orderBy("ftok", "tok")
    ranked = toks.join(freq, "tok").withColumn(
        "rn", F.row_number().over(w)
    ).join(sizes, "doc_id")
    prefix = ranked.filter(
        F.col("rn") <= F.col("n") - F.ceil(F.lit(0.6) * F.col("n")) + 1
    )
    prefix_toks = {r.tok for r in prefix.select("tok").distinct().collect()}
    assert "h1" not in prefix_toks and "h2" not in prefix_toks
    assert prefix.count() < toks.count() * 0.6


def test_prefix_filter_jaccard_fp_ceiling_boundary(spark):
    """The exact constructible false negative a naive ceil(t*n) allows:
    0.7*10 is 7.000000000000001 in binary, so ceil gives 8 and A's
    prefix shrinks from 4 to 3. With B ⊂ A (J = 7/10 = 0.7 exactly)
    and A's three unique tokens globally RAREST, the shortened prefixes
    are disjoint and the qualifying pair vanishes. The epsilon-guarded
    alpha must keep it."""
    rows = [
        (1, " ".join(["u1", "u2", "u3"] + [f"s{i}" for i in range(7)])),
        (2, " ".join(f"s{i}" for i in range(7))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.prefix_filter_jaccard_pairs(
            df, "doc_id", "text", threshold=0.7
        ).collect()
    }
    assert got == {(1, 2): 0.7}


def test_ngram_jaccard_fp_ceiling_divergent_pair(spark):
    """Planted divergent (t, n) pair for the round-2 sibling (VERDICT
    r6 finding #1): ceil(0.55*100) = 56 in IEEE doubles (true 55), so
    the UNguarded prefix length 100-56+1 = 45 misses position 46 —
    where the only shared-prefix token of this construction lives —
    and the unguarded size filter demands |B| >= 56 > 55. Both guards
    now route through the shared `_prefix_filter_candidates` core;
    the qualifying J = 55/100 = 0.55 pair must survive."""
    uniq = [f"u{i:03d}" for i in range(45)]       # only in A -> freq 1
    shared = [f"s{i:03d}" for i in range(46, 101)]  # in A and B -> freq 2
    rows = [
        (1, " ".join(uniq + shared)),   # |A| = 100
        (2, " ".join(shared)),          # |B| = 55, B subset of A
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(
            df, "doc_id", "text", threshold=0.55, shingle_n=1
        ).collect()
    }
    assert got == {(1, 2): 0.55}


def test_prefix_filter_core_shared_pair_sets(spark, near_corpus):
    """Both prefix-filter implementations must return the IDENTICAL
    pair set (ids AND rounded jaccard) when configured on the same set
    domain — the regression pin that keeps the shared candidate core
    from diverging by sibling again."""
    ng = {
        (r.id_a, r.id_b, r.jaccard)
        for r in D.ngram_jaccard_pairs(
            near_corpus, "doc_id", "text", threshold=0.7, shingle_n=3
        ).collect()
    }
    pf = {
        (r.id_a, r.id_b, r.jaccard)
        for r in D.prefix_filter_jaccard_pairs(
            near_corpus, "doc_id", "text", threshold=0.7, shingle_n=3
        ).collect()
    }
    assert ng == pf and len(ng) > 0


@pytest.fixture(scope="module")
def small_docs(spark):
    rows = [
        (1, "a b c d e f"),
        (2, "a b c x y z"),
        (3, "unique words only here now"),
        (4, "a b c d e f"),  # exact dup of 1
        (5, ""),  # sub-shingle doc: excluded by the operator
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestDuplicateNgramWindowRewrite:
    def test_matches_join_formulation(self, spark, small_docs):
        """The window-count rewrite must equal the original
        groupBy+join-back formulation row for row."""
        out = duplicate_ngram_fraction(small_docs, "doc_id", "text").collect()
        # reference: the pre-r12 join formulation, stated inline
        src = small_docs.filter(F.size(tokens("text")) >= 3)
        sh = src.select(
            F.col("doc_id"),
            F.explode(hashed_shingles("text", 3)).alias("__sh"),
        )
        dfreq = sh.groupBy("__sh").agg(F.count("*").alias("__dfreq"))
        ref = (
            sh.join(dfreq, "__sh")
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("n_shingles"),
                F.sum((F.col("__dfreq") > 1).cast("long")).alias("n_dup"),
            )
            .select(
                "doc_id", "n_shingles", "n_dup",
                F.round(
                    F.col("n_dup").cast("double")
                    / F.col("n_shingles").cast("double"), 6
                ).alias("dup_frac"),
            )
            .collect()
        )
        assert sorted(map(tuple, out)) == sorted(map(tuple, ref))

    def test_hot_shingle_no_quadratic_rows(self, spark):
        """A shingle shared by k docs contributes k posting rows (one
        window partition of size k), never k² — the inverted-index
        contract the rewrite must preserve."""
        rows = [(i, "common one two") for i in range(50)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = duplicate_ngram_fraction(df, "doc_id", "text")
        got = out.collect()
        assert len(got) == 50
        assert all(r.n_shingles == 1 and r.n_dup == 1 for r in got)


class TestMinhashCheckpointNotPersist:
    """Wave 2: minhash_near_dup_pairs materializes per_doc via pin
    (localCheckpoint), not .persist() — values must be unchanged and
    the pair graph complete."""

    def test_pairs_unchanged_by_materialization(self, spark, small_docs):
        from open_crime_etl_pipeline_spark.operators.dedup import (
            minhash_near_dup_pairs,
        )

        got = minhash_near_dup_pairs(
            small_docs, "doc_id", "text",
            num_hashes=32, bands=16, threshold=0.7, verify_exact=True,
        ).collect()
        # docs 1 and 4 are exact duplicates: Jaccard 1.0, always a pair
        pairs = {(r.id_a, r.id_b): r.jaccard for r in got}
        assert pairs[(1, 4)] == 1.0
        # doc 3 shares no shingle with anything: never appears
        assert not any(3 in p for p in pairs)

    def test_no_lingering_cached_tables(self, spark, small_docs):
        """The persist was replaced, not merely dropped: no SQL-cache
        entry may survive the call (checkpoint blocks are RDD-level
        and GC-managed, not catalog-level)."""
        from open_crime_etl_pipeline_spark.operators.dedup import (
            minhash_near_dup_pairs,
        )

        spark.catalog.clearCache()  # shared session: isolate the check
        minhash_near_dup_pairs(
            small_docs, "doc_id", "text", num_hashes=8, bands=4, threshold=0.5
        ).count()
        jsc = spark._jsparkSession.sharedState().cacheManager()
        assert jsc.isEmpty()


class TestCdcWindowRewrite:
    def test_matches_join_formulation(self, spark):
        """The window df-count must equal the original groupBy +
        join-back formulation row for row."""
        from open_crime_etl_pipeline_spark.operators.dedup import cdc_chunks

        rows = [
            (1, "a", "one two three four five six seven eight nine ten"),
            (2, "a", "one two three four five six seven eight nine ten"),
            (3, "b", "totally different words in this document body here"),
            (4, "b", "one two three four nothing alike after that point"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
        chunks = cdc_chunks(docs)
        cdf = chunks.groupBy("chunk").agg(
            F.count_distinct("doc_id").alias("df")
        )
        ref = (
            chunks.join(cdf, "chunk")
            .groupBy("source")
            .agg(
                F.count("*").alias("n_chunks"),
                F.count_distinct("chunk").alias("n_distinct_chunks"),
                F.sum((F.col("df") >= 2).cast("long")).alias("n_in_shared"),
            )
            .collect()
        )
        w = Window.partitionBy("chunk")
        got = (
            chunks.withColumn("df", F.size(F.collect_set("doc_id").over(w)))
            .groupBy("source")
            .agg(
                F.count("*").alias("n_chunks"),
                F.count_distinct("chunk").alias("n_distinct_chunks"),
                F.sum((F.col("df") >= 2).cast("long")).alias("n_in_shared"),
            )
            .collect()
        )
        assert sorted(map(tuple, got)) == sorted(map(tuple, ref))


class TestBm25ScanSideRewrite:
    def test_matches_explode_formulation(self, spark):
        """Wave 3: bm25_over's scan-side conditional-count tf + literal
        idf must reproduce the old explode + groupBy + join formulation
        row for row, score doubles INCLUDED (same IEEE ops in the same
        order; idf constant-folds through the same JVM Math.log)."""
        from open_crime_etl_pipeline_spark.queries.llm.retrieval import (
            _BM25_B,
            _BM25_K1,
            _BM25_TERMS,
            bm25_over,
        )

        rows = [
            (1, "spark join filter spark spark pad pad"),
            (2, "join join filter other words here"),
            (3, "nothing matching at all whatsoever"),
            (4, "spark alone"),
            (5, "filter filter filter join spark mix"),
            (6, ""),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = bm25_over(docs, k=4).collect()

        # reference: the pre-r12 explode formulation, verbatim
        from pyspark.sql import Window

        from open_crime_etl_pipeline_spark.operators import textstats as TS

        toks = docs.select("doc_id", TS.tokens("text").alias("toks"))
        dl = toks.select("doc_id", F.size("toks").cast("long").alias("dl"))
        agg = dl.agg(F.count("*").alias("n"), F.sum("dl").alias("s")).collect()[0]
        n_docs, avgdl = float(agg["n"]), agg["s"] / agg["n"]
        tf = (
            toks.select("doc_id", F.explode("toks").alias("term"))
            .filter(F.col("term").isin(*_BM25_TERMS))
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf"))
        )
        idf = tf.groupBy("term").agg(
            F.count("*").cast("double").alias("df")
        ).select(
            "term",
            F.log(
                F.lit(1.0)
                + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ).alias("idf"),
        )
        contrib = (
            tf.join(F.broadcast(idf), "term")
            .join(dl, "doc_id")
            .select(
                "doc_id", "term",
                (
                    F.col("idf") * F.col("tf") * F.lit(_BM25_K1 + 1.0)
                    / (
                        F.col("tf")
                        + F.lit(_BM25_K1)
                        * (F.lit(1.0 - _BM25_B)
                           + F.lit(_BM25_B) * F.col("dl") / F.lit(avgdl))
                    )
                ).alias("c"),
            )
        )
        per_term = [
            F.coalesce(F.sum(F.when(F.col("term") == t, F.col("c"))), F.lit(0.0))
            for t in _BM25_TERMS
        ]
        score = per_term[0] + per_term[1] + per_term[2]
        scored = contrib.groupBy("doc_id").agg(
            score.alias("score"), F.count("*").alias("n_terms_matched")
        )
        top = scored.orderBy(F.col("score").desc(), "doc_id").limit(4)
        w = Window.orderBy(F.col("score").desc(), "doc_id")
        ref = top.withColumn("rank", F.row_number().over(w)).select(
            "doc_id", F.round("score", 6).alias("score"), "n_terms_matched", "rank"
        ).collect()

        assert sorted(map(tuple, got)) == sorted(map(tuple, ref))


class TestLanguageIdArgmaxRewrite:
    def test_struct_min_matches_window_argmax(self, spark):
        """Wave 3: min(struct(-hits, lang)) + min-lang fallback must
        elect exactly the row_number() over (hits desc, lang) winner,
        including docs with zero profile hits in SOME languages (tie
        among present langs) and in ALL languages (fallback row)."""
        hits = spark.createDataFrame(
            # doc 1: clear winner; doc 2: tie broken by lang asc;
            # doc 3 absent entirely (zero hits everywhere)
            [(1, "de", 5), (1, "en", 3), (2, "en", 4), (2, "de", 4)],
            "doc_id long, lang string, hits long",
        )
        test = spark.createDataFrame(
            [(1, "en"), (2, "de"), (3, "fr")],
            "doc_id long, true_lang string",
        )
        langs = spark.createDataFrame([("de",), ("en",)], "lang string")

        # reference: the pre-r12 crossJoin + left join + window form
        scored = (
            test.crossJoin(langs)
            .join(hits, ["doc_id", "lang"], "left")
            .na.fill({"hits": 0})
        )
        wd = Window.partitionBy("doc_id").orderBy(F.col("hits").desc(), "lang")
        ref = {
            (r["doc_id"], r["lang"])
            for r in scored.withColumn("rn", F.row_number().over(wd))
            .filter(F.col("rn") == 1).collect()
        }

        perdoc = hits.groupBy("doc_id").agg(
            F.min(F.struct((-F.col("hits")).alias("neg"),
                           F.col("lang").alias("lang"))).alias("m")
        )
        first_lang = langs.agg(F.min("lang").alias("__ml"))
        got = {
            (r["doc_id"], r["pred"])
            for r in test.join(perdoc, "doc_id", "left")
            .crossJoin(F.broadcast(first_lang))
            .select("doc_id",
                    F.coalesce(F.col("m.lang"), F.col("__ml")).alias("pred"))
            .collect()
        }
        assert got == ref == {(1, "de"), (2, "de"), (3, "de")}


class TestGdSharedFeaturization:
    def test_trained_params_identical_with_prepared_feat(self, spark):
        """Wave 3: passing a pre-pinned feature frame into
        _gd_train_params must yield bit-identical weights to the
        self-materializing path (same frame, same aggregates)."""
        from open_crime_etl_pipeline_spark.checkpointing import pin
        from open_crime_etl_pipeline_spark.queries.llm.training import (
            _gd_features,
            _gd_train_params,
        )

        rows = [
            (1, 300, "spark data slow spark"),
            (2, 100, "slow data"),
            (3, 500, "spark spark spark data slow data"),
            (4, 120, "plain words"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, n_chars int, text string")
        w_ref, b_ref = _gd_train_params(docs)
        feat = pin(_gd_features(docs))
        w_got, b_got = _gd_train_params(docs, feat=feat)
        assert w_got == w_ref and b_got == b_ref


class TestPqCodebookFixedWidthMeans:
    def test_dsub_path_equals_long_form(self, spark):
        """Wave 5: pq_train_codebook's fixed-width mean aggregate (one
        groupBy of dsub avg columns) must yield the identical codebook
        to the long-form posexplode + two-groupBy path — same argmin,
        same avg over the same elements, same 6dp round."""
        from open_crime_etl_pipeline_spark.operators.similarity import (
            pq_subvectors,
            pq_train_codebook,
        )

        emb = spark.range(60).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(15)),
                lambda i: ((F.col("id") * 13 + i * 7) % 29).cast("double") / 29.0,
            ).alias("embedding"),
        )
        subs = pq_subvectors(emb, "vec_id", "embedding", m=4, dsub=4)
        init = subs.filter(F.col("vec_id") < 5).select(
            "s", F.col("vec_id").alias("cid"), F.col("sub").alias("cvec")
        )
        ref = {
            (r["s"], r["cid"]): tuple(r["cvec"])
            for r in pq_train_codebook(subs, init, rounds=1).collect()
        }
        got = {
            (r["s"], r["cid"]): tuple(r["cvec"])
            for r in pq_train_codebook(subs, init, rounds=1, dsub=4).collect()
        }
        assert got == ref and len(got) > 0


class TestPairsMaterializeHint:
    def test_unmaterialized_pairs_identical(self, spark, small_docs):
        """Wave 5: materialize=False (single-consumer hint) must return
        the same verified pair set as the default materialized path."""
        from open_crime_etl_pipeline_spark.operators.dedup import (
            minhash_near_dup_pairs,
        )

        kw = dict(num_hashes=16, bands=8, threshold=0.5, verify_exact=True)
        ref = sorted(
            map(
                tuple,
                minhash_near_dup_pairs(small_docs, "doc_id", "text", **kw).collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                minhash_near_dup_pairs(
                    small_docs, "doc_id", "text", materialize=False, **kw
                ).collect(),
            )
        )
        assert got == ref and len(got) > 0

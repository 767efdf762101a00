"""Unit tests for dedup / similarity / multimodal operators —
behavioral invariants the oracle gate can't see (recall vs brute
force, embedding batch shape, stub gating)."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from hyperion_history_api_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    salted_chunks,
    simhash_chunks,
    simhash_pairs,
)
from hyperion_history_api_spark.operators.similarity import (
    brute_force_topk,
    cosine,
    lsh_topk,
)
from hyperion_history_api_spark.sources.multimodal import (
    EMBED_DIM,
    documents_as_media,
    extract_features,
    frame_sample,
)
from hyperion_history_api_spark.tables import load_tables


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_tables(spark, sf_dir)["documents"]


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    e = load_tables(spark, sf_dir)["embeddings"]
    return e.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))


def test_minhash_recall_equals_bruteforce(docs):
    """LSH candidates verified by exact Jaccard must equal brute-force
    pairs at the same threshold (recall check on planted near-dups)."""
    lsh = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    }
    brute = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    }
    assert lsh == brute
    assert len(brute) > 0, "testdata should contain planted near-duplicates"


def test_simhash_identical_token_sets_collide(docs):
    """Invariant: equal distinct-token sets => equal signature =>
    hamming 0. (Near-dup pairs with token-set JACCARD=1 must be found;
    weaker pairs may legitimately land far apart on tiny documents,
    where per-bit votes hover near zero.)"""
    exact_token_dups = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", shingle_n=1, threshold=1.0
        ).collect()
    }
    assert exact_token_dups, "testdata should contain token-set-identical pairs"
    zero_ham = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(docs, "text", "doc_id", max_hamming=0).collect()
    }
    assert exact_token_dups <= zero_ham


def test_simhash_hot_bucket_salting(spark):
    """Skew guard: a fixture of many near-empty docs (identical
    signatures => one hot chunk bucket) must (a) split hot buckets so
    no (chunk, salt_a, salt_b) cell exceeds the cap, and (b) still
    produce the complete pair set."""
    rows = [(i, "common words here") for i in range(60)] + [
        (100 + i, f"totally different text number{i} payload{i}") for i in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    chunks = salted_chunks(simhash_chunks(df, "text", "doc_id"), "doc_id", max_bucket=10)
    # hot bucket split into ceil(60/10)=6 salt groups, each <= cap
    per_cell = (
        chunks.groupBy("chunk_id", "chunk_val", "salt")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    # hash salting is uniform in expectation; 2x cap slack vs the 60-row
    # unsalted bucket it replaces
    assert per_cell <= 20
    assert chunks.agg(F.max("g")).first()[0] >= 6
    # completeness: the 60 identical docs form all C(60,2) hamming-0 pairs
    pairs = simhash_pairs(df, "text", "doc_id", max_hamming=0, max_bucket=10)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    expected = {(a, b) for a in range(60) for b in range(60) if a < b}
    assert expected <= got


def test_lsh_topk_subset_of_bruteforce_corpus(emb):
    """Every LSH hit must be a real corpus vector with the same cosine
    the brute-force path computes (approximation affects candidate
    set, never scores)."""
    probes = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), F.col("e").alias("pe")
    )
    brute = {
        (r.probe_id, r.vec_id): r.cosine
        for r in brute_force_topk(emb, probes, 1000).collect()
    }
    for r in lsh_topk(emb, probes, 5, dims=64, planes=8).collect():
        assert brute[(r.probe_id, r.vec_id)] == r.cosine


def test_multimodal_feature_schema_and_determinism(spark, docs):
    feats = extract_features(documents_as_media(docs)).limit(50).collect()
    assert feats
    for r in feats:
        assert len(r.embedding) == EMBED_DIM
        assert all(0.0 <= x <= 1.0 for x in r.embedding)
    # digest matches a local md5 of the same payload
    sample = documents_as_media(docs).select("media_id", "payload").first()
    got = [r for r in feats if r.media_id == sample.media_id]
    if got:
        assert got[0].digest == hashlib.md5(bytes(sample.payload)).hexdigest()


def test_multimodal_real_decode_gated(spark, docs):
    media = documents_as_media(docs)
    with pytest.raises(Exception) as exc_info:
        extract_features(media, decode_stub=False).collect()
    assert "NotImplementedError" in str(exc_info.value) or isinstance(
        exc_info.value, NotImplementedError
    )


def test_frame_sample_counts(spark, docs):
    media = documents_as_media(docs.where(F.col("doc_id") < 20))
    frames = frame_sample(media, every_ms=1000)
    per_doc = {
        r.media_id: r.cnt
        for r in frames.groupBy("media_id").agg(F.count("*").alias("cnt")).collect()
    }
    for r in media.select("media_id", "meta.duration_ms").collect():
        expected = max(r.duration_ms // 1000, 1)
        assert per_doc[r.media_id] == expected


def test_quantize_int8_bounds_and_recall(spark, sf_dir):
    """Quantized values stay in [-127,127]; quantized top-5 recovers
    most of the exact top-5 (scalar quantization is near-lossless for
    cosine ranking)."""
    from pyspark.sql import functions as F

    from hyperion_history_api_spark.api.dedup_sim import _corpus_probes
    from hyperion_history_api_spark.operators.similarity import (
        brute_force_topk,
        quantize_int8,
        quantized_topk,
    )

    corpus, probes = _corpus_probes(spark, sf_dir)
    q = quantize_int8(corpus)
    mx = q.select(
        F.max(F.array_max("q")).alias("hi"), F.min(F.array_min("q")).alias("lo")
    ).first()
    assert -127 <= mx["lo"] and mx["hi"] <= 127

    exact = {(r["probe_id"], r["vec_id"]) for r in brute_force_topk(corpus, probes, 5).collect()}
    quant = {(r["probe_id"], r["vec_id"]) for r in quantized_topk(corpus, probes, 5).collect()}
    assert len(exact & quant) / len(exact) >= 0.8


def test_pq_adc_exact_with_perfect_codebook(spark):
    """With codebook = every corpus subvector, PQ codes reproduce the
    vectors exactly, so ADC == exact L2 and (on unit-norm-free data,
    after the exact re-rank) pq_topk must equal brute_force_topk."""
    import pyspark.sql.functions as F

    from hyperion_history_api_spark.operators.similarity import (
        brute_force_topk,
        pq_topk,
    )

    vecs = [
        (i, [float(((i * 7 + j * 3) % 11) - 5) / 5.0 for j in range(8)])
        for i in range(20)
    ]
    corpus = spark.createDataFrame(vecs, "vec_id: long, e: array<double>")
    probes = corpus.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), F.col("e").alias("pe")
    )
    m, sub = 2, 4
    cb = [
        [[v[s * sub + j] for j in range(sub)] for _, v in vecs]
        for s in range(m)
    ]
    gt = {
        (r["probe_id"], r["vec_id"], r["cosine"])
        for r in brute_force_topk(corpus, probes, 5).collect()
    }
    ap = {
        (r["probe_id"], r["vec_id"], r["cosine"])
        for r in pq_topk(corpus, probes, 5, codebook=cb, rerank=20).collect()
    }
    assert gt == ap


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, e array<double>")


def test_zero_vector_never_ranks_in_topk(spark):
    """A zero embedding used to score NaN cosine, and Spark sorts NaN
    above every real double — so the zero vector outranked every true
    neighbor in every top-k. It must now sort LAST (-inf)."""
    corpus = _emb(
        spark,
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 0.0]),  # the zero vector
            (3, [-1.0, 0.0]),
        ],
    )
    probes = spark.createDataFrame(
        [(0, [1.0, 0.0])], "probe_id long, pe array<double>"
    )
    got = brute_force_topk(corpus, probes, 2).collect()
    ids = [r["vec_id"] for r in sorted(got, key=lambda r: -r["cosine"])]
    assert 2 not in ids and ids[0] == 1
    assert all(not math.isnan(r["cosine"]) for r in got)
    # the column-expression path (ivf/lsh/pq tiers) uses cosine():
    scored = corpus.select(
        "vec_id", cosine(F.col("e"), F.array(F.lit(1.0), F.lit(0.0))).alias("c")
    ).collect()
    byid = {r["vec_id"]: r["c"] for r in scored}
    assert byid[2] == float("-inf") and not math.isnan(byid[2])


def test_jaccard_probe_pairs_symmetric(spark):
    """probe_pred anchored probes to the a-side of an id_a < id_b
    join, silently dropping every pair whose probe id is LARGER —
    only down-set predicates (id < 40) dodged it."""
    rows = [
        (10, "alpha beta gamma delta epsilon"),
        (50, "alpha beta gamma delta epsilon"),  # probe, larger id
        (60, "unrelated words entirely different here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            docs,
            "text",
            "doc_id",
            threshold=0.5,
            probe_pred=F.col("doc_id") >= 40,
        ).collect()
    }
    assert (10, 50) in pairs  # probe has the larger id
    # probe-probe pairs emitted once, not twice
    counted = (
        ngram_jaccard_pairs(
            docs,
            "text",
            "doc_id",
            threshold=0.0,
            probe_pred=F.col("doc_id") >= 40,
        )
        .groupBy("id_a", "id_b")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert counted == 0


def test_simhash_rejects_unguaranteed_hamming(spark):
    """4x16-bit pigeonhole banding guarantees recall only for k <= 3;
    k=6 used to be the silent default while pairs at distance 4-6
    spread over all chunks vanished from the output."""
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="max_hamming <= 3"):
        simhash_pairs(docs, "text", "doc_id", max_hamming=6)

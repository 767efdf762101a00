"""Stored inverted index (sources/inverted_index.py): incremental
maintenance == full rebuild, stored-index BM25 == from-scratch BM25,
O(batch) delta IO (hard-linked postings history), pruned serving."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hyperion_history_api_spark.sources.inverted_index import (
    DF_FRAME,
    POSTINGS_FRAME,
    STATS_FRAME,
    InvertedIndexStore,
)
from hyperion_history_api_spark.tables import load_tables

SF_DIR = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")


def _docs(spark):
    return load_tables(spark, SF_DIR)["documents"]


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_incremental_equals_full_rebuild(spark, tmp_path):
    docs = _docs(spark)
    inc = InvertedIndexStore(spark, str(tmp_path / "inc"))
    inc.commit(docs.where(F.col("doc_id") % 3 == 0))
    inc.commit_delta(docs.where(F.col("doc_id") % 3 == 1))
    inc.commit_delta(docs.where(F.col("doc_id") % 3 == 2))
    full = InvertedIndexStore(spark, str(tmp_path / "full"))
    full.commit(docs)
    a, b = inc.read(), full.read()
    for f in (POSTINGS_FRAME, DF_FRAME, STATS_FRAME):
        assert _rows(a[f]) == _rows(b[f]), f
    # an empty delta is a no-op on every frame
    inc.commit_delta(docs.where(F.lit(False)))
    c = inc.read()
    for f in (POSTINGS_FRAME, DF_FRAME, STATS_FRAME):
        assert _rows(c[f]) == _rows(b[f]), f


def test_stored_bm25_equals_from_scratch(spark, tmp_path):
    from hyperion_history_api_spark.api.dedup_sim import doc_search_bm25

    docs = _docs(spark)
    store = InvertedIndexStore(spark, str(tmp_path / "idx"))
    store.commit(docs.where(F.col("doc_id") % 2 == 0))
    store.commit_delta(docs.where(F.col("doc_id") % 2 == 1))
    got = _rows(store.bm25(["merge", "window", "customer"], 20))
    want = _rows(doc_search_bm25(spark, SF_DIR))
    assert got == want


def test_delta_requires_seed_and_history_is_linked(spark, tmp_path):
    docs = _docs(spark)
    store = InvertedIndexStore(spark, str(tmp_path / "idx"))
    with pytest.raises(ValueError, match="seeded"):
        store.commit_delta(docs)
    store.commit(docs.where(F.col("doc_id") % 2 == 0))
    m1 = store.log.read_manifest()
    p1 = os.path.join(store.log.snapshot_dir(m1["snapshot"]), POSTINGS_FRAME)
    v1_files = {
        f: os.stat(os.path.join(p1, f)).st_ino
        for f in os.listdir(p1)
        if f.endswith(".parquet")
    }
    store.commit_delta(docs.where(F.col("doc_id") % 2 == 1))
    m2 = store.log.read_manifest()
    p2 = os.path.join(store.log.snapshot_dir(m2["snapshot"]), POSTINGS_FRAME)
    v2_inos = {
        os.stat(os.path.join(p2, f)).st_ino
        for f in os.listdir(p2)
        if f.endswith(".parquet")
    }
    # every v1 postings file rides into v2 as a hard link (same inode):
    # delta IO is O(batch), history bytes are never rewritten
    assert set(v1_files.values()) <= v2_inos
    new_files = len(v2_inos) - len(v1_files)
    assert 1 <= new_files <= InvertedIndexStore.DELTA_WRITE_PARTITIONS


def test_serving_plan_prunes_postings_by_term(spark, tmp_path):
    docs = _docs(spark)
    store = InvertedIndexStore(spark, str(tmp_path / "idx"))
    store.commit(docs)
    plan = (
        store.bm25(["merge", "window"], 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "word" in plan
    assert "TakeOrderedAndProject" in plan


def test_phrase_match_counts_and_edges(spark, tmp_path):
    """Positional phrase semantics on a hand-built corpus: occurrence
    counts (incl. overlapping repeats), a 3-word chain, words present
    but never adjacent, and the <2-word / unseeded guards."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c a b c a b"),   # "a b" x3, "a b c" x2
            Row(doc_id=2, text="b a c b"),            # has a,b but no "a b"
            Row(doc_id=3, text="x a b y"),            # "a b" x1
        ]
    )
    store = InvertedIndexStore(spark, str(tmp_path / "idx"))
    store.commit(docs)
    two = {
        r["doc_id"]: r["n_occurrences"]
        for r in store.phrase_match(["a", "b"]).collect()
    }
    assert two == {1: 3, 3: 1}
    three = {
        r["doc_id"]: r["n_occurrences"]
        for r in store.phrase_match(["a", "b", "c"]).collect()
    }
    assert three == {1: 2}
    assert store.phrase_match(["a", "z"]).count() == 0
    with pytest.raises(ValueError, match="two words"):
        store.phrase_match(["a"])
    empty = InvertedIndexStore(spark, str(tmp_path / "empty"))
    with pytest.raises(ValueError, match="seeded"):
        empty.phrase_match(["a", "b"])


def test_retraction_equals_rebuild_on_survivors(spark, tmp_path):
    """Fork rollback (S11) on the stored index: retract_ids must leave
    the index scoring EXACTLY like a from-scratch build over the
    surviving corpus — postings anti-joined live, df/stats adjusted by
    integer subtraction (not Lucene's stale-until-merge docFreq)."""
    docs = _docs(spark)
    retracted = docs.where(F.col("doc_id") % 5 == 0)
    survivors = docs.where(F.col("doc_id") % 5 != 0)

    store = InvertedIndexStore(spark, str(tmp_path / "idx"))
    store.commit(docs.where(F.col("doc_id") % 2 == 0))
    store.commit_delta(docs.where(F.col("doc_id") % 2 == 1))
    store.retract_ids(retracted.select("doc_id"))

    clean = InvertedIndexStore(spark, str(tmp_path / "clean"))
    clean.commit(survivors)

    # aggregates are exactly the clean build's
    assert _rows(store.read()[DF_FRAME]) == _rows(clean.read()[DF_FRAME])
    assert _rows(store.read()[STATS_FRAME]) == _rows(
        clean.read()[STATS_FRAME]
    )
    # live postings (not the raw frame) match row-for-row
    assert _rows(store.live_postings()) == _rows(clean.live_postings())
    # every serving surface agrees with the clean build
    terms = ["merge", "window", "customer"]
    assert _rows(store.bm25(terms, 20)) == _rows(clean.bm25(terms, 20))
    assert _rows(store.phrase_match(["merge", "group"])) == _rows(
        clean.phrase_match(["merge", "group"])
    )

    # a replayed retraction is a no-op on the aggregates (no double
    # subtraction), and retracting never-indexed ids subtracts nothing
    before = _rows(store.read()[STATS_FRAME])
    store.retract_ids(retracted.select("doc_id"))
    store.retract_ids(
        spark.range(10_000_000, 10_000_005).select(
            F.col("id").alias("doc_id")
        )
    )
    assert _rows(store.read()[STATS_FRAME]) == before

    # compaction physically drops tombstoned postings, preserves the
    # live view, and clears the tombstones frame
    assert store.tombstones() is not None
    store.compact()
    assert store.tombstones() is None
    assert _rows(store.read()[POSTINGS_FRAME]) == _rows(
        clean.live_postings()
    )
    assert _rows(store.bm25(terms, 20)) == _rows(clean.bm25(terms, 20))

    # post-compaction deltas still work (df/stats stay exact)
    extra = spark.createDataFrame(
        [(10_000_100, "merge window merge")], "doc_id long, text string"
    )
    store.commit_delta(extra)
    clean.commit_delta(extra)
    assert _rows(store.bm25(terms, 20)) == _rows(clean.bm25(terms, 20))
    assert _rows(store.read()[STATS_FRAME]) == _rows(
        clean.read()[STATS_FRAME]
    )


def test_retraction_io_is_o_retracted(spark, tmp_path):
    """retract_ids hard-links ALL postings files forward (no rewrite)
    and requires a seeded store."""
    docs = _docs(spark)
    store = InvertedIndexStore(spark, str(tmp_path / "idx"))
    with pytest.raises(ValueError, match="seeded"):
        store.retract_ids(docs.select("doc_id"))
    store.commit(docs)
    m1 = store.log.read_manifest()
    p1 = os.path.join(store.log.snapshot_dir(m1["snapshot"]), POSTINGS_FRAME)
    inos1 = {
        os.stat(os.path.join(p1, f)).st_ino
        for f in os.listdir(p1)
        if f.endswith(".parquet")
    }
    store.retract_ids(docs.where(F.col("doc_id") % 7 == 0).select("doc_id"))
    m2 = store.log.read_manifest()
    p2 = os.path.join(store.log.snapshot_dir(m2["snapshot"]), POSTINGS_FRAME)
    inos2 = {
        os.stat(os.path.join(p2, f)).st_ino
        for f in os.listdir(p2)
        if f.endswith(".parquet")
    }
    assert inos1 == inos2  # postings bytes untouched; tombstones separate


def test_fully_retracted_store_scores_empty(spark, tmp_path):
    """With every document retracted (n == 0) the stored BM25 and
    TF-IDF paths return an empty (doc_id, score) frame."""
    from hyperion_history_api_spark.operators import scoring

    docs = _docs(spark)
    store = InvertedIndexStore(spark, str(tmp_path / "idx"))
    store.commit(docs)
    store.retract_ids(docs.select("doc_id"))
    terms = ["merge", "window", "customer"]
    assert store.tf_rows(terms).n == 0
    for scored in (store.bm25(terms, 20), scoring.tfidf(store.tf_rows(terms))):
        assert scored.columns == ["doc_id", "score"]
        assert scored.collect() == []

"""End-to-end streaming incremental dedup (streaming/dedup_ingest.py):
documents arrive as real Structured-Streaming micro-batches; the union
of per-batch pair outputs equals the one-shot batch twin, and the
index store versions advance behind one atomic pointer."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hyperion_history_api_spark.operators.dedup import minhash_lsh_pairs
from hyperion_history_api_spark.streaming.dedup_ingest import (
    DedupIndexStore,
    make_dedup_sink,
    read_pairs,
)
from hyperion_history_api_spark.tables import load_tables

SF_DIR = "/root/testdata/sf0.001"


def _pairs_set(df):
    return {(r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()}


def test_streaming_incremental_dedup_equals_batch(spark, tmp_path):
    docs = load_tables(spark, SF_DIR)["documents"].select("doc_id", "text")
    feed = tmp_path / "feed"
    for i in range(3):  # three deterministic arrival waves
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(feed / f"wave{i}"))
    sink, paths = make_dedup_sink(
        spark, str(tmp_path / "out"), threshold=0.5
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed / "wave*"))
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = _pairs_set(read_pairs(spark, paths["pairs"]))
    want = _pairs_set(
        minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5)
    )
    assert got == want and want

    # index advanced once per micro-batch behind one pointer; all four
    # frames resolve from the committed snapshot
    store = DedupIndexStore(spark, paths["index"])
    m = store.read_manifest()
    assert m is not None and m["version"] >= 3
    idx = store.read()
    assert idx.registry.count() > 0
    assert idx.members.count() == docs.count()

    # replay idempotency: re-running a batch id overwrites its own
    # pairs dir instead of double-appending
    n_before = read_pairs(spark, paths["pairs"]).count()
    replay = docs.where(F.col("doc_id") % 3 == 0)
    sink(replay, 0)
    assert read_pairs(spark, paths["pairs"]).count() >= n_before
    got2 = _pairs_set(read_pairs(spark, paths["pairs"]))
    assert got2 >= want  # replay may add already-known pairs, never lose


def test_replay_of_applied_batch_leaves_index_untouched(spark, tmp_path):
    """foreachBatch is at-least-once: a retried micro-batch whose
    index commit ALREADY landed must not re-append its rows (permanent
    index bloat + batches probing their own prior copies). The
    manifest's last_ingest_batch guard makes the whole sink
    idempotent; a batch NEWER than the watermark still commits."""
    docs = _docs(spark)
    sink, paths = make_dedup_sink(
        spark, str(tmp_path / "out"), threshold=0.5, compact_every=None
    )
    waves = [docs.where(F.col("doc_id") % 3 == i) for i in range(3)]
    for i, w in enumerate(waves):
        sink(w, i)
    store = DedupIndexStore(spark, paths["index"])
    assert store.last_ingest_batch() == 2
    before = _frame_rows(store.read())
    v_before = store.read_manifest()["version"]

    for bid in (0, 1, 2):  # replay every applied batch
        sink(waves[bid], bid)
    assert store.read_manifest()["version"] == v_before  # no new commit
    assert _frame_rows(store.read()) == before  # bit-identical frames

    # a genuinely new batch still advances the index
    sink(waves[2].limit(0), 3)  # empty but new: commits + moves guard
    assert store.last_ingest_batch() == 3
    assert store.read_manifest()["version"] == v_before + 1
    assert _frame_rows(store.read()) == before  # empty delta: same rows

    # the guard survives an OPTIMIZE rewrite
    store.compact()
    assert store.last_ingest_batch() == 3


def _docs(spark):
    return load_tables(spark, SF_DIR)["documents"].select("doc_id", "text")


def _frame_rows(idx):
    def hashable(v):
        return tuple(v) if isinstance(v, list) else v

    out = {}
    for f in ("bands", "hashes", "members", "registry"):
        df = getattr(idx, f)
        df = df.select(*sorted(df.columns))  # order-insensitive compare
        out[f] = frozenset(
            tuple(hashable(v) for v in r) for r in df.collect()
        )
    return out


def test_delta_commit_equals_full_extend_and_links_history(spark, tmp_path):
    """commit_delta lands only the batch's additions (previous files
    hard-linked forward, O(batch) IO) yet the committed index equals
    the full extend union row-for-row."""
    from hyperion_history_api_spark.operators.dedup import (
        build_dedup_index,
        dedup_index_delta,
        extend_dedup_index,
    )

    docs = _docs(spark)
    seed = docs.where(F.col("doc_id") % 3 == 0)
    b1 = docs.where(F.col("doc_id") % 3 == 1)
    b2 = docs.where(F.col("doc_id") % 3 == 2)
    store = DedupIndexStore(spark, str(tmp_path / "idx"))
    store.commit(build_dedup_index(seed, "text", "doc_id"))
    files_v1 = store.frame_file_counts()
    inode_v1 = {
        os.stat(os.path.join(root, f)).st_ino
        for root, _, fs in os.walk(store.path)
        for f in fs
        if f.endswith(".parquet")
    }
    for b in (b1, b2):
        idx = store.read()
        store.commit_delta(dedup_index_delta(idx, b, "text", "doc_id"))
    # reference: the pure in-memory extend chain over the same waves
    want = build_dedup_index(seed, "text", "doc_id")
    want = extend_dedup_index(want, b1, "text", "doc_id")
    want = extend_dedup_index(want, b2, "text", "doc_id")
    assert _frame_rows(store.read()) == _frame_rows(want)
    # fragmentation observable: appended files accumulate...
    files_v3 = store.frame_file_counts()
    assert sum(files_v3.values()) > sum(files_v1.values())
    # ...and the v1 data files were linked forward, not rewritten
    inode_v3 = {
        os.stat(os.path.join(root, f)).st_ino
        for root, _, fs in os.walk(
            os.path.join(store.path, store.read_manifest()["snapshot"])
        )
        for f in fs
        if f.endswith(".parquet")
    }
    assert inode_v1 <= inode_v3


def test_compaction_preserves_pairs_and_reduces_files(
    spark, tmp_path, monkeypatch
):
    """The OPTIMIZE pass: after many delta commits, compact() rewrites
    each frame clustered by its probe key — probe results (the pairs a
    next batch would emit) are IDENTICAL before/after, row sets are
    identical, and the file count collapses to the target."""
    from hyperion_history_api_spark.operators.dedup import (
        build_dedup_index,
        dedup_index_delta,
        incremental_pairs,
    )

    docs = _docs(spark)
    monkeypatch.setattr(DedupIndexStore, "COMPACT_TARGET_FILES", 2)
    store = DedupIndexStore(spark, str(tmp_path / "idx"))
    store.commit(
        build_dedup_index(
            docs.where(F.col("doc_id") % 6 == 0), "text", "doc_id"
        )
    )
    for i in range(1, 5):
        idx = store.read()
        store.commit_delta(
            dedup_index_delta(
                idx,
                docs.where(F.col("doc_id") % 6 == i),
                "text",
                "doc_id",
            )
        )
    probe = docs.where(F.col("doc_id") % 6 == 5)
    before_idx = store.read()
    before_rows = _frame_rows(before_idx)
    before_pairs = _pairs_set(
        incremental_pairs(before_idx, probe, "text", "doc_id", threshold=0.5)
    )
    frag = store.frame_file_counts()
    store.compact()
    after_idx = store.read()
    assert _frame_rows(after_idx) == before_rows
    after_pairs = _pairs_set(
        incremental_pairs(after_idx, probe, "text", "doc_id", threshold=0.5)
    )
    assert after_pairs == before_pairs and before_pairs
    compacted = store.frame_file_counts()
    assert all(v <= 2 for v in compacted.values())
    assert sum(compacted.values()) < sum(frag.values())
    m = store.read_manifest()
    assert m.get("compacted") and m.get("delta_commits") == 0
    # the store keeps working after compaction
    store.commit_delta(
        dedup_index_delta(store.read(), probe, "text", "doc_id")
    )
    assert store.read().members.count() == docs.count()


def test_auto_compaction_every_k_delta_commits(spark, tmp_path, monkeypatch):
    from hyperion_history_api_spark.operators.dedup import (
        build_dedup_index,
        dedup_index_delta,
    )

    docs = _docs(spark)
    monkeypatch.setattr(DedupIndexStore, "COMPACT_TARGET_FILES", 2)
    store = DedupIndexStore(spark, str(tmp_path / "idx"), compact_every=2)
    store.commit(
        build_dedup_index(
            docs.where(F.col("doc_id") % 4 == 0), "text", "doc_id"
        )
    )
    for i in range(1, 4):
        store.commit_delta(
            dedup_index_delta(
                store.read(),
                docs.where(F.col("doc_id") % 4 == i),
                "text",
                "doc_id",
            )
        )
    m = store.read_manifest()
    # 3 delta commits with compact_every=2: one auto-compaction fired
    # (after the 2nd), and one delta commit followed it
    assert m["delta_commits"] == 1
    assert store.read().members.count() == docs.count()


def test_cached_frames_advance_in_place_across_delta_commits(
    spark, tmp_path
):
    """With cache_frames=True, a delta commit ADVANCES the cache to
    (cached ∪ delta) instead of invalidating it (round-8): the next
    read() is version-current with zero parquet re-listing, its rows
    equal an independent parquet read of the published snapshot, and
    compaction still resets to a fresh (persisted) parquet read."""
    from hyperion_history_api_spark.operators.dedup import (
        build_dedup_index,
        dedup_index_delta,
    )

    docs = _docs(spark)
    seed = docs.where(F.col("doc_id") % 3 == 0)
    store = DedupIndexStore(
        spark, str(tmp_path / "idx"), cache_frames=True, compact_every=None
    )
    store.commit(build_dedup_index(seed, "text", "doc_id"))
    cached0 = store.read()  # populates the cache (fresh parquet read)
    assert store._frame_cache is not None
    base = store._cache_base

    for i in (1, 2):
        b = docs.where(F.col("doc_id") % 3 == i)
        store.commit_delta(
            dedup_index_delta(store.read(), b, "text", "doc_id"),
            batch_id=i,
        )
        # the cache advanced to the just-published version in place:
        # same base frames persisted underneath, version current
        assert store._frame_cache[0] == int(
            store.read_manifest()["version"]
        )
        assert store._cache_base is base
        # the advanced cache is row-identical to an independent
        # parquet read of the published snapshot
        cold = DedupIndexStore(spark, str(tmp_path / "idx"))
        assert _frame_rows(store.read()) == _frame_rows(cold.read())

    # compaction publishes a new layout: the next read resets the
    # cache to a fresh parquet read (new base) with identical rows
    before = _frame_rows(store.read())
    store.compact()
    idx = store.read()
    assert _frame_rows(idx) == before
    assert store._cache_base is not None and store._cache_base is not base


def test_assume_small_batch_off_counts_the_gate(spark, tmp_path):
    """make_dedup_sink(assume_small_batch=False) routes every batch
    through the COUNTED probe-broadcast gate (the bulk-spool-replay
    configuration): output pairs are identical to the asserted-path
    sink over the same waves."""
    docs = _docs(spark)
    outs = {}
    for flag in (True, False):
        sink, paths = make_dedup_sink(
            spark,
            str(tmp_path / f"out_{flag}"),
            threshold=0.5,
            assume_small_batch=flag,
        )
        for w in range(3):
            sink(docs.where(F.col("doc_id") % 3 == w), w)
        outs[flag] = _pairs_set(read_pairs(spark, paths["pairs"]))
    assert outs[True] == outs[False] and outs[True]

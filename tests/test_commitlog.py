"""Direct unit coverage of the SHARED commit protocol
(hyperion_history_api_spark/commitlog.py) — the single audit surface
the stores (ParquetStateStore, DedupIndexStore, InvertedIndexStore,
lake refresh) delegate to. Store-level behavior (bucketed CoW, the
frame math, crash-safety through Spark writes) stays pinned in the
store suites; this file pins the protocol invariants themselves."""

from __future__ import annotations

import json
import os

import pytest

from hyperion_history_api_spark.commitlog import (
    CommitLog,
    FrameDeltaStore,
    link_files,
    link_tree,
    replace_dir,
    snap_version,
)


def _mk_snap(log: CommitLog, payload: str) -> str:
    snap, snap_dir = log.new_snapshot()
    os.makedirs(snap_dir)
    with open(os.path.join(snap_dir, "data.txt"), "w") as f:
        f.write(payload)
    return snap


def test_versions_monotonic_and_pointer_atomicity(tmp_path):
    log = CommitLog(str(tmp_path / "s"), keep_versions=2)
    assert log.read_manifest() is None
    assert log.versions() == []
    for i in range(3):
        log.publish(_mk_snap(log, f"v{i+1}"))
    m = log.read_manifest()
    assert m["version"] == 3
    assert snap_version(m["snapshot"]) == 3
    assert log.versions() == [2, 3]  # keep_versions=2 window
    # no stray manifest temp files survive a publish
    assert not [
        e for e in os.listdir(log.path) if e.startswith("MANIFEST.json.tmp")
    ]


def test_retention_gc_removes_only_out_of_window_snaps(tmp_path):
    log = CommitLog(str(tmp_path / "s"), keep_versions=2)
    snaps = []
    for i in range(4):
        s = _mk_snap(log, f"v{i+1}")
        snaps.append(s)
        log.publish(s)
    # window = current + 1 retained: v3, v4 on disk; v1, v2 GC'd
    alive = {e for e in os.listdir(log.path) if e.startswith("v")}
    assert alive == set(snaps[2:])


def test_retain_extra_postpones_gc_one_publish(tmp_path):
    log = CommitLog(str(tmp_path / "s"), keep_versions=2)
    s1, s2 = _mk_snap(log, "a"), None
    log.publish(s1)
    s2 = _mk_snap(log, "b")
    log.publish(s2)
    s3 = _mk_snap(log, "c")
    log.publish(s3, retain_extra=1)  # the delta+compact pairing
    alive = {e for e in os.listdir(log.path) if e.startswith("v")}
    assert s1 in alive  # would have been GC'd without retain_extra
    s4 = _mk_snap(log, "d")
    log.publish(s4)  # normal window resumes: both old ones go
    alive = {e for e in os.listdir(log.path) if e.startswith("v")}
    assert alive == {s3, s4}


def test_unpublished_snapshot_is_skipped_then_collected(tmp_path):
    """A snapshot dir allocated but never published (a build killed
    before its publish) does not lend its version to the next
    snapshot, and publishes past the retained window remove it."""
    log = CommitLog(str(tmp_path / "s"), keep_versions=2)
    orphan = _mk_snap(log, "killed build")
    snaps = []
    for i in range(3):
        s = _mk_snap(log, f"v{i+2}")
        assert snap_version(s) == i + 2  # past the orphan's version 1
        snaps.append(s)
        log.publish(s)
        assert log.read_manifest()["version"] == i + 2
    alive = {e for e in os.listdir(log.path) if e.startswith("v")}
    assert alive == set(snaps[1:])
    assert orphan not in alive
    assert log.versions() == [3, 4]


def test_extra_manifest_fields_round_trip(tmp_path):
    log = CommitLog(str(tmp_path / "s"))
    log.publish(_mk_snap(log, "x"), extra={"num_buckets": 7, "k": "v"})
    m = log.read_manifest()
    assert m["num_buckets"] == 7 and m["k"] == "v"


def test_version_snapshot_dir_time_travel_and_collected_raises(tmp_path):
    log = CommitLog(str(tmp_path / "s"), keep_versions=2)
    for i in range(3):
        log.publish(_mk_snap(log, f"v{i+1}"))
    d2 = log.version_snapshot_dir(2)
    assert open(os.path.join(d2, "data.txt")).read() == "v2"
    with pytest.raises(ValueError, match="retained window"):
        log.version_snapshot_dir(1)  # collected


def test_corrupt_manifest_reads_as_none(tmp_path):
    log = CommitLog(str(tmp_path / "s"))
    os.makedirs(log.path)
    with open(log.manifest_file(), "w") as f:
        f.write("{not json")
    assert log.read_manifest() is None


def test_link_files_shares_inodes_and_skips_bookkeeping(tmp_path):
    src, dst = tmp_path / "src", tmp_path / "dst"
    os.makedirs(src)
    (src / "part-0.parquet").write_text("data")
    (src / "_SUCCESS").write_text("")
    (src / ".hidden").write_text("")
    link_files(str(src), str(dst))
    assert sorted(os.listdir(dst)) == ["part-0.parquet"]
    assert (
        os.stat(src / "part-0.parquet").st_ino
        == os.stat(dst / "part-0.parquet").st_ino
    )


def test_link_tree_recurses_partition_dirs(tmp_path):
    src, dst = tmp_path / "src", tmp_path / "dst"
    os.makedirs(src / "b=1")
    (src / "b=1" / "f.parquet").write_text("x")
    link_tree(src, dst)
    assert (
        os.stat(src / "b=1" / "f.parquet").st_ino
        == os.stat(dst / "b=1" / "f.parquet").st_ino
    )


def test_replace_dir_swaps_and_cleans(tmp_path):
    dest, tmp = tmp_path / "t", tmp_path / ".t.tmp"
    os.makedirs(dest)
    (dest / "old.txt").write_text("old")
    os.makedirs(tmp)
    (tmp / "new.txt").write_text("new")
    replace_dir(tmp, dest)
    assert os.listdir(dest) == ["new.txt"]
    assert not tmp.exists()
    assert not [e for e in os.listdir(tmp_path) if ".old." in e]


def test_stores_share_the_protocol(tmp_path, spark, sf_dir, monkeypatch):
    """The unification claim itself: the versioned stores run on the
    same CommitLog class and produce interoperable manifests, both
    frame-delta stores run on the one FrameDeltaStore policy, and every
    write-once lake store (a lake table, an ``ensure_parquet`` artifact,
    ``state_tt``, an ``ensure_index_store`` index) resolves through a
    CommitLog manifest whose current snapshot holds its data."""
    from hyperion_history_api_spark.sources.inverted_index import (
        InvertedIndexStore,
    )
    from hyperion_history_api_spark.streaming.dedup_ingest import (
        DedupIndexStore,
    )
    from hyperion_history_api_spark.streaming.state_store import (
        ParquetStateStore,
    )

    st = ParquetStateStore(spark, str(tmp_path / "st"), keys=["k"])
    ix = DedupIndexStore(spark, str(tmp_path / "ix"))
    inv = InvertedIndexStore(spark, str(tmp_path / "inv"))
    assert all(type(s.log) is CommitLog for s in (st, ix, inv))
    assert isinstance(ix, FrameDeltaStore) and isinstance(inv, FrameDeltaStore)
    for cls in (DedupIndexStore, InvertedIndexStore):
        for name in ("_publish", "_commit_delta", "compact", "last_ingest_batch"):
            assert getattr(cls, name) is getattr(FrameDeltaStore, name)
    df = spark.createDataFrame([(1, 10)], "k int, block_num int")
    st.apply_batch(df)
    m = st.read_manifest()
    assert {"version", "snapshot", "history"} <= set(m)
    assert json.load(open(st.log.manifest_file())) == m
    inv.commit(spark.createDataFrame([(1, "a b a")], "doc_id long, text string"))
    assert json.load(open(inv.log.manifest_file())) == inv.read_manifest()

    from hyperion_history_api_spark.api.dedup_sim import _bm25_index_store
    from hyperion_history_api_spark.api.skew_q import _zorder_actions
    from hyperion_history_api_spark.api.state import state_time_travel_v1
    from hyperion_history_api_spark.sources import lake

    monkeypatch.setenv("SPARK_GRAFT_LAKE_DIR", str(tmp_path / "lake"))
    lake.lake_actions(spark, sf_dir)
    _zorder_actions(spark, sf_dir)
    state_time_travel_v1(spark, sf_dir)
    index = _bm25_index_store(spark, sf_dir)
    names = ("actions", "actions_zorder", "state_tt", "bm25_index")
    for name in names:
        log = lake.store_log(sf_dir, name)
        assert "key" in log.read_manifest()
        snap = log.current_snapshot_dir()
        assert [f for _, _, fs in os.walk(snap) for f in fs if f.endswith(".parquet")]
    assert index.path == lake.store_log(sf_dir, "bm25_index").current_snapshot_dir()
    stores = list((tmp_path / "lake" / os.path.basename(sf_dir)).iterdir())
    assert {d.name for d in stores} == set(names)
    assert all((d / CommitLog.MANIFEST).is_file() for d in stores)


def _dedup_case(spark, path):
    from hyperion_history_api_spark.operators.dedup import (
        build_dedup_index,
        dedup_index_delta,
    )
    from hyperion_history_api_spark.streaming.dedup_ingest import (
        DedupIndexStore,
    )

    store = DedupIndexStore(spark, path, compact_every=2)

    def seed(docs, batch_id):
        store.commit(
            build_dedup_index(docs, "text", "doc_id"), batch_id=batch_id
        )

    def delta(docs, batch_id, also):
        store.commit_delta(
            dedup_index_delta(store.read(), docs, "text", "doc_id"),
            batch_id=batch_id,
            also=also,
        )

    return store, seed, delta, store.FRAMES


def _index_case(spark, path):
    from hyperion_history_api_spark.sources.inverted_index import (
        POSTINGS_FRAME,
        InvertedIndexStore,
    )

    store = InvertedIndexStore(spark, path, compact_every=2)

    def seed(docs, batch_id):
        store.commit(docs, batch_id=batch_id)

    def delta(docs, batch_id, also):
        store.commit_delta(docs, batch_id=batch_id, also=also)

    # df/stats are aggregates rewritten each commit; postings append
    return store, seed, delta, (POSTINGS_FRAME,)


def _data_inodes(snap_dir: str, frames) -> set[int]:
    return {
        os.stat(os.path.join(snap_dir, f, e)).st_ino
        for f in frames
        for e in os.listdir(os.path.join(snap_dir, f))
        if e.endswith(".parquet")
    }


@pytest.mark.parametrize("case", [_dedup_case, _index_case])
def test_frame_delta_store_contract(tmp_path, spark, sf_dir, case):
    """Both frame-delta stores keep one contract: a replayed batch_id
    is a no-op that skips the caller's ``also`` legs too; a delta links
    every appended-frame file of the earlier version forward by inode;
    the delta that triggers auto-compaction keeps the version before it
    in the retained window, and the replay guard survives."""
    from hyperion_history_api_spark.tables import load_tables

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    wave = [docs.where(docs.doc_id % 3 == i) for i in range(3)]
    store, seed, delta, appended = case(spark, str(tmp_path / "s"))
    calls = []
    also = (lambda: calls.append(1),)

    seed(wave[0], 0)
    v1 = store.log.current_snapshot_dir()
    v1_inodes = _data_inodes(v1, appended)
    assert v1_inodes

    delta(wave[1], 1, also)
    assert calls == [1]
    m = store.read_manifest()
    assert m["version"] == 2 and m["last_ingest_batch"] == 1
    assert v1_inodes <= _data_inodes(store.log.current_snapshot_dir(), appended)

    delta(wave[1], 1, also)  # at-least-once replay of batch 1
    delta(wave[1], 0, also)  # and of the seed batch
    assert calls == [1]
    assert store.read_manifest() == m

    delta(wave[2], 2, also)  # the 2nd delta: auto-compaction follows
    assert calls == [1, 1]
    m = store.read_manifest()
    assert m["compacted"] and m["delta_commits"] == 0
    assert m["last_ingest_batch"] == 2 == store.last_ingest_batch()
    assert store.log.versions() == [2, 3, 4]

"""Manifest-pointer commit protocol of ParquetStateStore: a reader
concurrent with a merge/retract observes either the old snapshot or
the new one, never a mix; crashes before the pointer move are
invisible. Also the bucket layout: sized from the state, one file per
rewritten bucket, and the job count of a commit."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from hyperion_history_api_spark.streaming import state_store
from hyperion_history_api_spark.streaming.state_store import (
    ParquetStateStore,
    merge_update_by_block,
)


def _store(spark, tmp_path, **kw) -> ParquetStateStore:
    return ParquetStateStore(
        spark, str(tmp_path / "st"), keys=["key"], block_col="block_num", **kw
    )


def _upd(spark, rows):
    return spark.createDataFrame(rows, "key long, block_num long, val string")


def test_reader_concurrent_with_merge_sees_one_snapshot(spark, tmp_path):
    """The lagging-reader race the directory swap lost: resolve the
    current snapshot, let a merge commit UNDER the reader, then read —
    the retained-version window keeps the old files, so the reader gets
    exactly the old snapshot's rows."""
    st = _store(spark, tmp_path)
    st.apply_batch(_upd(spark, [(1, 10, "a"), (2, 10, "b")]))
    reader_df = st.current()  # lazy plan pinned to snapshot v1's files
    st.apply_batch(_upd(spark, [(1, 20, "a2"), (3, 20, "c")]))  # commit v2
    old = {(r.key, r.val) for r in reader_df.collect()}  # reads v1 files
    assert old == {(1, "a"), (2, "b")}  # complete old snapshot, no mix
    new = {(r.key, r.val) for r in st.current().collect()}
    assert new == {(1, "a2"), (2, "b"), (3, "c")}


def test_reader_concurrent_with_retract_sees_one_snapshot(spark, tmp_path):
    st = ParquetStateStore(
        spark, str(tmp_path / "st"), keys=["key"], block_col="block_num"
    )
    rows = [(i, 10 + i, f"b{(10 + i) // 5}") for i in range(10)]
    st.apply_batch(
        spark.createDataFrame(rows, "key long, block_num long, block_id string")
    )
    reader_df = st.current()
    forked = spark.createDataFrame([("b3",)], "block_id string")
    st.retract_forked(forked)  # commits v2 through the same protocol
    assert reader_df.count() == 10  # pre-fork snapshot intact
    kept = st.current()
    assert kept.where(F.col("block_id") == "b3").count() == 0
    assert kept.count() < 10


def test_gc_respects_retained_window(spark, tmp_path):
    st = _store(spark, tmp_path, keep_versions=2)
    for i in range(4):
        st.apply_batch(_upd(spark, [(1, i, f"v{i}")]))
    m = st.read_manifest()
    assert m["version"] == 4
    dirs = {d for d in os.listdir(st.path) if d.startswith("v")}
    # current + one retained predecessor; older snapshots GC'd
    assert dirs == {m["snapshot"], *m["history"]}
    assert len(dirs) == 2


def test_crash_before_pointer_move_is_invisible(spark, tmp_path):
    """A writer dying after writing its snapshot dir but before the
    os.replace leaves the old manifest intact — readers are unaffected
    and the orphan is just unreferenced files."""
    st = _store(spark, tmp_path)
    st.apply_batch(_upd(spark, [(1, 10, "a")]))
    m1 = st.read_manifest()
    # simulate the crash: snapshot written, pointer NOT moved
    orphan = os.path.join(st.path, "v99999999-deadbeef")
    _upd(spark, [(1, 99, "ghost")]).write.parquet(orphan)
    assert st.read_manifest() == m1
    assert {r.val for r in st.current().collect()} == {"a"}


def test_no_partial_manifest_left_behind(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.apply_batch(_upd(spark, [(1, 10, "a")]))
    st.apply_batch(_upd(spark, [(1, 20, "b")]))
    stray = [f for f in os.listdir(st.path) if ".tmp-" in f]
    assert stray == []


def test_manifest_versions_monotonic(spark, tmp_path):
    st = _store(spark, tmp_path)
    versions = []
    for i in range(3):
        st.apply_batch(_upd(spark, [(1, i, f"v{i}")]))
        versions.append(st.read_manifest()["version"])
    assert versions == [1, 2, 3]


def test_time_travel_within_retained_window(spark, tmp_path):
    """read_version resolves any retained commit (Delta-style
    VERSION AS OF bounded by the retention window); GC'd versions
    raise instead of silently serving the wrong snapshot."""
    import pytest

    st = _store(spark, tmp_path, keep_versions=3)
    st.apply_batch(_upd(spark, [(1, 10, "a")]))
    st.apply_batch(_upd(spark, [(2, 20, "b")]))
    st.apply_batch(_upd(spark, [(1, 30, "a3")]))
    assert st.versions() == [1, 2, 3]
    v1 = {(r.key, r.val) for r in st.read_version(1).collect()}
    v2 = {(r.key, r.val) for r in st.read_version(2).collect()}
    v3 = {(r.key, r.val) for r in st.read_version(3).collect()}
    assert v1 == {(1, "a")}
    assert v2 == {(1, "a"), (2, "b")}
    assert v3 == {(1, "a3"), (2, "b")}
    st.apply_batch(_upd(spark, [(3, 40, "c")]))  # v4 => v1 GC'd
    assert st.versions() == [2, 3, 4]
    with pytest.raises(ValueError, match="not in retained window"):
        st.read_version(1)


def test_incremental_commit_links_untouched_buckets(spark, tmp_path):
    """Bucket-level copy-on-write: a batch touching one key rewrites
    only that key's bucket; every other bucket's data files in the new
    snapshot are the SAME INODES as the previous snapshot's (hard
    links), and the merged state equals the naive full merge."""
    import os

    from pyspark.sql import functions as F

    st = ParquetStateStore(
        spark, str(tmp_path / "st"), ["k"], block_col="b", num_buckets=8,
        keep_versions=4,
    )
    base = spark.createDataFrame(
        [(i, 1, f"x{i}") for i in range(64)], "k int, b int, v string"
    )
    st.apply_batch(base)
    snap1 = st.read_manifest()["snapshot"]
    st.apply_batch(
        spark.createDataFrame([(7, 2, "updated")], "k int, b int, v string")
    )
    m = st.read_manifest()
    snap2 = m["snapshot"]

    def inodes(snap, bucket):
        d = os.path.join(st.path, snap, f"__b={bucket}")
        if not os.path.isdir(d):
            return None
        return sorted(
            os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d)
            if not f.startswith(("_", "."))
        )

    touched = st._bucket(
        spark.createDataFrame([(7,)], "k int")
    ).collect()[0]["__b"]
    linked = rewritten = 0
    for k in range(8):
        a, b = inodes(snap1, k), inodes(snap2, k)
        if k == touched:
            assert a != b  # rewritten bucket: new files
            rewritten += 1
        elif a is not None:
            assert a == b  # untouched bucket: same inodes
            linked += 1
    assert rewritten == 1 and linked >= 5
    # merged state == naive full merge
    rows = {(r["k"], r["b"], r["v"]) for r in st.current().collect()}
    want = {(i, 1, f"x{i}") for i in range(64) if i != 7} | {(7, 2, "updated")}
    assert rows == want


def test_incremental_commit_prunes_snapshot_scan(spark, tmp_path):
    """The touched-bucket read is a real partition-pruned scan:
    PartitionFilters on __b, not a full-snapshot filter."""
    from pyspark.sql import functions as F

    st = ParquetStateStore(
        spark, str(tmp_path / "st"), ["k"], block_col="b", num_buckets=8,
    )
    st.apply_batch(
        spark.createDataFrame(
            [(i, 1, i * 1.0) for i in range(40)], "k int, b int, v double"
        )
    )
    snap = st.read_manifest()["snapshot"]
    pruned = st._read_snapshot(snap).where(F.col("__b").isin([3]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__b" in plan


def test_incremental_deletes_and_retraction_still_correct(spark, tmp_path):
    """present=0 deletes and fork retraction through the bucket-
    incremental path produce the same state as the semantics demand."""
    st = ParquetStateStore(
        spark,
        str(tmp_path / "st"),
        ["k"],
        block_col="b",
        present_col="p",
        num_buckets=4,
        keep_versions=4,
    )
    st.apply_batch(
        spark.createDataFrame(
            [(i, 1, 1, f"blk{i % 3}") for i in range(12)],
            "k int, b int, p int, block_id string",
        )
    )
    # delete k=5 via present=0; stale replay for k=6 is dropped
    st.apply_batch(
        spark.createDataFrame(
            [(5, 2, 0, "blk9"), (6, 0, 1, "blk9")],
            "k int, b int, p int, block_id string",
        )
    )
    ks = {r["k"] for r in st.current().collect()}
    assert 5 not in ks and 6 in ks and len(ks) == 11
    # retract everything written by blk1
    st.retract_forked(
        spark.createDataFrame([("blk1",)], "block_id string")
    )
    left = {r["k"] for r in st.current().collect()}
    assert left == {k for k in range(12) if k % 3 != 1 and k != 5}


def test_reopen_with_different_num_buckets_stays_correct(spark, tmp_path):
    """The modulus is part of the snapshot layout: reopening with a
    different num_buckets must NOT take the bucket-pruned incremental
    path (stale __b values would make the merge miss existing rows and
    drop buckets >= the new modulus). The manifest records the modulus
    and a mismatch falls back to the full-rewrite merge."""
    st8 = ParquetStateStore(
        spark, str(tmp_path / "st"), ["k"], block_col="b", num_buckets=8,
    )
    st8.apply_batch(
        spark.createDataFrame(
            [(i, 1, f"x{i}") for i in range(32)], "k int, b int, v string"
        )
    )
    assert st8.read_manifest()["num_buckets"] == 8
    # reopen the same path under a 3-bucket modulus and update one key
    st3 = ParquetStateStore(
        spark, str(tmp_path / "st"), ["k"], block_col="b", num_buckets=3,
    )
    st3.apply_batch(
        spark.createDataFrame([(7, 2, "updated")], "k int, b int, v string")
    )
    rows = {(r["k"], r["v"]) for r in st3.current().collect()}
    want = {(i, f"x{i}") for i in range(32) if i != 7} | {(7, "updated")}
    assert rows == want  # no stale duplicate for k=7, no dropped buckets
    assert st3.read_manifest()["num_buckets"] == 3
    # and the NEXT commit under the new modulus takes the pruned path
    st3.apply_batch(
        spark.createDataFrame([(9, 2, "u9")], "k int, b int, v string")
    )
    rows2 = {(r["k"], r["v"]) for r in st3.current().collect()}
    assert (9, "u9") in rows2 and len(rows2) == 32


def test_all_deleted_incremental_commit_stays_readable(spark, tmp_path):
    """A tombstone batch deleting the last remaining rows produces an
    empty merge with every bucket touched: the commit must still land
    a readable snapshot (schema-preserving empty write), not an empty
    directory that breaks schema inference."""
    st = ParquetStateStore(
        spark, str(tmp_path / "st"), ["k"], block_col="b",
        present_col="p", num_buckets=4,
    )
    st.apply_batch(
        spark.createDataFrame(
            [(1, 1, 1, "a"), (2, 1, 1, "b")], "k int, b int, p int, v string"
        )
    )
    st.apply_batch(
        spark.createDataFrame(
            [(1, 2, 0, "x"), (2, 2, 0, "x")], "k int, b int, p int, v string"
        )
    )
    cur = st.current()  # must not raise schema-inference errors
    assert cur.count() == 0
    assert set(cur.columns) >= {"k", "b", "p", "v"}
    # the store remains usable after the wipe
    st.apply_batch(
        spark.createDataFrame([(3, 3, 1, "c")], "k int, b int, p int, v string")
    )
    assert {r["k"] for r in st.current().collect()} == {3}


def _data_files(st, snap) -> dict[str, int]:
    """Bucket dir (or "" for an unbucketed snapshot) -> data files."""
    out: dict[str, int] = {}
    root = os.path.join(st.path, snap)
    for d, _, files in os.walk(root):
        n = sum(1 for f in files if not f.startswith(("_", ".")))
        if n:
            rel = os.path.relpath(d, root)
            out["" if rel == "." else rel] = n
    return out


def _inodes(st, snap, bucket):
    d = os.path.join(st.path, snap, f"__b={bucket}")
    if not os.path.isdir(d):
        return None
    return sorted(
        os.stat(os.path.join(d, f)).st_ino
        for f in os.listdir(d)
        if not f.startswith(("_", "."))
    )


def test_small_state_is_one_bucket_and_one_job(spark, tmp_path, count_jobs):
    """The default store sizes its buckets from the state: a state far
    under one scan split is ONE bucket, one file. Its commit reads the
    snapshot with the manifest's schema (no inference job), needs no
    touched-bucket job, and merges in the writing task with no
    exchange: one job, on the first commit and after."""
    st = _store(spark, tmp_path)
    first = _upd(spark, [(i, 1, f"x{i}") for i in range(100)])
    assert count_jobs(lambda: st.apply_batch(first)) == 1
    live = _upd(spark, [(i, 2, f"y{i}") for i in range(0, 150, 7)])
    assert count_jobs(lambda: st.apply_batch(live)) == 1
    m = st.read_manifest()
    assert m["num_buckets"] == 1 and m["sized"] is True
    assert {f["name"] for f in m["schema"]["fields"]} == {"key", "block_num", "val"}
    assert _data_files(st, m["snapshot"]) == {"__b=0": 1}
    got = {(r.key, r.val) for r in st.current().collect()}
    want = {(i, f"x{i}") for i in range(100)}
    want = {(k, v) for k, v in want if k % 7} | {
        (i, f"y{i}") for i in range(0, 150, 7)
    }
    assert got == want


def test_several_touched_buckets_commit_in_three_jobs(spark, tmp_path, count_jobs):
    """With several buckets the touched set is one exchange-free job,
    and the merge shuffles once on the bucket (map job + write job):
    three jobs."""
    st = _store(spark, tmp_path, num_buckets=4)
    st.apply_batch(_upd(spark, [(i, 1, f"x{i}") for i in range(64)]))
    upd = _upd(spark, [(i, 2, f"u{i}") for i in (3, 17, 40, 41, 63)])
    touched = {r["__b"] for r in st._bucket(upd).select("__b").collect()}
    assert len(touched) > 1
    assert count_jobs(lambda: st.apply_batch(upd)) == 3


def test_commit_writes_one_file_per_touched_bucket_with_rows(spark, tmp_path):
    """Every rewritten bucket lands exactly one data file; a touched
    bucket whose rows were all deleted lands none; the others are the
    previous snapshot's files, linked."""
    st = ParquetStateStore(
        spark, str(tmp_path / "st"), ["k"], block_col="b", present_col="p",
        num_buckets=4, keep_versions=4,
    )
    base = spark.createDataFrame(
        [(i, 1, 1) for i in range(32)], "k int, b int, p int"
    )
    st.apply_batch(base)
    snap1 = st.read_manifest()["snapshot"]
    assert _data_files(st, snap1) == {f"__b={k}": 1 for k in range(4)}
    bucket = {r["k"]: r["__b"] for r in st._bucket(base).collect()}
    wiped, kept = bucket[0], next(b for b in bucket.values() if b != bucket[0])
    upd = [(k, 2, 0) for k, b in bucket.items() if b == wiped]
    upd.append((next(k for k, b in bucket.items() if b == kept), 2, 1))
    st.apply_batch(spark.createDataFrame(upd, "k int, b int, p int"))
    snap2 = st.read_manifest()["snapshot"]
    files = _data_files(st, snap2)
    assert f"__b={wiped}" not in files
    assert files == {f"__b={k}": 1 for k in range(4) if k != wiped}
    for k in range(4):
        if k not in (wiped, kept):
            assert _inodes(st, snap2, k) == _inodes(st, snap1, k)
    assert _inodes(st, snap2, kept) != _inodes(st, snap1, kept)
    left = {r["k"] for r in st.current().collect()}
    assert left == {k for k, b in bucket.items() if b != wiped}


def test_store_written_in_fixed_eight_bucket_layout_rebuckets(spark, tmp_path):
    """A store published as 8 buckets with no schema in its manifest
    (the fixed-modulus layout) still reads by inference, and its next
    commit re-buckets it to the sized layout with the same rows as a
    naive full merge."""
    root = tmp_path / "st"
    snap = "v00000001-0123abcd"
    schema = "k int, b int, v string"
    base = spark.createDataFrame([(i, 1, f"x{i}") for i in range(64)], schema)
    (
        base.withColumn("__b", F.pmod(F.xxhash64("k"), F.lit(8)).cast("int"))
        .repartition(8, "__b")
        .write.partitionBy("__b")
        .parquet(str(root / snap))
    )
    (root / "MANIFEST.json").write_text(
        json.dumps(
            {"version": 1, "snapshot": snap, "history": [], "num_buckets": 8}
        )
    )
    st = ParquetStateStore(spark, str(root), ["k"], block_col="b")
    assert {r["k"] for r in st.current().collect()} == set(range(64))
    upd = spark.createDataFrame([(7, 2, "u7"), (70, 2, "new")], schema)
    st.apply_batch(upd)
    m = st.read_manifest()
    assert m["version"] == 2 and m["num_buckets"] == 1 and m["sized"] is True
    assert _data_files(st, m["snapshot"]) == {"__b=0": 1}
    want = merge_update_by_block(base, upd, ["k"], block_col="b")
    got = {tuple(r) for r in st.current().select("k", "b", "v").collect()}
    assert got == {tuple(r) for r in want.select("k", "b", "v").collect()}
    # the v1 snapshot, published without a schema, still time-travels
    assert st.read_version(1).count() == 64


def test_sized_store_grows_buckets_then_links_again(spark, tmp_path, monkeypatch):
    """A state that crosses the per-bucket target re-buckets to more
    buckets in ONE commit and keeps every row; the modulus only grows
    (a smaller target later keeps it), so the next commit is
    incremental again: untouched buckets are the same inodes."""
    st = _store(spark, tmp_path, keep_versions=4)
    st.apply_batch(_upd(spark, [(i, 1, f"x{i}") for i in range(200)]))
    m1 = st.read_manifest()
    assert m1["num_buckets"] == 1
    data = state_store._data_bytes(st.log.snapshot_dir(m1["snapshot"]))
    # 3-4 targets' worth of data: the next commit needs 4 buckets
    monkeypatch.setattr(state_store, "_bucket_target_bytes", lambda _s: data // 3)
    st.apply_batch(_upd(spark, [(7, 2, "u7")]))
    m2 = st.read_manifest()
    assert m2["num_buckets"] == 4
    assert _data_files(st, m2["snapshot"]) == {f"__b={k}": 1 for k in range(4)}
    want = {(i, f"x{i}") for i in range(200) if i != 7} | {(7, "u7")}
    assert {(r.key, r.val) for r in st.current().collect()} == want

    monkeypatch.setattr(state_store, "_bucket_target_bytes", lambda _s: 1 << 40)
    st.apply_batch(_upd(spark, [(9, 3, "u9")]))
    m3 = st.read_manifest()
    assert m3["num_buckets"] == 4
    touched = st._bucket(_upd(spark, [(9, 3, "u9")]), 4).first()["__b"]
    for k in range(4):
        same = _inodes(st, m3["snapshot"], k) == _inodes(st, m2["snapshot"], k)
        assert same == (k != touched), k
    want = (want - {(9, "x9")}) | {(9, "u9")}
    assert {(r.key, r.val) for r in st.current().collect()} == want

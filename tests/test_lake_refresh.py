"""Incremental lake maintenance (sources/lake_refresh.py): a batch of
new events must touch ONLY the block_part directories it lands in —
untouched partitions are carried into the new snapshot by hard link
(no data copy), touched partitions are merged + re-sorted, replays are
absorbed by the natural key, and publication stays atomic.

This is the property that lets the lake track a live chain at 100 TB:
per-batch cost is O(batch + touched partitions), not O(history).
Reference behavior mirrored: per-partition index routing
(elastic-routes.ts:484-486) and _id-overwrite replay absorption
(elastic-routes.ts:60-65).
"""

from __future__ import annotations

import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from hyperion_history_api_spark.sources import lake, lake_refresh
from hyperion_history_api_spark.tables import load_tables

SF_DIR = "/root/testdata/sf0.001"
# event_id offset that lands in block_part 5 (block_num = id/5 + 1)
FAR_OFFSET = 5 * lake.BLOCK_PART_SIZE * 5


@pytest.fixture()
def iso_lake(tmp_path, monkeypatch):
    """Isolated lake dir so refresh tests never mutate the shared one."""
    monkeypatch.setenv("SPARK_GRAFT_LAKE_DIR", str(tmp_path / "lake"))
    yield tmp_path / "lake"


def _batch(spark, n: int, offset: int):
    ev = load_tables(spark, SF_DIR)["events"]
    return ev.limit(n).withColumn("event_id", F.col("event_id") + F.lit(offset))


def _current(name: str = "actions") -> Path:
    """The current snapshot dir of the stored table ``name``."""
    return Path(lake.store_log(SF_DIR, name).current_snapshot_dir())


def _part_dirs():
    return sorted(p.name for p in _current().iterdir() if p.name.startswith("block_part="))


def _inodes(part: str) -> dict[str, int]:
    return {f.name: f.stat().st_ino for f in (_current() / part).iterdir()}


def test_refresh_appends_new_partition_and_links_old(spark, iso_lake):
    base = lake.lake_actions(spark, SF_DIR)
    base_n = base.count()
    before = _part_dirs()
    before_inodes = {p: _inodes(p) for p in before}

    refreshed = lake_refresh.refresh_partitioned(
        spark, SF_DIR, "actions", _batch(spark, 40, FAR_OFFSET)
    )
    assert refreshed.count() == base_n + 40
    after = _part_dirs()
    assert set(after) > set(before)  # a new partition dir appeared
    # untouched partitions are the SAME files (hard links), not copies
    for p in before:
        assert _inodes(p) == before_inodes[p]
    # the stored table remains fresh: lake_table serves it, no rebuild
    assert lake.lake_actions(spark, SF_DIR).count() == base_n + 40


def test_refresh_merges_straddling_partition(spark, iso_lake):
    base_n = lake.lake_actions(spark, SF_DIR).count()
    # ids 1000..1019 -> block_num 201..204 -> existing part 0 (merge path)
    refreshed = lake_refresh.refresh_partitioned(
        spark, SF_DIR, "actions", _batch(spark, 20, 1000)
    )
    assert refreshed.count() == base_n + 20
    part0 = refreshed.where(F.col("block_part") == 0)
    assert part0.count() == base_n + 20


def test_refresh_replay_is_idempotent(spark, iso_lake):
    base_n = lake.lake_actions(spark, SF_DIR).count()
    batch = _batch(spark, 30, FAR_OFFSET)
    lake_refresh.refresh_partitioned(spark, SF_DIR, "actions", batch)
    again = lake_refresh.refresh_partitioned(spark, SF_DIR, "actions", batch)
    assert again.count() == base_n + 30  # natural-key dedup absorbed the replay


def test_refresh_restores_index_sort_in_rewritten_partition(spark, iso_lake):
    import pyarrow.parquet as pq

    lake_refresh.refresh_partitioned(
        spark, SF_DIR, "actions", _batch(spark, 20, 1000)
    )
    files = [f for f in (_current() / "block_part=0").iterdir() if f.name.endswith(".parquet")]
    assert files
    for f in files:
        gs = pq.read_table(f, columns=["global_sequence"])["global_sequence"]
        vals = gs.to_pylist()
        assert vals == sorted(vals, reverse=True)  # index-templates.ts:29-40


def test_refresh_updates_manifest_journal(spark, iso_lake):
    lake.lake_actions(spark, SF_DIR)
    log = lake.store_log(SF_DIR, "actions")
    base = log.read_manifest()
    lake_refresh.refresh_partitioned(
        spark, SF_DIR, "actions", _batch(spark, 10, FAR_OFFSET)
    )
    m = log.read_manifest()
    assert m["version"] == base["version"] + 1
    assert m["increments"] == 1
    # freshness key carried -> next lake_table call does NOT rebuild
    assert m["key"] == base["key"]
    lake.lake_actions(spark, SF_DIR)
    assert log.read_manifest() == m


def test_refresh_all_covers_deltas(spark, iso_lake):
    base_d = lake.lake_deltas(spark, SF_DIR).count()
    out = lake_refresh.refresh_all(spark, SF_DIR, _batch(spark, 25, FAR_OFFSET))
    assert out["deltas"].count() == base_d + 25
    assert out["actions"].count() == lake.lake_actions(spark, SF_DIR).count()


def test_refreshed_lake_serves_block_range_pruned(spark, iso_lake):
    lake_refresh.refresh_partitioned(
        spark, SF_DIR, "actions", _batch(spark, 15, FAR_OFFSET)
    )
    lo = 5 * lake.BLOCK_PART_SIZE
    df = lake.prune_block_range(
        lake.lake_actions(spark, SF_DIR), lo=lo, hi=lo + lake.BLOCK_PART_SIZE - 1
    )
    assert df.count() == 15
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "block_part" in plan  # partition filter present in the scan


def test_ingest_log_to_lake_lifecycle(spark, iso_lake, tmp_path):
    """End-to-end ingest -> serving loop: the streaming sink appends a
    micro-batch (durable log + state MERGE), refresh_from_ingest_log
    folds it into the lake, and a pruned interactive query sees the new
    blocks — the reference's bulk-write -> partition-index -> API hop."""
    from hyperion_history_api_spark.streaming.ingest import (
        decode_and_enrich,
        make_ingest_sink,
    )

    base_n = lake.lake_actions(spark, SF_DIR).count()
    out = tmp_path / "ingest"
    sink, paths = make_ingest_sink(spark, str(out))

    batch = decode_and_enrich(_batch(spark, 35, FAR_OFFSET))
    sink(batch, 0)  # exactly what foreachBatch does per micro-batch

    refreshed = lake_refresh.refresh_from_ingest_log(
        spark, SF_DIR, paths["action_log"], batch_ids=[0]
    )
    assert refreshed["actions"].count() == base_n + 35

    lo = 5 * lake.BLOCK_PART_SIZE
    served = lake.prune_block_range(
        lake.lake_actions(spark, SF_DIR), lo=lo, hi=lo + lake.BLOCK_PART_SIZE
    )
    assert served.count() == 35

    # a replayed batch (at-least-once delivery) changes nothing
    sink(batch, 0)
    again = lake_refresh.refresh_from_ingest_log(
        spark, SF_DIR, paths["action_log"], batch_ids=[0]
    )
    assert again["actions"].count() == base_n + 35


def test_failed_refresh_leaves_snapshot_intact(spark, iso_lake):
    """Crash safety: a refresh whose build job fails must leave the
    published snapshot untouched (the temp build is discarded; the
    rename never happens)."""
    base_n = lake.lake_actions(spark, SF_DIR).count()
    log = lake.store_log(SF_DIR, "actions")
    m = log.read_manifest()
    before = {p: _inodes(p) for p in _part_dirs()}

    poison = _batch(spark, 10, FAR_OFFSET).withColumn(
        "event_id",
        F.when(F.assert_true(F.col("event_id") < 0).isNull(), F.col("event_id")),
    )
    with pytest.raises(Exception):
        lake_refresh.refresh_partitioned(spark, SF_DIR, "actions", poison)

    assert log.read_manifest() == m
    assert {p: _inodes(p) for p in _part_dirs()} == before
    assert lake.lake_actions(spark, SF_DIR).count() == base_n
    # no orphan snapshot dir left behind
    assert [p for p in os.listdir(log.path) if p.startswith("v")] == [m["snapshot"]]


def test_fork_retraction_trims_tip_partition_links_history(spark, iso_lake):
    """S11 on the serving lake: a fork invalidates only the chain tip —
    the fork partition is rewritten trimmed, every older partition
    hard-links through unchanged, deeper partitions vanish."""
    lake_refresh.refresh_partitioned(
        spark, SF_DIR, "actions", _batch(spark, 40, FAR_OFFSET)
    )
    part0_before = _inodes("block_part=0")
    new_blocks = sorted(
        r[0]
        for r in lake.lake_actions(spark, SF_DIR)
        .where(F.col("block_part") == 5)
        .select("block_num")
        .distinct()
        .collect()
    )
    fork = new_blocks[len(new_blocks) // 2]  # mid-tip fork point
    kept_in_tip = (
        lake.lake_actions(spark, SF_DIR)
        .where((F.col("block_part") == 5) & (F.col("block_num") <= fork))
        .count()
    )

    out = lake_refresh.retract_blocks_above(spark, SF_DIR, "actions", fork)
    assert out.agg(F.max("block_num")).first()[0] <= fork
    assert out.where(F.col("block_part") == 5).count() == kept_in_tip
    assert _inodes("block_part=0") == part0_before  # history untouched


def test_fork_retraction_drops_partitions_beyond_fork(spark, iso_lake):
    """A fork below a whole partition removes that partition entirely."""
    base_n = lake.lake_actions(spark, SF_DIR).count()
    lake_refresh.refresh_partitioned(
        spark, SF_DIR, "actions", _batch(spark, 40, FAR_OFFSET)
    )
    # fork at the top of the base range: part 5 disappears, part 0 trimmed to fork
    out = lake_refresh.retract_blocks_above(spark, SF_DIR, "actions", 150)
    assert out.count() == (
        out.where(F.col("block_num") <= 150).count()
    )
    assert out.agg(F.max("block_num")).first()[0] <= 150
    assert "block_part=5" not in _part_dirs()
    assert out.count() < base_n


def test_refresh_invalidates_cached_planner_stats(spark, iso_lake):
    """A committed increment drops the lake's cached NDV statistics
    (sources/stats.py), so the next chooser-planned query re-analyzes
    instead of deciding on stale cardinalities. Proven job-free /
    job-required via the poisoned-frame trick: a frame that raises if
    any job runs answers fine from cache, then raises after the
    refresh."""
    import pytest

    from hyperion_history_api_spark.sources.stats import (
        column_ndv,
        invalidate_stats,
    )

    invalidate_stats(SF_DIR)
    ev = load_tables(spark, SF_DIR)["events"]
    ndv = column_ndv(ev, "event_type", cache_key=SF_DIR)
    poisoned = spark.range(1).select(
        F.raise_error(F.lit("boom")).alias("event_type")
    )
    assert column_ndv(poisoned, "event_type", cache_key=SF_DIR) == ndv

    # key spellings are canonicalized: a trailing slash or relative
    # path resolves to the SAME cache entry (a spelling mismatch must
    # never split a table's stats and skip invalidation — ADVICE r06)
    assert column_ndv(poisoned, "event_type", cache_key=SF_DIR + "/") == ndv
    rel = os.path.relpath(SF_DIR)
    assert column_ndv(poisoned, "event_type", cache_key=rel) == ndv

    lake_refresh.refresh_partitioned(
        spark, SF_DIR, "actions", _batch(spark, 10, FAR_OFFSET)
    )
    with pytest.raises(Exception, match="boom"):
        column_ndv(poisoned, "event_type", cache_key=SF_DIR)
    # ...and the invalidation reached every spelling of the key
    with pytest.raises(Exception, match="boom"):
        column_ndv(poisoned, "event_type", cache_key=SF_DIR + "/")
    invalidate_stats(SF_DIR)

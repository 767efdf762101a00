"""Materialized-lake invariants (sources/lake.py): stored tables are
bit-identical to the on-the-fly enrichment, block-range predicates
prune partitions, and the cache invalidates on version/source change."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from hyperion_history_api_spark.sources import lake
from hyperion_history_api_spark.sources.hyperion_model import (
    build_actions,
    build_deltas,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")


def test_lake_actions_matches_enrichment(spark):
    stored = lake.lake_actions(spark, SF_DIR).drop("block_part")
    fresh = build_actions(spark, SF_DIR)
    assert stored.count() == fresh.count()
    assert stored.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(stored).count() == 0


def test_lake_deltas_matches_enrichment(spark):
    stored = lake.lake_deltas(spark, SF_DIR).drop("block_part")
    fresh = build_deltas(spark, SF_DIR)
    assert stored.count() == fresh.count()
    assert stored.exceptAll(fresh).count() == 0


def test_block_range_prunes_partitions(spark):
    hi = lake.BLOCK_PART_SIZE - 1  # entirely inside partition 0
    df = lake.prune_block_range(lake.lake_actions(spark, SF_DIR), lo=1, hi=hi)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "block_part" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]


def test_block_num_filter_pushed_to_scan(spark):
    df = lake.prune_block_range(lake.lake_actions(spark, SF_DIR), lo=5, hi=9)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters:", 1)[1].split("]", 1)[0]
    assert "GreaterThanOrEqual(block_num,5)" in pushed
    assert "LessThanOrEqual(block_num,9)" in pushed


def test_manifest_invalidates_on_version_change(spark):
    lake.lake_actions(spark, SF_DIR)  # ensure built
    dest = lake.lake_root() / os.path.basename(SF_DIR) / "actions"
    manifest = dest / "_lake_manifest.json"
    m = json.loads(manifest.read_text())
    assert m["version"] == lake.LAKE_VERSION
    manifest.write_text(json.dumps({**m, "version": -1}))
    assert not lake._is_fresh(dest, lake._source_fingerprint(SF_DIR))
    # next access rebuilds and restores a fresh manifest
    lake.lake_actions(spark, SF_DIR)
    assert json.loads(manifest.read_text())["version"] == lake.LAKE_VERSION


def test_stored_sort_is_index_sort(spark):
    """Within each stored file, actions are sorted global_sequence desc
    (index-templates.ts:29-40) — verified per input file via
    monotonically increasing row order in each parquet split."""
    from pyspark.sql import Window

    df = lake.lake_actions(spark, SF_DIR).select(
        "global_sequence", F.input_file_name().alias("f")
    )
    # spark preserves within-file row order for parquet scans of a
    # single file per partition; check non-increasing sequence per file
    w = Window.partitionBy("f").orderBy(F.monotonically_increasing_id())
    viol = (
        df.withColumn("prev", F.lag("global_sequence").over(w))
        .where(F.col("prev").isNotNull() & (F.col("global_sequence") > F.col("prev")))
        .count()
    )
    assert viol == 0


def test_cached_read_parquet_sees_inplace_partition_rewrite(spark, tmp_path):
    """The read-cache fingerprint walks the FULL tree: rewriting a
    file inside a partition subdirectory IN PLACE (same name, new
    bytes) does not bump the subdir's mtime, so a shallow listing
    would serve the stale DataFrame forever."""
    import os
    import time

    from hyperion_history_api_spark.tables import cached_read_parquet

    root = tmp_path / "t.parquet"
    sub = root / "p=1"
    sub.mkdir(parents=True)
    spark.createDataFrame([(1,)], "a long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(sub))
    part = next(p for p in os.listdir(sub) if p.endswith(".parquet"))
    assert cached_read_parquet(spark, str(root)).count() == 1
    # in-place rewrite: same file NAME inside the subdir, new contents
    tmp_out = tmp_path / "stage"
    spark.createDataFrame([(2,), (3,)], "a long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_out))
    new_part = next(
        p for p in os.listdir(tmp_out) if p.endswith(".parquet")
    )
    os.replace(tmp_out / new_part, sub / part)
    # drop Hadoop LocalFileSystem's checksum sidecar — it describes the
    # OLD bytes (a real lake writer republishes crc+data together)
    crc = sub / f".{part}.crc"
    if crc.exists():
        os.remove(crc)
    # os.replace updates the file's own mtime but NOT the parent dir's
    # when the name already existed; nudge the clock-resolution edge
    os.utime(sub / part, ns=(time.time_ns(), time.time_ns()))
    assert cached_read_parquet(spark, str(root)).count() == 2

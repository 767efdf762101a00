"""Z-order clustering (operators/zorder.py): the Morton key matches
an independent bit-interleave, and — the point of the operator —
files written under Z-order clustering let parquet min/max footer
statistics prune BOTH filter dimensions, where a single-column sort
prunes only its own."""

from __future__ import annotations

from pyspark.sql import functions as F

from hyperion_history_api_spark.operators.zorder import (
    cluster_by_zorder,
    file_prune_fraction,
    zorder_key,
)

SF_DIR = "/root/testdata/sf0.001"


def _events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "user_id", "value"
    )


def _ref_morton(a: int, b: int, bits: int = 16) -> int:
    out = 0
    for i in range(bits):
        out |= ((a >> i) & 1) << (2 * i)
        out |= ((b >> i) & 1) << (2 * i + 1)
    return out


def test_key_matches_independent_interleave(spark):
    rows = (
        _events(spark)
        .select(
            "event_id",
            "user_id",
            zorder_key("user_id", "(event_id div 16)").alias("zkey"),
        )
        .limit(200)
        .collect()
    )
    assert rows
    for r in rows:
        assert r["zkey"] == _ref_morton(r["user_id"], r["event_id"] // 16)


def test_zorder_files_prune_both_dimensions(spark, tmp_path):
    """Write the same rows clustered (a) by event_id only and (b) by
    the Morton key; judge pruning from real parquet footer min/max
    stats (the same decision Spark's pushdown makes). The single-sort
    layout prunes event_id ranges but NOTHING for a user_id point;
    the Z-order layout prunes a majority of files for BOTH."""
    ev = _events(spark)
    single = str(tmp_path / "single")
    zord = str(tmp_path / "zorder")
    ev.repartitionByRange(32, "event_id").sortWithinPartitions(
        "event_id"
    ).write.parquet(single)
    # Z-order prerequisite: scale both dims to comparable bit widths
    # (sf0.001: user_id 0-14 ~4 bits, event_id//64 0-15 ~4 bits) —
    # interleaving a 4-bit with a 10-bit dimension would let the wide
    # one dominate the high bits and collapse back to a single sort.
    cluster_by_zorder(
        ev, "user_id", "(event_id div 64)", num_files=32
    ).write.parquet(zord)

    # point predicate on user_id (the "account" dimension)
    u_single = file_prune_fraction(single, "user_id", 7, 7)
    u_zorder = file_prune_fraction(zord, "user_id", 7, 7)
    # narrow range on event_id (the "block range" dimension)
    e_single = file_prune_fraction(single, "event_id", 100, 160)
    e_zorder = file_prune_fraction(zord, "event_id", 100, 160)

    assert u_single == 0.0  # every file spans the full user domain
    assert e_single >= 0.8  # its own sort dimension prunes hard
    assert u_zorder >= 0.5, f"user_id pruning too weak: {u_zorder}"
    assert e_zorder >= 0.5, f"event_id pruning too weak: {e_zorder}"

    # clustering must not change content
    assert (
        cluster_by_zorder(ev, "user_id", "(event_id div 16)")
        .drop("__z")
        .exceptAll(ev)
        .count()
        == 0
    )


def test_zorder_actions_scan_pushdown_and_file_pruning(spark):
    """The stored Z-ordered actions table: both predicates reach the
    parquet scan as PushedFilters, and the footer stats prune a
    majority of files for the account dimension — the thing the
    single-dim index sort cannot do."""
    from hyperion_history_api_spark.api.skew_q import _zorder_actions
    from hyperion_history_api_spark.registry import all_specs
    from hyperion_history_api_spark.sources.lake import store_log

    df = all_specs()["hyp_actions_zorder_scan"].spark_fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters")[1][:200] if "PushedFilters" in plan else ""
    assert "user_id" in pushed and "block_num" in pushed

    _zorder_actions(spark, SF_DIR)  # ensure stored
    path = store_log(SF_DIR, "actions_zorder").current_snapshot_dir()
    assert file_prune_fraction(path, "user_id", 7, 7) >= 0.5
    assert file_prune_fraction(path, "block_num", 40, 80) >= 0.5

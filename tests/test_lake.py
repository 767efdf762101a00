"""Materialized-lake invariants (sources/lake.py): stored tables are
bit-identical to the on-the-fly enrichment, block-range predicates
prune partitions, and the cache invalidates on version/source change."""

from __future__ import annotations

import json
import os
from pathlib import Path

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


def test_manifest_invalidates_on_version_change(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_LAKE_DIR", str(tmp_path / "lake"))
    lake.lake_actions(spark, SF_DIR)  # ensure built
    log = lake.store_log(SF_DIR, "actions")
    m1 = log.read_manifest()
    assert json.loads(m1["key"])[0] == lake.LAKE_VERSION
    assert os.path.isdir(os.path.join(log.snapshot_dir(m1["snapshot"]), "block_part=0"))
    lake.lake_actions(spark, SF_DIR)
    assert log.read_manifest() == m1  # a fresh key publishes nothing
    # a changed LAKE_VERSION key rebuilds into the next version
    monkeypatch.setattr(lake, "LAKE_VERSION", lake.LAKE_VERSION + 1)
    lake.lake_actions(spark, SF_DIR)
    m2 = log.read_manifest()
    assert m2["version"] == m1["version"] + 1
    assert json.loads(m2["key"])[0] == lake.LAKE_VERSION


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


def _land(spark, sf: str, first_id: int, n: int = 6) -> None:
    """Land one spool file of ``n`` click events of user 7."""
    spark.createDataFrame(
        [(first_id + i, 7, "click", float(i), "{}") for i in range(n)],
        "event_id long, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.timestamp_micros(F.lit(1_700_000_000_000_000))).coalesce(
        1
    ).write.mode("append").parquet(f"{sf}/events.parquet")


def _head(spark, sf: str) -> int:
    from hyperion_history_api_spark.tables import load_tables

    return int(load_tables(spark, sf)["events"].agg(F.max("event_id")).first()[0])


def test_planned_read_survives_republish(spark, tmp_path, monkeypatch, growable_sf):
    """A query planned on the stored table keeps its files when the
    table is republished: a landed spool file makes the next
    ``lake_actions`` call publish a new version, and the plan made
    before it still answers from the old snapshot."""
    monkeypatch.setenv("SPARK_GRAFT_LAKE_DIR", str(tmp_path / "lake"))
    sf = growable_sf
    head = _head(spark, sf)
    involved = F.col("act.authorization")[0]["actor"] == "user7"
    want = sorted(
        r[0] for r in build_actions(spark, sf).where(involved).select("global_sequence").collect()
    )
    planned = lake.lake_actions(spark, sf).where(involved).select("global_sequence")

    _land(spark, sf, head + 1)
    assert lake.lake_actions(spark, sf).where(involved).count() == len(want) + 6

    assert sorted(r[0] for r in planned.collect()) == want


def test_concurrent_requests_see_one_published_version(
    spark, tmp_path, monkeypatch, growable_sf
):
    """4 threads send ``model=hyperion`` get_actions and get_transaction
    while 3 spool files land: no request fails, every body equals the
    answer at some published version, and each landing publishes
    exactly one new ``actions`` version (one build per stale key)."""
    import hashlib
    import threading
    import time
    import urllib.request

    from hyperion_history_api_spark.api.http_server import HyperionAPI, serve_background
    from hyperion_history_api_spark.api.serving_cache import ResponseCache

    monkeypatch.setenv("SPARK_GRAFT_LAKE_DIR", str(tmp_path / "lake"))
    sf = growable_sf
    head = _head(spark, sf)
    # a trx whose actions all land in the first spool file
    trx = hashlib.md5(f"trx{head // 3 + 1}".encode()).hexdigest()[:16]
    paths = [
        "/v2/history/get_actions?model=hyperion&account=user7&limit=20",
        f"/v2/history/get_transaction?model=hyperion&id={trx}",
    ]
    srv, _ = serve_background(HyperionAPI(spark, sf, cache=ResponseCache(default_ttl=0)))
    base = f"http://127.0.0.1:{srv.server_address[1]}"

    def answer(path: str) -> dict:
        with urllib.request.urlopen(base + path, timeout=120) as r:
            body = json.loads(r.read())
        body.pop("query_time_ms")
        return body

    log = lake.store_log(sf, "actions")
    seen, failures, stop = [], [], threading.Event()

    def client(i: int) -> None:
        while not stop.is_set():
            path = paths[i % 2]
            try:
                seen.append((path, answer(path)))
            except Exception as e:  # noqa: BLE001 — an HTTP 4xx/5xx or a dropped connection
                failures.append(repr(e))

    try:
        answers = {p: [answer(p)] for p in paths}
        v0 = log.read_manifest()["version"]
        threads = [threading.Thread(target=client, args=(i,)) for i in range(4)]
        for t in threads:
            t.start()
        for k in range(3):
            _land(spark, sf, head + 1 + 6 * k)
            deadline = time.monotonic() + 120
            while log.read_manifest()["version"] < v0 + k + 1:
                assert time.monotonic() < deadline, "no request republished actions"
                time.sleep(0.05)
            for p in paths:
                answers[p].append(answer(p))
        stop.set()
        for t in threads:
            t.join()
    finally:
        stop.set()
        srv.shutdown()
    assert not failures
    assert log.read_manifest()["version"] == v0 + 3
    assert answers[paths[1]][0]["executed"] is False
    assert answers[paths[1]][1]["executed"] is True
    assert len(seen) >= 8
    for path, body in seen:
        assert body in answers[path]


def test_ensure_snapshot_builds_once_per_stale_key(tmp_path, monkeypatch):
    """Concurrent callers of one store share one build per stale key:
    16 threads (more than the cores) with a shortened switch interval
    see one build for the first key and one more after the source
    changes, and every caller gets a published snapshot dir."""
    import sys
    import threading

    monkeypatch.setenv("SPARK_GRAFT_LAKE_DIR", str(tmp_path / "lake"))
    sf = tmp_path / "sf"
    sf.mkdir()
    src = sf / "src.txt"
    builds = []

    def build(snap_dir: str) -> None:
        builds.append(snap_dir)
        os.makedirs(snap_dir)
        (Path(snap_dir) / "data").write_text(src.read_text())

    def wave(payload: str) -> set[str]:
        src.write_text(payload)
        got = []

        def caller() -> None:
            for _ in range(20):
                got.append(lake.ensure_snapshot(str(sf), "s", "src.txt", "k", build))

        threads = [threading.Thread(target=caller) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
        assert len(got) == 16 * 20
        return set(got)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        first = wave("a")
        second = wave("bb")
    finally:
        sys.setswitchinterval(old)
    assert builds == [*first, *second] and len(builds) == 2
    assert (Path(builds[1]) / "data").read_text() == "bb"
    assert lake.store_log(str(sf), "s").read_manifest()["version"] == 2

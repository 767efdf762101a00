"""Materialized nested lake: the stored form of the Hyperion tables.

The reference serves every interactive query from *stored, sorted*
indices — actions routed to block-range partitions
(``partition = ceil(block_num / index_partition_size)``,
src/indexer/helpers/elastic-routes.ts:484-486) with an index sort of
``global_sequence desc`` (src/indexer/definitions/index-templates.ts:29-40);
deltas sorted ``(block_num desc, scope asc, primary_key asc)``
(index-templates.ts:186-189). Re-deriving the nested rows from
``events`` on every call would make every interactive query re-pay
the enrichment projection.

This module writes each nested table ONCE per scale-factor directory
and points queries at the stored parquet:

- ``actions`` / ``deltas`` are **partitioned by** ``block_part =
  floor(block_num / BLOCK_PART_SIZE)`` and **sorted within partitions**
  by the reference's index sort, so block-range predicates prune whole
  directories (the Spark twin of ES index routing) and top-K-desc reads
  benefit from row-group ordering.
- ``permissions`` / ``links`` / ``proposals`` / ``schedule`` are
  single un-partitioned state tables, exactly as the reference keeps
  them in single upsert indices (index-templates.ts:277-372).

At 100 TB this materialization IS the ingest pipeline's output
(``streaming/ingest.backfill_write`` writes the same layout); here the
lake doubles as a cache keyed by (LAKE_VERSION, source fingerprint) so
tests/bench/driver runs rebuild only when the model or the source
parquet changes. Publication is atomic: build into a temp dir, then a
single ``os.rename`` — a reader either sees the complete old table or
the complete new one (the same pointer-swap idea as
``streaming/state_store``'s manifest commit).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import hyperion_model as hm

# Bump when any builder in hyperion_model changes its derivation —
# invalidates every stored lake.
LAKE_VERSION = 1

# Blocks per partition directory. The reference defaults to 10M blocks
# per index (references/config.ref.json index_partition_size); at the
# harness's test scale (sf0.1 ~ 400k blocks) that would yield a single
# partition, so we use a granularity that produces a realistic 10-40
# directories. The pruning math is identical at any size.
BLOCK_PART_SIZE = 10_000

_REPO_ROOT = Path(__file__).resolve().parents[2]

_BUILDERS = {
    "actions": hm.build_actions,
    "deltas": hm.build_deltas,
    "permissions": hm.build_permissions,
    "links": hm.build_links,
    "proposals": hm.build_proposals,
    "schedule": hm.build_schedule,
}

# block-partitioned tables get the reference's index sort
# (index-templates.ts:29-40,186-189); state tables are written sorted
# by their upsert key for row-group locality.
_PARTITIONED = {"actions", "deltas"}


def _sort_cols(name: str) -> list[Column]:
    return {
        "actions": [F.col("global_sequence").desc()],
        "deltas": [
            F.col("block_num").desc(),
            F.col("scope").asc(),
            F.col("primary_key").asc(),
        ],
        "permissions": [F.col("owner").asc(), F.col("event_id").desc()],
        "links": [F.col("account").asc(), F.col("event_id").desc()],
        "proposals": [F.col("proposer").asc(), F.col("event_id").desc()],
        "schedule": [F.col("version").desc()],
    }[name]


def lake_root() -> Path:
    return Path(os.environ.get("SPARK_GRAFT_LAKE_DIR", str(_REPO_ROOT / ".lake")))


def _source_fingerprint(sf_dir: str, source_file: str = "events.parquet") -> dict:
    st = os.stat(os.path.join(sf_dir, source_file))
    return {"file": source_file, "size": st.st_size, "mtime_ns": st.st_mtime_ns}


_BUILT: set[tuple[str, str]] = set()  # (path, build key) built or fresh


def ensure_built(sf_dir: str, name: str, source: str, key: str, build) -> str:
    """The path of the write-once store ``<lake_root>/<sf>/<name>``.

    ``build(path)`` runs only when the store's ``BUILD_KEY`` file does
    not hold ``key`` plus the size/mtime fingerprint of
    ``sf_dir/source``, so regenerated fixture data, or two sf_dirs
    sharing a basename, never serve a stale store. A stale directory
    is cleared first: the build starts from an empty store, whose
    version 1 is the build's first commit. A (path, key) this process
    already built or found fresh is not checked again."""
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    path = str(lake_root() / sf_name / name)
    build_key = key + "|" + json.dumps(
        _source_fingerprint(sf_dir, source), sort_keys=True
    )
    key_file = os.path.join(path, "BUILD_KEY")
    if (path, build_key) not in _BUILT:
        try:
            fresh = Path(key_file).read_text() == build_key
        except OSError:
            fresh = False
        if not fresh:
            shutil.rmtree(path, ignore_errors=True)
            build(path)
            Path(key_file).write_text(build_key)
        _BUILT.add((path, build_key))
    return path


def _manifest_path(dest: Path) -> Path:
    return dest / "_lake_manifest.json"


def _is_fresh(dest: Path, fingerprint: dict, extra_key: str = "") -> bool:
    try:
        m = json.loads(_manifest_path(dest).read_text())
    except (OSError, ValueError):
        return False
    return (
        m.get("version") == LAKE_VERSION
        and m.get("source") == fingerprint
        and m.get("extra", "") == extra_key
    )


def ensure_parquet(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build_fn,
    *,
    source_file: str = "events.parquet",
    partition_col: str | None = None,
    sort_cols: list[Column] | None = None,
    extra_key: str = "",
) -> DataFrame:
    """Generic write-once materializer with atomic publication.

    ``build_fn() -> DataFrame`` runs only when the stored copy is
    missing or stale (model version bump, source parquet change, or a
    different ``extra_key`` — e.g. new quantizer parameters). The build
    lands in a temp dir and is published by a single ``os.rename``, so
    concurrent readers see either the complete old table or the
    complete new one.
    """
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    dest = lake_root() / sf_name / name
    fingerprint = _source_fingerprint(sf_dir, source_file)
    if not _is_fresh(dest, fingerprint, extra_key):
        dest.parent.mkdir(parents=True, exist_ok=True)
        df = build_fn()
        tmp = dest.parent / f".{name}.tmp.{uuid.uuid4().hex[:8]}"
        if partition_col is not None:
            # the partition col leads the sort so the partitioned
            # write's required ordering (partition cols first) is
            # already satisfied and the writer does NOT insert its own
            # sort, which would destroy the index sort per directory.
            writer = df.repartition(partition_col).sortWithinPartitions(
                F.col(partition_col), *(sort_cols or [])
            )
            writer.write.mode("overwrite").partitionBy(partition_col).parquet(
                str(tmp)
            )
        else:
            writer = (
                df.sortWithinPartitions(*sort_cols) if sort_cols else df
            )
            writer.write.mode("overwrite").parquet(str(tmp))
        _manifest_path(tmp).write_text(
            json.dumps(
                {
                    "version": LAKE_VERSION,
                    "source": fingerprint,
                    "extra": extra_key,
                }
            )
        )
        if dest.exists():
            shutil.rmtree(dest, ignore_errors=True)
        try:
            os.rename(tmp, dest)
        except OSError:
            # a concurrent builder published first — keep theirs
            shutil.rmtree(tmp, ignore_errors=True)
    # fingerprint-keyed: a republished lake dir (new manifest mtime)
    # misses and re-reads; an unchanged one skips the JVM re-analysis
    from ..tables import cached_read_parquet

    return cached_read_parquet(spark, str(dest))


def lake_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The stored nested table for (sf_dir, name), building it on first
    use."""

    def build() -> DataFrame:
        df = _BUILDERS[name](spark, sf_dir)
        if name in _PARTITIONED:
            df = df.withColumn(
                "block_part",
                (F.col("block_num") / F.lit(BLOCK_PART_SIZE)).cast("bigint"),
            )
        return df

    return ensure_parquet(
        spark,
        sf_dir,
        name,
        build,
        partition_col="block_part" if name in _PARTITIONED else None,
        sort_cols=_sort_cols(name),
    )


def lake_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lake_table(spark, sf_dir, "actions")


def lake_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lake_table(spark, sf_dir, "deltas")


def lake_permissions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lake_table(spark, sf_dir, "permissions")


def lake_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lake_table(spark, sf_dir, "links")


def lake_proposals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lake_table(spark, sf_dir, "proposals")


def lake_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lake_table(spark, sf_dir, "schedule")


def prune_block_range(
    df: DataFrame, lo: int | None = None, hi: int | None = None
) -> DataFrame:
    """Apply a block_num range AND its derived ``block_part`` predicate.

    On the partitioned lake the part predicate becomes a *partition
    filter* (directory pruning — the Spark twin of the reference's
    block_hint single-index routing, get_transaction.ts:73-79); the
    block_num predicate then prunes row groups via min/max stats. On an
    unpartitioned frame the part predicate is simply absent.
    """
    if lo is not None:
        df = df.where(F.col("block_num") >= lo)
    if hi is not None:
        df = df.where(F.col("block_num") <= hi)
    if "block_part" in df.columns:
        if lo is not None:
            df = df.where(F.col("block_part") >= lo // BLOCK_PART_SIZE)
        if hi is not None:
            df = df.where(F.col("block_part") <= hi // BLOCK_PART_SIZE)
    return df

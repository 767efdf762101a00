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

Every write-once store under the lake root is one
:class:`~..commitlog.CommitLog` at ``<lake_root>/<sf>/<name>/``: these
tables, the ANN and curation artifacts of :func:`ensure_parquet`, the
stored inverted indexes and the time-travel state store. The manifest
carries the store's freshness key (``LAKE_VERSION``, the caller's key
and the source fingerprint); :func:`ensure_snapshot` builds a stale or
missing store into a fresh snapshot dir, publishes it as the next
version and returns the current snapshot dir. A DataFrame planned on
version N keeps its files through version N+1's publish, and
``lake_refresh`` publishes its increments the same way. The lake is
derived from the source parquet; the streaming sink's log
(``streaming/ingest``) is a separate store that ``lake_refresh`` folds
in.
"""

from __future__ import annotations

import json
import os
import threading
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..commitlog import CommitLog
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


_SORT_KEYS = {
    "actions": [("global_sequence", "desc")],
    "deltas": [("block_num", "desc"), ("scope", "asc"), ("primary_key", "asc")],
    "permissions": [("owner", "asc"), ("event_id", "desc")],
    "links": [("account", "asc"), ("event_id", "desc")],
    "proposals": [("proposer", "asc"), ("event_id", "desc")],
    "schedule": [("version", "desc")],
}


def _sort_cols(name: str) -> list[Column]:
    """The stored sort of table ``name``. Each Column is a py4j call,
    so only a build asks for them, and only for its own table."""
    return [getattr(F.col(c), order)() for c, order in _SORT_KEYS[name]]


def lake_root() -> Path:
    return Path(os.environ.get("SPARK_GRAFT_LAKE_DIR", str(_REPO_ROOT / ".lake")))


def _source_fingerprint(path: str) -> list:
    """What a store is built from: a file's size and mtime, or the
    name and size of every data file of a directory (a growable spool)
    — not the directory's own stat, which bookkeeping writes bump."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return [st.st_size, st.st_mtime_ns]
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                full = os.path.join(root, f)
                out.append([os.path.relpath(full, path), os.path.getsize(full)])
    return sorted(out)


_LOCKS: dict[str, threading.RLock] = {}


def store_lock(path: str) -> threading.RLock:
    """The lock around one store's check-and-build and increments:
    concurrent callers in this process wait for one build, then read
    the version it published. Across processes the last publish wins;
    readers stay safe either way."""
    return _LOCKS.setdefault(path, threading.RLock())


def store_log(sf_dir: str, name: str) -> CommitLog:
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    return CommitLog(str(lake_root() / sf_name / name))


def ensure_snapshot(sf_dir: str, name: str, source: str, key: str, build) -> str:
    """The current snapshot dir of the write-once store ``name``.

    ``build(snap_dir)`` writes the next version only when the manifest's
    freshness key is not (``LAKE_VERSION``, ``key``, ``source`` and the
    fingerprint of ``sf_dir/source``): a model bump, a new caller key
    (e.g. quantizer parameters) or changed source data. A plan on the
    previous version keeps its files for the retention window."""
    log = store_log(sf_dir, name)
    with store_lock(log.path):
        # fingerprinted under the lock: a caller that waited out a build
        # must not rebuild from a fingerprint taken before it
        want = json.dumps(
            [LAKE_VERSION, key, source, _source_fingerprint(os.path.join(sf_dir, source))]
        )
        m = log.read_manifest()
        if m is not None and m.get("key") == want:
            return log.snapshot_dir(m["snapshot"])
        return log.commit(build, extra={"key": want})


def write_sorted(
    df: DataFrame, path: str, partition_col: str | None, sort_cols: list[Column]
) -> None:
    """Append ``df`` under ``path`` in its stored shape: partitioned
    frames lead the sort with the partition column, so the partitioned
    write's required ordering is already met and the writer inserts no
    sort of its own (which would destroy the index sort per directory)."""
    if partition_col is None:
        (df.sortWithinPartitions(*sort_cols) if sort_cols else df).write.mode(
            "append"
        ).parquet(path)
        return
    df.repartition(partition_col).sortWithinPartitions(
        F.col(partition_col), *sort_cols
    ).write.mode("append").partitionBy(partition_col).parquet(path)


def ensure_parquet(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build_fn,
    *,
    source_file: str = "events.parquet",
    extra_key: str = "",
) -> DataFrame:
    """The stored frame ``build_fn()``, read from the current snapshot
    of store ``name``; :func:`ensure_snapshot` decides when
    ``build_fn`` runs (``extra_key`` is the caller's key)."""
    from ..tables import cached_read_parquet

    def build(snap_dir: str) -> None:
        write_sorted(build_fn(), snap_dir, None, [])

    return cached_read_parquet(
        spark, ensure_snapshot(sf_dir, name, source_file, extra_key, build)
    )


def lake_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The stored nested table for (sf_dir, name), building it on first
    use."""
    from ..tables import cached_read_parquet

    def build(snap_dir: str) -> None:
        df = _BUILDERS[name](spark, sf_dir)
        partition_col = None
        if name in _PARTITIONED:
            partition_col = "block_part"
            df = df.withColumn(
                partition_col,
                (F.col("block_num") / F.lit(BLOCK_PART_SIZE)).cast("bigint"),
            )
        write_sorted(df, snap_dir, partition_col, _sort_cols(name))

    return cached_read_parquet(
        spark, ensure_snapshot(sf_dir, name, "events.parquet", "", build)
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

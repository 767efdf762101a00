"""Incremental lake maintenance: apply newly-ingested events to the
stored nested tables WITHOUT rebuilding the whole lake.

The reference never reindexes history to absorb a new block: the
indexer routes each action/delta to its block-range partition index and
appends there (src/indexer/helpers/elastic-routes.ts:484-486), leaving
every other partition untouched. At 100 TB a full rebuild per ingest
batch is obviously impossible, so the lake needs the same property:
a batch of new blocks must touch only the ``block_part`` directories it
lands in.

Mechanism (parquet-only twin of a Delta MERGE + OPTIMIZE on a
partition subset):

1. Enrich ONLY the new events through the same builders the full lake
   uses (``hyperion_model.build_actions/build_deltas`` with the
   ``events`` override) — one narrow codegen pass over the batch.
2. Diff the touched ``block_part`` set (one tiny distinct over the
   batch — an ingest batch spans O(1) parts, not O(history)).
3. Build the next snapshot dir: every UNTOUCHED partition
   directory is carried over by hard links (metadata-only, no data
   copy, no read); each TOUCHED partition is rewritten as
   merge(existing rows of that partition, new rows) with the natural
   key deduplicated (replay idempotence — the at-least-once source can
   re-deliver a batch) and the reference index sort restored
   (index-templates.ts:29-40).
4. Publish it as the store's next ``CommitLog`` version, carrying the
   freshness key and an ``increments`` count — the same publish as the
   full build, so a plan on the previous version keeps its files.

Cost per batch: O(new rows + rows in touched partitions), independent
of table history size. That is the property that lets the lake track a
live chain continuously.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..commitlog import link_tree
from . import hyperion_model as hm
from .stats import invalidate_stats
from .lake import (
    BLOCK_PART_SIZE,
    _sort_cols,
    lake_table,
    store_lock,
    store_log,
    write_sorted,
)

# natural key per partitioned table: merge dedupes on it so a replayed
# batch (at-least-once delivery) is absorbed, mirroring the reference's
# ES _id overwrite (elastic-routes.ts:60-65)
_NATURAL_KEY = {"actions": "global_sequence", "deltas": "event_id"}

_INCR_BUILDERS = {
    "actions": hm.build_actions,
    "deltas": hm.build_deltas,
}


def _publish_increment(
    spark: SparkSession, sf_dir: str, name: str, keep, rewrite, **journal
) -> DataFrame:
    """The one incremental publish of partitioned table ``name``: the
    current snapshot's ``block_part`` dirs whose part ``keep`` accepts
    are hard-linked into a new snapshot, ``rewrite(current)``'s rows
    are written beside them in the index sort, and the next version is
    published with the same freshness key, one more increment and
    ``journal``. A failed write publishes nothing."""
    if name not in _INCR_BUILDERS:
        raise ValueError(f"not an incrementally-maintained table: {name}")
    log = store_log(sf_dir, name)
    with store_lock(log.path):
        current = lake_table(spark, sf_dir, name)  # builds on first use
        m = log.read_manifest()
        cur_dir = log.snapshot_dir(m["snapshot"])

        def write(snap_dir: str) -> None:
            for entry in os.scandir(cur_dir):
                part = entry.name.partition("block_part=")[2]
                if part and keep(int(part)):
                    link_tree(entry.path, os.path.join(snap_dir, entry.name))
            write_sorted(rewrite(current), snap_dir, "block_part", _sort_cols(name))

        snap_dir = log.commit(
            write,
            extra={
                "key": m["key"],
                "increments": m.get("increments", 0) + 1,
                **journal,
            },
        )
    # an increment changes row counts and NDVs: drop this lake's cached
    # planner statistics (sources/stats.py) so the next chooser-planned
    # query re-analyzes instead of deciding on stale cardinalities
    invalidate_stats(sf_dir)
    return spark.read.parquet(snap_dir)


def refresh_partitioned(
    spark: SparkSession, sf_dir: str, name: str, new_events: DataFrame
) -> DataFrame:
    """Apply ``new_events`` (schema of ``load_tables(...)["events"]``)
    to the stored partitioned table ``name``; returns the refreshed
    table. Only the ``block_part`` directories the batch lands in are
    rewritten — everything else is hard-linked into the new snapshot.
    """
    if name not in _INCR_BUILDERS:
        raise ValueError(f"not an incrementally-maintained table: {name}")
    new_rows = _INCR_BUILDERS[name](spark, sf_dir, events=new_events).withColumn(
        "block_part", (F.col("block_num") / F.lit(BLOCK_PART_SIZE)).cast("bigint")
    )
    changed = {r[0] for r in new_rows.select("block_part").distinct().collect()}
    if not changed:
        return lake_table(spark, sf_dir, name)
    return _publish_increment(
        spark,
        sf_dir,
        name,
        lambda part: part not in changed,
        lambda current: current.where(F.col("block_part").isin(list(changed)))
        .unionByName(new_rows)
        .dropDuplicates([_NATURAL_KEY[name]]),
    )


def refresh_all(
    spark: SparkSession, sf_dir: str, new_events: DataFrame
) -> dict[str, DataFrame]:
    """Refresh every incrementally-maintained table with one batch."""
    return {
        name: refresh_partitioned(spark, sf_dir, name, new_events)
        for name in _INCR_BUILDERS
    }


def retract_blocks_above(
    spark: SparkSession, sf_dir: str, name: str, fork_block: int
) -> DataFrame:
    """Fork handling on the serving lake: drop every row with
    ``block_num > fork_block`` — the reference's delete-by-range over
    its indices when the chain reorganizes (SURVEY §2.1 S11; the state
    store twin is ``ParquetStateStore.retract_forked``).

    A fork can only invalidate the chain TIP, so only partitions at or
    above ``fork_block``'s part are rewritten (usually exactly one);
    the rest of history hard-links into the next snapshot unchanged.
    """
    fork_part = fork_block // BLOCK_PART_SIZE
    return _publish_increment(
        spark,
        sf_dir,
        name,
        lambda part: part < fork_part,
        lambda current: current.where(
            (F.col("block_part") == fork_part) & (F.col("block_num") <= fork_block)
        ),
        retracted_above=int(fork_block),
    )


_EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def refresh_from_ingest_log(
    spark: SparkSession,
    sf_dir: str,
    log_path: str,
    *,
    batch_ids: "list[int] | None" = None,
) -> dict[str, DataFrame]:
    """Close the ingest -> serving loop: apply micro-batches that the
    streaming sink appended (``streaming/ingest.make_ingest_sink``,
    ``ingest_batch=<id>`` layout) to the stored nested tables.

    This is the reference's indexer -> query-index hop (the bulk write
    lands in the partition index the API reads, elastic-routes.ts): the
    streaming sink gives durability + state MERGE per batch; this step
    folds the accumulated batches into the lake the interactive ``hyp_*``
    family serves. ``batch_ids`` limits the pass to newly-arrived
    batches (the caller tracks its high-water mark); replayed batches
    are absorbed by the natural-key dedup in the merge.
    """
    df = spark.read.parquet(log_path)
    if batch_ids is not None and "ingest_batch" in df.columns:
        df = df.where(F.col("ingest_batch").isin([int(b) for b in batch_ids]))
    return refresh_all(spark, sf_dir, df.select(*_EVENT_COLS))

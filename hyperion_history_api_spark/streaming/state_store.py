"""Mergeable current-state tables (SURVEY §2.1 S6-S8, S11-S12).

Hyperion maintains mutable state (accounts/voters/proposals/permissions/
dynamic contract tables) via Elasticsearch scripted upserts and Mongo
bulkWrite:

- ``updateByBlock`` guard: an incoming doc is applied only if its
  ``block_num`` >= the stored one (stale replays are dropped) —
  reference ``src/indexer/definitions/updateByBlock.painless.ts:3-30``,
  wired at ``src/indexer/helpers/elastic-routes.ts:23-28``.
- ``present == 0`` deletes the row (table-row removal) —
  ``elastic-routes.ts:30-34,118-126``.
- Fork rollback deletes everything from forked block ids —
  ``src/indexer/workers/state-reader.ts:469-599,863-890`` (S11).
- Retention pruning drops partitions older than ``max_retained_blocks``
  — ``src/indexer/modules/lifecycleManager.ts`` (S12).

Spark-first re-expression: state = ``merge`` of (current snapshot ∪
update batch) reduced to the max-block row per natural key — a
shuffle-on-key window dedup, the exact logical plan a Delta ``MERGE
WHEN MATCHED AND s.block_num >= t.block_num`` compiles to. On a real
lake this writes Delta; here the ``ParquetStateStore`` snapshots to
parquet per micro-batch (atomic swap via write-then-rename), which is
the same plan shape at any scale: the merge shuffles only on the
natural key, AQE handles skewed keys, and the snapshot stays
partitioned by key hash.

Divergence note: the painless script merges field-by-field and removes
null fields; we replace the whole row (columnar world — partial-doc
updates don't exist in a fixed-schema lake). Reference rows are always
full docs in practice (mongo-routes.ts builds complete documents), so
results match.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..commitlog import CommitLog, link_files


def merge_update_by_block(
    current: DataFrame | None,
    updates: DataFrame,
    keys: Sequence[str],
    *,
    block_col: str = "block_num",
    present_col: str | None = None,
    order_col: str | None = None,
) -> DataFrame:
    """Apply one update batch to the current state snapshot.

    Winner per key = highest ``block_col``; on a tie the update wins
    (the painless guard is ``>=``, updateByBlock.painless.ts:5-9).
    Rows whose winning version has ``present_col == 0`` are deleted
    (elastic-routes.ts:30-34).

    Two same-key same-block updates within one batch resolve in batch
    order — the reference applies updates in queue order (deterministic
    last-write-wins). ``order_col`` names the monotonic within-batch
    sequence; when absent we synthesize one from the updates frame's
    row order (stable for a deterministic source, e.g. a file read),
    so the tiebreak chain ``(block desc, is_update desc, seq desc)``
    is total.

    Scale: one hash shuffle on ``keys``; map-side the window is a
    partial top-1, so this is the minimal plan for keyed last-writer-
    wins. Updates within a batch also dedup here (the reference relies
    on queue ordering instead).
    """
    return _latest_per_key(
        _tag_versions(current, updates, order_col),
        keys,
        block_col=block_col,
        present_col=present_col,
    )


def _tag_versions(
    current: DataFrame | None, updates: DataFrame, order_col: str | None
) -> DataFrame:
    """Union the snapshot and the updates with the tiebreak columns
    ``__is_update`` (1 for updates) and ``__seq`` (batch order)."""
    seq = F.col(order_col) if order_col else F.monotonically_increasing_id()
    tagged = updates.withColumn("__is_update", F.lit(1)).withColumn("__seq", seq)
    if current is None:
        return tagged
    cur = (
        current.withColumn("__is_update", F.lit(0))
        .withColumn("__seq", F.lit(-1).cast("long"))
    )
    return cur.unionByName(tagged, allowMissingColumns=False)


def _latest_per_key(
    tagged: DataFrame,
    partition_cols: Sequence[str],
    *,
    block_col: str,
    present_col: str | None,
) -> DataFrame:
    """Top-1 per ``partition_cols`` under the (block desc, is_update
    desc, seq desc) tiebreak, with ``present == 0`` winners dropped.
    ``partition_cols`` may prefix the keys with a function of them
    (the store's ``__b``): the groups are the same, and a child already
    hash-partitioned on that prefix needs no second exchange."""
    w = (
        Window.partitionBy(*[F.col(k) for k in partition_cols])
        .orderBy(
            F.col(block_col).desc(),
            F.col("__is_update").desc(),
            F.col("__seq").desc(),
        )
    )
    out = (
        tagged.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__is_update", "__seq")
    )
    if present_col is not None:
        out = out.where(F.col(present_col) != 0)
    return out


def fork_retract(
    df: DataFrame, forked: DataFrame, on: str = "block_id"
) -> DataFrame:
    """Remove all rows written by forked blocks (S11).

    ``state-reader.ts:863-890`` issues a deleteByQuery per forked
    block id across action/delta/block indices; the Spark form is a
    broadcast anti-join (the fork set is tiny — a few blocks around the
    fork point), so no shuffle of the big side.
    """
    return df.join(F.broadcast(forked.select(on).distinct()), on=on, how="left_anti")


def prune_retention(
    df: DataFrame,
    head_block: int,
    max_retained_blocks: int,
    *,
    block_col: str = "block_num",
) -> DataFrame:
    """Keep only blocks newer than head - max_retained_blocks (S12,
    lifecycleManager.ts). On a partitioned lake this predicate prunes
    whole partitions (block_part = floor(block/P))."""
    return df.where(F.col(block_col) > F.lit(head_block - max_retained_blocks))


def _bucket_target_bytes(spark: SparkSession) -> int:
    """Snapshot data bytes per state bucket: the session's scan split
    size (``spark.sql.files.maxPartitionBytes``), so one bucket reads
    as about one scan task."""
    return int(spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes())


def _data_bytes(snap_dir: str) -> int:
    """Bytes of a snapshot's data files (bookkeeping files skipped)."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(snap_dir)
        for f in files
        if not f.startswith(("_", "."))
    )


def _drop_bucket(df: DataFrame | None) -> DataFrame | None:
    return df.drop("__b") if df is not None and "__b" in df.columns else df


class ParquetStateStore:
    """A MERGE-maintained state table with a manifest-pointer commit.

    The ``foreachBatch`` target for streaming ingest (SURVEY §3.2 step
    4): each micro-batch merges with updateByBlock semantics (see
    :func:`merge_update_by_block`) and commits the result through the
    same protocol Iceberg/Delta use at heart — **immutable snapshot
    directories + one atomically-replaced pointer file**:

    1. the merged state is written to a fresh ``v<NNNNNNNN>-<uuid>/``
       directory (never modified after publication);
    2. ``MANIFEST.json`` (the pointer) is rewritten via write-temp +
       ``os.replace`` — atomic on POSIX, so a reader resolving the
       manifest sees either the old version or the new one, **never a
       mix of files from both**, and no moment exists without a live
       snapshot;
    3. superseded snapshots are retained for ``keep_versions`` commits
       before GC, so in-flight readers of recent versions keep their
       files (the Delta ``VACUUM`` retention idea). A reader must be
       faster than ``keep_versions`` consecutive commits — configurable.

    Layout: a snapshot is hash-bucketed on the natural key into
    ``__b=K/`` directories, one data file per bucket. With the default
    ``num_buckets=None`` the bucket count is sized from the state: one
    bucket per ``spark.sql.files.maxPartitionBytes`` of the current
    snapshot's data files, rounded up to a power of two, and never
    fewer than the count the store already published — so a growing
    state re-buckets at most once per doubling (through the same
    full-rewrite path as a reopen under another modulus) and a
    shrinking one never flaps. A small state is one bucket: one file,
    merged and written by one task with no exchange.
    An explicit ``num_buckets`` pins the modulus.

    The manifest records the modulus, whether it is sized, and the
    snapshot data schema, so reads plan without a schema-inference job
    (a manifest without a schema falls back to inference).

    Crash-consistency: a writer dying before step 2 leaves an orphan
    directory (GC'd later) and an intact old manifest; dying after step
    2 is a completed commit. There is no partial state a reader can
    observe. Single-writer (one streaming query) is assumed, as with
    the reference's per-table indexer worker; concurrent ``os.replace``
    would be last-writer-wins.

    Fork retraction (:meth:`retract_forked`) shares the same commit
    path, so S11 rollback racing concurrent readers is covered by the
    identical snapshot-isolation argument. On a production lake this
    class is replaced by Delta/Iceberg ``MERGE`` — the protocol here is
    their parquet-only equivalent, isolated behind one class.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: Sequence[str],
        *,
        block_col: str = "block_num",
        present_col: str | None = None,
        num_buckets: int | None = None,
        keep_versions: int = 2,
    ) -> None:
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.block_col = block_col
        self.present_col = present_col
        self.num_buckets = num_buckets  # None: sized from the state
        # commit protocol (versioning, pointer swap, retention GC) is
        # the shared CommitLog; this class keeps only merge POLICY
        # (bucketed copy-on-write, updateByBlock semantics)
        self.log = CommitLog(path, keep_versions=keep_versions)

    # -- manifest -----------------------------------------------------

    def read_manifest(self) -> dict | None:
        return self.log.read_manifest()

    def _read_snapshot(self, snap: str, m: dict | None = None) -> DataFrame:
        """Read a snapshot as stored (``__b`` included when bucketed).
        The schema comes from the manifest ``m`` (read when not given);
        partition discovery adds ``__b`` without a job."""
        schema = (m or self.read_manifest() or {}).get("schema")
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(StructType.fromJson(schema))
        return reader.parquet(os.path.join(self.path, snap))

    def current(self) -> DataFrame | None:
        m = self.read_manifest()
        if m is None:
            return None
        return _drop_bucket(self._read_snapshot(m["snapshot"], m))

    def versions(self) -> list[int]:
        """Committed versions still resolvable (retained window, oldest
        first, current last)."""
        return self.log.versions()

    def read_version(self, version: int) -> DataFrame:
        """Time travel within the retained window: read the snapshot a
        past commit published. Versioned snapshots are exactly what the
        manifest GC keeps for in-flight readers, so any version in
        ``versions()`` resolves; older ones were collected and raise.
        (Same contract as Delta/Iceberg ``VERSION AS OF`` bounded by
        the retention window.) Every commit unions by name onto the
        previous snapshot, so the manifest's schema reads them all."""
        m = self.read_manifest()
        snap = os.path.basename(self.log.version_snapshot_dir(version))
        return _drop_bucket(self._read_snapshot(snap, m))

    # -- commit protocol ----------------------------------------------

    def _bucket(self, df: DataFrame, n: int | None = None) -> DataFrame:
        """Attach the deterministic hash-bucket column under modulus
        ``n`` (default: the pinned ``num_buckets``): a pure function of
        the natural key, so a row lives in the same ``__b=K/``
        partition directory in every snapshot of one modulus."""
        return df.withColumn(
            "__b",
            F.pmod(
                F.xxhash64(*[F.col(k) for k in self.keys]),
                F.lit(n if n is not None else self.num_buckets),
            ).cast("int"),
        )

    def _bucket_count(self, m: dict | None) -> int:
        """Modulus for the next commit: the pinned ``num_buckets``, else
        sized from the current snapshot (class docstring)."""
        if self.num_buckets is not None:
            return self.num_buckets
        if m is None:
            return 1
        data = _data_bytes(self.log.snapshot_dir(m["snapshot"]))
        need = -(-data // _bucket_target_bytes(self.spark))
        n = 1 << max(0, need - 1).bit_length()
        return max(n, m["num_buckets"]) if m.get("sized") else n

    def _layout(self, m: dict | None) -> tuple[int, DataFrame | None, bool]:
        """(modulus for the next commit, current snapshot as stored,
        whether that snapshot is already bucketed under the modulus).
        Only a snapshot bucketed under the same modulus may take the
        bucket-pruned incremental path: stale ``__b`` values would make
        the merge miss existing rows and drop high-index buckets."""
        n = self._bucket_count(m)
        if m is None:
            return n, None, False
        cur = self._read_snapshot(m["snapshot"], m)
        return n, cur, "__b" in cur.columns and m.get("num_buckets") == n

    def _commit(
        self,
        df: DataFrame,
        n: int,
        *,
        link_from: str | None = None,
        touched: list[int] | None = None,
    ) -> None:
        """Publish ``df`` — rows carrying ``__b`` under modulus ``n``,
        each bucket held whole by one task (:meth:`_by_bucket`), of the
        touched buckets (or of every bucket when ``link_from`` is None)
        — as the next snapshot.

        Copy-on-write at bucket granularity — the Delta/Iceberg
        incremental-commit idea on plain parquet: the write lands only
        the REWRITTEN ``__b=K/`` partition directories, one file each;
        every untouched bucket's data files are **hard-linked** from the
        previous snapshot (inode sharing, same trick as
        ``sources/lake_refresh``), so per-commit IO is O(touched
        buckets), not O(state). GC of a superseded snapshot unlinks its
        names; shared inodes survive in the newer snapshots that link
        them. The manifest ``os.replace`` remains the single atomic
        commit point."""
        snap, snap_dir = self.log.new_snapshot()
        df.write.mode("overwrite").partitionBy("__b").parquet(snap_dir)
        if link_from is not None:
            for k in range(n):
                if k in touched:
                    continue
                src = os.path.join(self.path, link_from, f"__b={k}")
                if os.path.isdir(src):
                    link_files(src, os.path.join(snap_dir, f"__b={k}"))
        schema = StructType([f for f in df.schema.fields if f.name != "__b"])
        # A commit whose merge came out empty (first commit of nothing,
        # or every remaining row deleted) emits no parquet footers and
        # links nothing — the snapshot dir would be unreadable. Write a
        # schema-preserving plain empty snapshot instead.
        if not any(e.startswith("__b=") for e in os.listdir(snap_dir)):
            self.spark.createDataFrame([], schema).write.mode(
                "overwrite"
            ).parquet(snap_dir)
        self.log.publish(
            snap,
            extra={
                "num_buckets": n,
                "sized": self.num_buckets is None,
                "schema": schema.jsonValue(),
            },
        )

    @staticmethod
    def _by_bucket(df: DataFrame, n: int) -> DataFrame:
        """Give each task whole buckets, so every ``__b=K/`` directory
        gets one file: one bucket is one task (a coalesce, no
        exchange), several are one hash exchange on ``__b``."""
        return df.coalesce(1) if n == 1 else df.repartition(n, F.col("__b"))

    def _merge(self, current: DataFrame | None, updates: DataFrame, n: int) -> DataFrame:
        """updateByBlock merge through at most ONE exchange: the union
        is placed by bucket once, and the per-key window runs
        partitioned by ``(__b, *keys)`` on that placement, so neither
        the window nor the bucketed write that follows adds one."""
        tagged = self._bucket(_tag_versions(current, updates, None), n)
        return _latest_per_key(
            self._by_bucket(tagged, n),
            ["__b", *self.keys],
            block_col=self.block_col,
            present_col=self.present_col,
        )

    # -- operations ---------------------------------------------------

    def apply_batch(self, updates: DataFrame) -> None:
        """Merge one update batch and commit ONLY its touched buckets.

        The snapshot is read with the manifest's schema (no inference
        job). With one bucket — any state under one scan split — the
        commit is ONE job with no exchange: a single task merges the
        snapshot with the batch and writes the one file. With several
        buckets, one exchange-free job finds the buckets the batch
        touches (``__b`` is a pure key hash), the snapshot read is
        pruned to those partition directories (a real PartitionFilter
        on the scan), the merge shuffles once on ``__b`` (two jobs),
        and the commit links the rest forward, so per-batch cost scales
        with the batch's key spread, not the accumulated state. A
        modulus change (growth, a reopen under a pinned
        ``num_buckets``, or a snapshot with no buckets) rewrites every
        bucket once."""
        m = self.read_manifest()
        n, cur, incremental = self._layout(m)
        touched = None
        if incremental and n > 1:
            # no exchange: one task reduces the one-column projection
            touched = sorted(
                r["__b"]
                for r in self._bucket(updates, n)
                .select("__b")
                .coalesce(1)
                .distinct()
                .collect()
            )
            cur = cur.where(F.col("__b").isin(touched))
        merged = self._merge(_drop_bucket(cur), updates, n)
        self._commit(
            merged,
            n,
            link_from=m["snapshot"] if touched is not None else None,
            touched=touched,
        )

    def retract_forked(self, forked: DataFrame, *, on: str = "block_id") -> None:
        """S11 fork rollback through the same commit protocol: readers
        see the pre-fork or post-fork snapshot, never a mix. Buckets
        holding no forked rows are linked forward unchanged (the fork
        set is tiny, so most buckets are untouched)."""
        m = self.read_manifest()
        if m is None:
            return
        n, cur, incremental = self._layout(m)
        touched = None
        if incremental and n > 1:
            fk = F.broadcast(forked.select(on).distinct())
            touched = sorted(
                r["__b"]
                for r in cur.join(fk, on=on).select("__b").distinct().collect()
            )
            cur = cur.where(F.col("__b").isin(touched))
        kept = self._bucket(fork_retract(_drop_bucket(cur), forked, on=on), n)
        self._commit(
            self._by_bucket(kept, n),
            n,
            link_from=m["snapshot"] if touched is not None else None,
            touched=touched,
        )


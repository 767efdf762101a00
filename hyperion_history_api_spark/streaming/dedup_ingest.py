"""Streaming near-duplicate detection AT INGEST: the per-batch
incremental MinHash dedup (operators/dedup.incremental_pairs /
extend_dedup_index) wired into a Structured Streaming foreachBatch
sink, with the four ``DedupIndex`` frames persisted behind ONE
manifest pointer so probe and extend always see a consistent index
version.

This is the composition a 100-TB training-data pipeline actually
runs: documents arrive as micro-batches; each batch

1. probes the STORED index (history never re-signed — registered
   texts skip the shingle/sign passes entirely),
2. appends its near-dup pairs to a per-batch output directory
   (replay-idempotent, same ``ingest_batch=<id>`` overwrite
   discipline as streaming/ingest.make_ingest_sink),
3. extends the index (append-only union of the four frames) and
   commits the new version through an atomic manifest ``os.replace``
   (commitlog.FrameDeltaStore — a crash before the swap replays the
   batch against the OLD index and overwrites its own pairs dir, so
   the published (pairs, index) pair is always consistent).

The union of per-batch pair outputs over any ingest order equals the
one-shot full-corpus ``minhash_lsh_pairs`` (replay-order
independence, proven end-to-end through real streaming by
tests/test_streaming_dedup.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..commitlog import FrameDeltaStore
from ..operators.dedup import (
    DedupIndex,
    build_dedup_index,
    incremental_pairs_and_delta,
    minhash_lsh_pairs,
)

_FRAMES = ("bands", "hashes", "members", "registry")

# Compaction clustering key per frame: the column the hot probe path
# equi-joins / looks up on, so a compacted frame is range-clustered
# (footer min/max prunes) AND lands in few large files.
_CLUSTER_KEY = {
    "bands": "band_val",   # probe joins on (band_id, band_val)
    "hashes": None,        # fetched by id; id_col name is caller-owned
    "members": "__rep",    # expansion legs join on the group rep
    "registry": "__fp",    # fingerprint lookup of arriving docs
}


class DedupIndexStore(FrameDeltaStore):
    """Manifest-pointer persistence for a :class:`DedupIndex`: readers
    and the next batch's extend see all four frames from the same
    version, never bands of one version against a registry of another.

    :meth:`commit_delta` appends only the batch's additions (history
    hard-linked forward, O(batch) IO); :meth:`compact` rewrites each
    frame range-clustered by its probe key (bands by ``band_val``,
    members by rep, registry by fp) into few large files with
    bit-identical rows (pinned by tests/test_streaming_dedup.py). The
    shared policy of both is :class:`FrameDeltaStore`'s.
    """

    FRAMES = _FRAMES
    COMPACT_TARGET_FILES = 4

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        compact_every: int | None = None,
        cache_frames: bool = False,
    ) -> None:
        super().__init__(spark, path, compact_every=compact_every)
        # version-checked read-through cache: the probe DAG references
        # the stored frames ~8 times per micro-batch, and without a
        # persist each reference is a separate parquet scan (listing +
        # decode of a directory whose file count grows every delta
        # commit). A long-lived ingest sink turns this on; one-shot
        # readers keep the default (no executor-memory footprint).
        # Correctness is by construction: the cache key is the
        # manifest version, so a cached frame is always the published
        # snapshot, never a speculative one.
        self.cache_frames = cache_frames
        self._frame_cache: tuple[int, DedupIndex] | None = None
        # the PERSISTED parquet-read frames underlying the cache —
        # kept separately because commit_delta advances _frame_cache
        # to (version+1, cached ∪ delta) unions, and teardown must
        # unpersist the base frames those unions are built over
        self._cache_base: DedupIndex | None = None

    def read(self) -> DedupIndex | None:
        m = self.read_manifest()
        if m is None:
            return None
        version = int(m["version"])
        if self._frame_cache is not None:
            cached_v, cached = self._frame_cache
            if cached_v == version:
                return cached
            self._drop_cache()
        idx = DedupIndex(**self._frames(m))
        if self.cache_frames:
            idx = DedupIndex(
                **{f: getattr(idx, f).persist() for f in _FRAMES}
            )
            self._frame_cache = (version, idx)
            self._cache_base = idx
        return idx

    def _drop_cache(self) -> None:
        """Unpersist the cached frames (superseded version /
        compaction reset) — nothing computes through them once the
        next read comes from parquet."""
        if self._cache_base is not None:
            for f in _FRAMES:
                getattr(self._cache_base, f).unpersist()
        self._cache_base = None
        self._frame_cache = None

    # -- commit -------------------------------------------------------

    def commit(
        self,
        index: DedupIndex,
        *,
        batch_id: int | None = None,
        also: tuple = (),
    ) -> None:
        """Full-index commit (seed / rebuild): writes all four frames,
        with the ``also`` legs on the same pool. ``batch_id`` (when
        committing from a streaming sink) is recorded so a replayed
        micro-batch is recognized."""
        self._publish(
            None,
            rewrite={f: getattr(index, f) for f in _FRAMES},
            also=also,
            batch_id=batch_id,
        )

    def _advancing(self, m: dict) -> bool:
        return (
            self._frame_cache is not None
            and self._frame_cache[0] == int(m["version"])
        )

    def commit_delta(
        self,
        delta: DedupIndex,
        *,
        batch_id: int | None = None,
        also: tuple = (),
    ) -> None:
        """Append-only commit of the batch's index additions; ``also``
        legs (the sink's pairs and clean rows) ride the same pool. An
        applied ``batch_id`` is a no-op: the pair/keeper OUTPUT would
        stay correct (partition overwrite + id_a<id_b), but the index
        would keep duplicate signature/registry rows forever."""

        def frames(m: dict) -> tuple[dict, dict]:
            d = {f: getattr(delta, f) for f in _FRAMES}
            if self._advancing(m):
                # the cache will advance to (cached ∪ delta) after the
                # publish; checkpoint each delta frame LAZILY so its own
                # write leg (its only in-commit action) materializes
                # O(batch) blocks — next wave's probe then reads flat
                # block-backed unions instead of re-expanding the delta's
                # lineage (delta.members anti-joins the CURRENT cache, so
                # an un-truncated chain would nest one full index plan
                # per wave)
                d = {f: df.localCheckpoint(eager=False) for f, df in d.items()}
            return d, {}

        self._commit_delta(frames, batch_id=batch_id, also=also)

    def _delta_published(self, m: dict, appended: dict) -> None:
        if self._advancing(m):
            # advance the cache IN PLACE instead of invalidating: the
            # published snapshot is by construction (linked history) ∪
            # (delta rows), and both sides already live in this
            # session — the base frames persisted, the delta frames
            # checkpoint-backed by the write legs. Re-listing and
            # re-decoding the whole index from parquet every wave
            # would be the steady-state read cost; the union chain
            # stays O(waves-since-compaction) flat block-backed legs
            # because compaction resets to a fresh parquet read.
            # unionByName matches columns by name, so the written
            # _canon order is irrelevant here.
            cached = self._frame_cache[1]
            self._frame_cache = (
                int(m["version"]) + 1,
                DedupIndex(
                    **{
                        f: getattr(cached, f).unionByName(appended[f])
                        for f in _FRAMES
                    }
                ),
            )

    def _compacted(self, m: dict) -> dict[str, DataFrame]:
        """Each frame range-clustered by its probe key into
        ``COMPACT_TARGET_FILES`` files."""
        index = self.read()
        out = {}
        for f in _FRAMES:
            df = getattr(index, f)
            key = _CLUSTER_KEY[f]
            if key is None or key not in df.columns:
                # hashes: cluster on the caller-named id column (the
                # only non-__h column of the frame)
                key = next(c for c in df.columns if c != "__h")
            out[f] = df.repartitionByRange(
                self.COMPACT_TARGET_FILES, F.col(key)
            ).sortWithinPartitions(key)
        return out


def pair_and_commit(
    store: DedupIndexStore,
    batch: DataFrame,
    batch_id: int,
    text_col: str,
    id_col: str,
    *,
    threshold: float,
    assume_small_batch: bool,
    pairs_path: str,
    outputs: tuple = (),
) -> None:
    """One sink step: ``batch``'s near-dup pairs against the stored
    index (against itself when seeding it) and the index commit. The
    pairs and each ``(frame, path)`` of ``outputs`` are written to
    ``<path>/ingest_batch=<id>`` on the commit's thread pool, behind
    its one manifest swap, and a replayed batch skips them with the
    index."""
    index = store.read()
    if index is None:
        pairs = minhash_lsh_pairs(batch, text_col, id_col, threshold=threshold)
        commit = store.commit
        index = build_dedup_index(batch, text_col, id_col)
    else:
        pairs, index = incremental_pairs_and_delta(
            index,
            batch,
            text_col,
            id_col,
            threshold=threshold,
            assume_small_batch=assume_small_batch,
        )
        commit = store.commit_delta
    part = f"ingest_batch={batch_id}"
    commit(
        index,
        batch_id=batch_id,
        also=tuple(
            lambda df=df, path=path: df.write.mode("overwrite").parquet(
                os.path.join(path, part)
            )
            for df, path in ((pairs, pairs_path), *outputs)
        ),
    )


def make_dedup_sink(
    spark: SparkSession,
    out_dir: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    compact_every: int | None = 8,
    assume_small_batch: bool = True,
):
    """foreachBatch sink: probe -> append pairs -> delta-commit the
    index additions (O(batch) IO, history hard-linked forward), with
    an automatic compaction every ``compact_every`` delta commits so
    probe cost stays flat over a long ingest run.
    Returns ``(sink, paths)`` like ``make_ingest_sink``.

    ``assume_small_batch`` (default True) asserts every micro-batch
    fits the probe's 64 MB broadcast gate, skipping the per-wave gate
    count (worth ~17% of steady wave latency). Pass False for feeds
    that may replay
    BULK-sized spool files (maxFilesPerTrigger caps files, not
    rows) — those batches then pay the counted gate and fall back to
    a shuffle join instead of a giant broadcast."""
    store = DedupIndexStore(
        spark,
        os.path.join(out_dir, "dedup_index"),
        compact_every=compact_every,
        cache_frames=True,
    )
    pairs_path = os.path.join(out_dir, "dup_pairs")

    def sink(batch: DataFrame, batch_id: int) -> None:
        batch = batch.select(id_col, text_col).persist()
        try:
            pair_and_commit(
                store,
                batch,
                batch_id,
                text_col,
                id_col,
                threshold=threshold,
                assume_small_batch=assume_small_batch,
                pairs_path=pairs_path,
            )
        finally:
            batch.unpersist()

    return sink, {"pairs": pairs_path, "index": store.path}


def read_pairs(spark: SparkSession, pairs_path: str) -> DataFrame:
    """All pairs emitted so far (the per-batch union)."""
    return spark.read.parquet(pairs_path).drop("ingest_batch")

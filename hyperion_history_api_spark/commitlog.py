"""ONE transactional commit protocol for every versioned parquet store
(`ParquetStateStore`, `DedupIndexStore`, `InvertedIndexStore` and every
write-once lake store of ``sources/lake``, its refresh included):
one hard-link + atomic-manifest + retention-GC implementation, so
there is one crash-safety argument to audit instead of one per store.

The protocol — the heart of Delta/Iceberg commits on plain parquet:

1. every commit writes into a fresh, immutable
   ``v<NNNNNNNN>-<uuid>/`` snapshot directory (never modified after
   publication); unchanged data files are **hard-linked** forward
   (inode sharing — metadata-only, no copy, no read);
2. ``MANIFEST.json`` is the single pointer: rewritten via write-temp +
   ``os.replace`` (atomic on POSIX), so a reader resolving the
   manifest sees the old version or the new one, never a mix;
3. superseded snapshots are retained for ``keep_versions`` commits (a
   Spark plan that listed a version's files still finds them), then
   GC'd — unlinking removes one NAME per file; inodes shared with
   newer snapshots live on.

Crash-consistency: a writer dying before the ``os.replace`` leaves an
orphan snapshot dir (collected by a later publish) and an intact old
pointer; dying after it is a completed commit. Single-writer per
store, as with the reference's per-table indexer worker
(src/indexer/helpers/elastic-routes.ts / mongo-routes.ts keep one
routing/commit layer per store — the anchor for centralizing this).

Which rows go into a snapshot is store policy: the state store's
bucketed copy-on-write merge, the lake's full build and block-part
increment (``sources/lake``, ``sources/lake_refresh``), and the
append-only frame-delta policy shared by the dedup index and the
inverted index, which lives here in :class:`FrameDeltaStore`:
the ``batch_id`` replay guard, appending deltas next to hard-linked
history, running every write leg before the one publish, the
``delta_commits`` / ``last_ingest_batch`` manifest carry and
auto-compaction. How a snapshot becomes the current version is
:class:`CommitLog`'s.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from concurrent.futures import ThreadPoolExecutor
from typing import TYPE_CHECKING, Callable

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


_SNAP_NAME = re.compile(r"v\d+-[0-9a-f]+")


def snap_version(snap: str) -> int:
    """Version encoded in a snapshot dir name ``v{version}-{uuid}``.
    Parsed up to the '-' separator (not a fixed-width slice) so the
    name stays parseable if the zero-padded version widens."""
    return int(snap[1:].split("-", 1)[0])


def link_files(src: str, dst: str) -> None:
    """Hard-link every data file of flat directory ``src`` into
    ``dst`` (hidden/underscore bookkeeping files skipped), copying on
    filesystems that refuse cross links."""
    os.makedirs(dst, exist_ok=True)
    for fname in os.listdir(src):
        if fname.startswith(("_", ".")):
            continue
        s, d = os.path.join(src, fname), os.path.join(dst, fname)
        try:
            os.link(s, d)
        except OSError:
            shutil.copy2(s, d)


def link_tree(src, dst) -> None:
    """Recursively mirror ``src`` into ``dst`` with hard links (copy
    fallback) — the partition-directory form of :func:`link_files`.
    Accepts str or Path."""
    from pathlib import Path

    src, dst = Path(src), Path(dst)
    dst.mkdir(parents=True, exist_ok=True)
    for entry in src.iterdir():
        target = dst / entry.name
        if entry.is_dir():
            link_tree(entry, target)
        else:
            try:
                os.link(entry, target)
            except OSError:
                shutil.copy2(entry, target)


def replace_dir(tmp, dest) -> None:
    """Swap ``dest`` to the fully-built ``tmp`` directory: rename the
    old dir aside, rename ``tmp`` in, then remove the old. A new reader
    sees the complete old or the complete new directory, but a Spark
    scan planned on the old one fails: it lists paths when it plans and
    opens them when a task runs. Only for directories a streaming sink
    writes by path — ``streaming/decode_ingest``'s blacklist swap and
    ``streaming/ingest.compact_log``; stores publish through
    :class:`CommitLog`."""
    from pathlib import Path

    tmp, dest = Path(tmp), Path(dest)
    old = dest.parent / f".{dest.name}.old.{uuid.uuid4().hex[:8]}"
    os.rename(dest, old)
    os.rename(tmp, dest)
    shutil.rmtree(old, ignore_errors=True)


class CommitLog:
    """The manifest-pointer commit log for one store directory.

    Owns: version numbering, snapshot-dir naming, the atomic pointer
    swap, the retention window, and GC. Does NOT write data — callers
    build the snapshot directory (writes + :func:`link_files` /
    :func:`link_tree`) and then :meth:`publish` it.
    """

    MANIFEST = "MANIFEST.json"

    def __init__(self, path: str, *, keep_versions: int = 2) -> None:
        self.path = path
        self.keep_versions = max(1, keep_versions)

    # -- pointer ------------------------------------------------------

    def manifest_file(self) -> str:
        return os.path.join(self.path, self.MANIFEST)

    def read_manifest(self) -> dict | None:
        try:
            with open(self.manifest_file()) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def snapshot_dir(self, snap: str) -> str:
        return os.path.join(self.path, snap)

    def current_snapshot_dir(self) -> str | None:
        m = self.read_manifest()
        return self.snapshot_dir(m["snapshot"]) if m else None

    def versions(self) -> list[int]:
        """Versions still resolvable (retained window, oldest first,
        current last)."""
        m = self.read_manifest()
        if m is None:
            return []
        return [snap_version(h) for h in m.get("history", [])] + [
            m["version"]
        ]

    def version_snapshot_dir(self, version: int) -> str:
        """Snapshot dir of a retained past version (time travel within
        the retention window — the Delta/Iceberg ``VERSION AS OF``
        contract); raises for collected versions."""
        m = self.read_manifest()
        if m is not None:
            if version == m["version"]:
                return self.snapshot_dir(m["snapshot"])
            for h in m.get("history", []):
                if snap_version(h) == version:
                    return self.snapshot_dir(h)
        raise ValueError(
            f"version {version} not in retained window {self.versions()}"
        )

    # -- commit -------------------------------------------------------

    def _snapshot_names(self) -> list[str]:
        """Every snapshot dir on disk, published or not."""
        try:
            entries = os.listdir(self.path)
        except FileNotFoundError:
            return []
        return [e for e in entries if _SNAP_NAME.fullmatch(e)]

    def new_snapshot(self) -> tuple[str, str]:
        """Allocate the next snapshot name and its (created) parent
        store dir; the snapshot dir itself is the caller's to write.
        The version is past every snapshot dir on disk, so a dir left
        by a build that never published is not handed out again."""
        m = self.read_manifest()
        version = 1 + max(
            [m["version"] if m else 0]
            + [snap_version(e) for e in self._snapshot_names()]
        )
        snap = f"v{version:08d}-{uuid.uuid4().hex[:8]}"
        os.makedirs(self.path, exist_ok=True)
        return snap, self.snapshot_dir(snap)

    def commit(self, write: Callable[[str], None], *, extra: dict | None = None) -> str:
        """Allocate the next snapshot, ``write(snap_dir)`` into it and
        publish it; returns the snapshot dir. A failed write removes
        its dir and publishes nothing."""
        snap, snap_dir = self.new_snapshot()
        try:
            write(snap_dir)
        except BaseException:
            shutil.rmtree(snap_dir, ignore_errors=True)
            raise
        self.publish(snap, extra=extra)
        return snap_dir

    def publish(
        self,
        snap: str,
        *,
        extra: dict | None = None,
        retain_extra: int = 0,
    ) -> None:
        """Atomically move the pointer to ``snap`` (whose name carries
        its version) and GC versions that fell out of the retained
        window. ``extra`` entries are stored in the manifest (store
        policy state: bucket modulus, delta counters, ...).
        ``retain_extra`` widens the window for THIS publish only — used
        when a store makes two publishes in one logical step (delta +
        auto-compaction) so the pair consumes a single retention slot.

        GC removes every snapshot dir older than the oldest retained
        version that the manifest does not name: superseded versions
        and dirs of builds that died before their publish. A newer
        unpublished dir may be a build in flight and is left alone."""
        m = self.read_manifest()
        history = (m.get("history", []) + [m["snapshot"]]) if m else []
        window = self.keep_versions - 1 + max(0, retain_extra)
        keep = history[-window:] if window > 0 else []
        manifest = {"version": snap_version(snap), "snapshot": snap, "history": keep}
        manifest.update(extra or {})
        tmp = self.manifest_file() + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, self.manifest_file())  # THE commit point
        oldest = min(snap_version(h) for h in keep + [snap])
        for name in self._snapshot_names():  # GC after the pointer moves
            if snap_version(name) < oldest:
                shutil.rmtree(self.snapshot_dir(name), ignore_errors=True)


class FrameDeltaStore:
    """Append-only frame-delta policy on a :class:`CommitLog`: a store
    whose snapshot is one flat parquet directory per frame in
    ``FRAMES``, grown by O(batch) delta commits and rewritten by
    compaction (the Delta-lake append/OPTIMIZE split; the reference
    merges small index segments the same way, lifecycleManager.ts:18-60).

    Every write goes through :meth:`_publish`, so one place decides:

    - a delta lands as a few new files next to the previous snapshot's
      files, which are hard-linked forward;
    - all frame legs and the caller's ``also`` legs (a sink's own
      per-batch outputs) run on one thread pool, and the manifest swap
      after all of them is the only commit point. A crash replays the
      batch against the old version, so a sink's (outputs, index) pair
      is always consistent;
    - ``delta_commits`` and ``last_ingest_batch`` carry through every
      delta, compaction and retraction publish.

    foreachBatch is at-least-once: a retried batch re-runs against a
    store that already holds it, and re-appending would duplicate its
    rows for good. A delta with ``batch_id <= last_ingest_batch`` is
    therefore a no-op that also skips its ``also`` legs (their outputs
    are already durable).

    Subclasses name ``FRAMES`` and keep their own row math; they shape
    full writes in :meth:`_layout` and compaction in :meth:`_compacted`.
    """

    FRAMES: tuple[str, ...] = ()
    KEEP_VERSIONS = 2
    # a micro-batch delta is O(batch) rows: landing it at shuffle
    # parallelism would add ~shuffle_partitions tiny files per frame
    # per commit, so it is coalesced to a couple of files per frame
    DELTA_WRITE_PARTITIONS = 2

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        compact_every: int | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.log = CommitLog(path, keep_versions=self.KEEP_VERSIONS)
        # auto-compact after every K delta commits (None = manual only)
        self.compact_every = compact_every

    def read_manifest(self) -> dict | None:
        return self.log.read_manifest()

    def _frames(self, m: dict) -> dict[str, DataFrame]:
        base = self.log.snapshot_dir(m["snapshot"])
        return {
            f: self.spark.read.parquet(os.path.join(base, f))
            for f in self.FRAMES
        }

    def frame_file_counts(self) -> dict[str, int]:
        """Data files per frame of the current snapshot (the
        fragmentation observable compaction keeps flat)."""
        m = self.read_manifest()
        if m is None:
            return {}
        base = self.log.snapshot_dir(m["snapshot"])
        return {
            f: sum(
                1
                for e in os.listdir(os.path.join(base, f))
                if e.endswith(".parquet")
            )
            for f in self.FRAMES
        }

    @staticmethod
    def _canon(df: DataFrame) -> DataFrame:
        """Canonical column order for every written file: the linked
        files and the appended delta files of one frame directory are
        read as one parquet dataset, so they must agree."""
        return df.select(*sorted(df.columns))

    def last_ingest_batch(self) -> int | None:
        """The foreachBatch ``batch_id`` of the last APPLIED commit, or
        None if the store is unseeded or was committed outside a
        streaming sink."""
        m = self.read_manifest()
        return None if m is None or "last_ingest_batch" not in m else int(
            m["last_ingest_batch"]
        )

    # -- policy hooks -------------------------------------------------

    def _layout(self, frame: str, df: DataFrame) -> DataFrame:
        """The physical shape of a fully rewritten frame."""
        return self._canon(df)

    def _append_files(self, frame: str) -> int:
        return self.DELTA_WRITE_PARTITIONS

    def _compacted(self, m: dict) -> dict[str, DataFrame]:
        """The frames an OPTIMIZE of snapshot ``m`` rewrites."""
        raise NotImplementedError

    def _delta_published(self, m: dict, appended: dict) -> None:
        """Runs after a delta publish, before any auto-compaction."""

    # -- commit -------------------------------------------------------

    def _publish(
        self,
        m: dict | None,
        *,
        rewrite: dict | None = None,
        append: dict | None = None,
        also: tuple = (),
        batch_id: int | None = None,
        delta: bool = False,
        compacted: bool = False,
        retain_extra: int = 0,
    ) -> int:
        """Write one snapshot over manifest ``m`` (None: a full commit
        that builds on nothing) and publish it; returns its
        ``delta_commits``.

        ``rewrite`` frames are written whole in their :meth:`_layout`.
        Each ``append`` frame hard-links the previous snapshot's files
        (when it has that frame) and adds its delta rows; a None delta
        only carries the frame forward."""
        snap, snap_dir = self.log.new_snapshot()
        prev = None if m is None else self.log.snapshot_dir(m["snapshot"])

        def rewrite_leg(f: str, df: DataFrame) -> None:
            self._layout(f, df).write.mode("overwrite").parquet(
                os.path.join(snap_dir, f)
            )

        def append_leg(f: str, df: DataFrame | None) -> None:
            dst = os.path.join(snap_dir, f)
            if os.path.isdir(os.path.join(prev, f)):
                link_files(os.path.join(prev, f), dst)
            if df is not None:
                self._canon(df).coalesce(self._append_files(f)).write.mode(
                    "append"
                ).parquet(dst)

        legs = [
            lambda f=f, df=df: rewrite_leg(f, df)
            for f, df in (rewrite or {}).items()
        ] + [
            lambda f=f, df=df: append_leg(f, df)
            for f, df in (append or {}).items()
        ] + list(also)
        with ThreadPoolExecutor(max_workers=len(legs)) as pool:
            for fut in [pool.submit(leg) for leg in legs]:
                fut.result()  # first failure propagates; no publish
        extra: dict = {}
        commits = 0
        if m is not None:
            if not compacted:
                commits = int(m.get("delta_commits", 0)) + int(delta)
            extra["delta_commits"] = commits
            if "last_ingest_batch" in m:
                extra["last_ingest_batch"] = int(m["last_ingest_batch"])
        if compacted:
            extra["compacted"] = True
        if batch_id is not None:
            extra["last_ingest_batch"] = int(batch_id)
        self.log.publish(snap, extra=extra, retain_extra=retain_extra)
        return commits

    def _commit_delta(
        self,
        frames: Callable[[dict], tuple[dict, dict]],
        *,
        batch_id: int | None,
        also: tuple,
    ) -> None:
        """The delta commit: ``frames(m)`` returns the (append,
        rewrite) frames over current manifest ``m`` and runs only past
        the replay guard. A delta that reaches ``compact_every`` is
        followed by a compaction that shares its retention slot, so a
        sink invocation never halves the in-flight reader window."""
        m = self.read_manifest()
        if m is None:
            raise ValueError("commit_delta requires a seeded index store")
        if (
            batch_id is not None
            and "last_ingest_batch" in m
            and int(batch_id) <= int(m["last_ingest_batch"])
        ):
            return  # at-least-once replay of an applied batch
        append, rewrite = frames(m)
        commits = self._publish(
            m,
            rewrite=rewrite,
            append=append,
            also=also,
            batch_id=batch_id,
            delta=True,
        )
        self._delta_published(m, append)
        if self.compact_every and commits >= self.compact_every:
            self.compact(retain_extra=1)

    def compact(self, *, retain_extra: int = 0) -> None:
        """The OPTIMIZE pass: rewrite the frames of the current
        snapshot in their compacted layout and publish a fresh version
        (``delta_commits`` resets). Same rows, new physical layout;
        readers of the earlier version keep their files."""
        m = self.read_manifest()
        if m is not None:
            self._publish(
                m,
                rewrite=self._compacted(m),
                compacted=True,
                retain_extra=retain_extra,
            )

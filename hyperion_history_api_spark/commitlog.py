"""ONE transactional commit protocol for every versioned parquet store
(`ParquetStateStore`, `DedupIndexStore` and the serving-lake refresh):
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
   lagging reader keeps its files), then GC'd — unlinking removes one
   NAME per file; inodes shared with newer snapshots live on.

Crash-consistency: a writer dying before the ``os.replace`` leaves an
orphan snapshot dir (collected by a later GC pass) and an intact old
pointer; dying after it is a completed commit. Single-writer per
store, as with the reference's per-table indexer worker
(src/indexer/helpers/elastic-routes.ts / mongo-routes.ts keep one
routing/commit layer per store — the anchor for centralizing this).

Store-specific POLICY stays with each store: which rows go into a
snapshot (bucketed copy-on-write merge, append-only frame deltas,
OPTIMIZE rewrites) is the caller's business; how a snapshot becomes
the current version is this module's.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid


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
    """Atomically-enough swap ``dest`` to the fully-built ``tmp``
    directory: rename the old dir aside, rename ``tmp`` in, then
    remove the old — a reader holding open files keeps them (POSIX
    unlink semantics); a new reader sees the complete old or the
    complete new directory. Used by the swap-in-place stores (the
    serving-lake refresh) where the path itself is the pointer."""
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

    def new_snapshot(self) -> tuple[str, str]:
        """Allocate the next snapshot name and its (created) parent
        store dir; the snapshot dir itself is the caller's to write."""
        m = self.read_manifest()
        version = (m["version"] + 1) if m else 1
        snap = f"v{version:08d}-{uuid.uuid4().hex[:8]}"
        os.makedirs(self.path, exist_ok=True)
        return snap, self.snapshot_dir(snap)

    def publish(
        self,
        snap: str,
        *,
        extra: dict | None = None,
        retain_extra: int = 0,
    ) -> None:
        """Atomically move the pointer to ``snap`` and GC versions
        that fell out of the retained window. ``extra`` entries are
        stored in the manifest (store policy state: bucket modulus,
        delta counters, ...). ``retain_extra`` widens the window for
        THIS publish only — used when a store makes two publishes in
        one logical step (delta + auto-compaction) so the pair
        consumes a single retention slot."""
        m = self.read_manifest()
        version = (m["version"] + 1) if m else 1
        history = (m.get("history", []) + [m["snapshot"]]) if m else []
        window = self.keep_versions - 1 + max(0, retain_extra)
        keep = history[-window:] if window > 0 else []
        gc = [h for h in history if h not in keep]
        manifest = {"version": version, "snapshot": snap, "history": keep}
        manifest.update(extra or {})
        tmp = self.manifest_file() + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, self.manifest_file())  # THE commit point
        for h in gc:  # retained-window GC after the pointer moves
            shutil.rmtree(self.snapshot_dir(h), ignore_errors=True)

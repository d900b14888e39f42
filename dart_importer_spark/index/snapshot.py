"""ES ``_snapshot`` / ``_restore``: repository-based index backups.

ES snapshots are incremental at the SEGMENT-FILE level — a snapshot
copies into the repository only the segment files the repo doesn't
already hold, because Lucene segments are immutable (a fact ES's docs
lean on explicitly). This engine's layout has the same property: builds
and appends write new parquet files, deletes append tombstone files,
compaction writes a NEW directory — no data file is rewritten in place.
So a snapshot here is a manifest of the index's files plus a
content-reused blob store, and both snapshot and restore are O(#files)
DRIVER-SIDE metadata operations (hard-links on the same filesystem, byte
copies across devices) — never a data scan, exactly the ES shard-store
model (the ``index_stats`` treatment).

File identity is ``(relative path, size, mtime_ns)``: sound under the
immutability invariant above, and free — a content hash of a 100-TB
index would be a full read. The index's one mutable file, the
``meta.json`` commit record, is replaced whole by ``commit.write_json``
(tmp + ``os.replace``), so each commit is a new file identity. Snapshot
JSON is written the same way, so a torn snapshot is invisible, not
corrupt. Single-writer assumption as everywhere in this engine: don't
snapshot mid-build (the commit point is the ``meta.json`` replace; a
snapshot between operations is point-in-time consistent because
tombstones are append-only files pinned by the listing — the same
reading the PIT API uses).

Reference parity: the reference delegates durability to the ES cluster
(Running-ELK.md's docker volumes); this is the explicit API for it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from .commit import write_json


class SnapshotError(ValueError):
    pass


def _file_key(rel: str, st: os.stat_result) -> str:
    ident = f"{rel}\x00{st.st_size}\x00{st.st_mtime_ns}"
    return hashlib.sha256(ident.encode()).hexdigest()


def _link_or_copy(src: str, dst: str) -> None:
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


class SnapshotRepo:
    """A snapshot repository (ES ``PUT _snapshot/<repo>`` with type
    ``fs``): ``snapshots/<name>.json`` manifests over a shared
    ``blobs/`` store keyed by file identity, so unchanged segment files
    are stored ONCE across snapshots (ES's incremental behavior)."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.join(path, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(path, "blobs"), exist_ok=True)

    def _snap_path(self, name: str) -> str:
        if not name or "/" in name or name.startswith("."):
            raise SnapshotError(f"snapshot: bad name {name!r}")
        return os.path.join(self.path, "snapshots", f"{name}.json")

    # -- create ------------------------------------------------------
    def create(self, name: str, index_dir: str) -> dict:
        """Snapshot ``index_dir``. Returns ES-shaped metrics:
        ``total`` file count, ``incremental`` (files newly stored),
        ``reused`` (already in the repo from earlier snapshots)."""
        sp = self._snap_path(name)
        if os.path.exists(sp):
            raise SnapshotError(f"snapshot {name!r} already exists")
        if not os.path.exists(os.path.join(index_dir, "meta.json")):
            raise SnapshotError(
                f"snapshot: {index_dir!r} is not a built index "
                f"(no meta.json)"
            )
        files, copied = [], 0
        for root, _dirs, names in os.walk(index_dir):
            for fn in sorted(names):
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, index_dir)
                st = os.stat(full)
                key = _file_key(rel, st)
                blob = os.path.join(self.path, "blobs", key)
                if not os.path.exists(blob):
                    tmp = blob + f".tmp.{os.getpid()}"
                    _link_or_copy(full, tmp)
                    os.replace(tmp, blob)
                    copied += 1
                files.append({"path": rel, "size": st.st_size, "key": key})
        doc = {
            "name": name,
            "source_dir": os.path.abspath(index_dir),
            "created_utc": time.strftime(
                "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
            ),
            "files": files,
        }
        write_json(sp, doc)
        return {
            "snapshot": name,
            "total": len(files),
            "incremental": copied,
            "reused": len(files) - copied,
        }

    # -- read --------------------------------------------------------
    def _load(self, name: str) -> dict:
        sp = self._snap_path(name)
        if not os.path.exists(sp):
            raise SnapshotError(f"snapshot {name!r} not found")
        with open(sp) as fh:
            return json.load(fh)

    def list(self) -> list[dict]:
        out = []
        sdir = os.path.join(self.path, "snapshots")
        for fn in sorted(os.listdir(sdir)):
            if not fn.endswith(".json"):
                continue
            with open(os.path.join(sdir, fn)) as fh:
                d = json.load(fh)
            out.append(
                {
                    "snapshot": d["name"],
                    "created_utc": d.get("created_utc"),
                    "files": len(d.get("files", [])),
                    "bytes": sum(f["size"] for f in d.get("files", [])),
                }
            )
        return out

    # -- restore -----------------------------------------------------
    def restore(self, name: str, out_dir: str) -> dict:
        """Materialize snapshot ``name`` at ``out_dir`` (a fresh index
        directory — ES restores to a new index name the same way).
        Hard-links where possible; the restored index shares no MUTABLE
        state with the repo (nothing mutates files in place here)."""
        doc = self._load(name)
        if os.path.exists(out_dir) and os.listdir(out_dir):
            raise SnapshotError(
                f"restore: {out_dir!r} exists and is not empty — restore "
                f"targets a fresh directory"
            )
        for f in doc["files"]:
            blob = os.path.join(self.path, "blobs", f["key"])
            if not os.path.exists(blob):
                raise SnapshotError(
                    f"restore: repo is missing blob for {f['path']!r} "
                    f"(corrupt repository)"
                )
            dst = os.path.join(out_dir, f["path"])
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            _link_or_copy(blob, dst)
        return {"snapshot": name, "restored": len(doc["files"]),
                "out_dir": out_dir}

    # -- delete ------------------------------------------------------
    def delete(self, name: str) -> dict:
        """Drop a snapshot and garbage-collect blobs no remaining
        snapshot references (ES deletes unreferenced segment blobs the
        same way)."""
        doc = self._load(name)
        os.remove(self._snap_path(name))
        live: set[str] = set()
        for other in self.list():
            for f in self._load(other["snapshot"])["files"]:
                live.add(f["key"])
        dropped = 0
        for f in doc["files"]:
            if f["key"] not in live:
                blob = os.path.join(self.path, "blobs", f["key"])
                if os.path.exists(blob):
                    os.remove(blob)
                    dropped += 1
        return {"snapshot": name, "deleted": True, "blobs_dropped": dropped}

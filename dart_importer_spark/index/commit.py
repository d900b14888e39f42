"""The index commit record and the one atomic JSON writer.

An index directory's small metadata lives in ONE file, ``meta.json``, that
every mutation replaces whole (the Lucene ``segments_N`` / Iceberg
table-metadata model): the layout config, ``format_version``, the first
build's ``created_ts``, the per-field corpus counters that BM25 reads
(``corpus``: ``field``, ``n_docs``, ``avgdl``, ``total_tokens``) and the
per-segment lineage that drives resume (``lineage``: ``seg_id`` ->
FIXTURES.md T3 entry; ``append-<tag>`` entries mark pending/committed
appends, ``compact-00000`` the compaction).

Readers see the old record or the new one, never a torn one: the writer
writes a temp file beside the target and ``os.replace``s it. That is atomic
against a killed process; there is no fsync, so it does not claim
durability across a power loss.
"""

from __future__ import annotations

import json
import os
import time

FORMAT_VERSION = 2


class IndexFormatError(Exception):
    """``meta.json`` lacks the current ``format_version``: the index was
    written under an older on-disk layout — rebuild it with
    ``build_index(force=True)``."""


def read_json(path: str) -> dict | None:
    """A JSON state file, or None when it was never written. A file that
    exists but does not parse raises."""
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def write_json(path: str, obj) -> None:
    """Replace ``path`` with ``obj`` atomically (tmp file + ``os.replace``)."""
    tmp = f"{path}.tmp.{os.getpid()}"
    try:
        with open(tmp, "w") as fh:
            json.dump(obj, fh, indent=1, sort_keys=True)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def read_meta(index_dir: str) -> dict | None:
    """The index's commit record; None when no commit was ever made."""
    meta = read_json(os.path.join(index_dir, "meta.json"))
    if meta is not None and meta.get("format_version") != FORMAT_VERSION:
        raise IndexFormatError(
            f"index at {index_dir!r} has format_version "
            f"{meta.get('format_version')!r}, expected {FORMAT_VERSION}; "
            "rebuild it with build_index(force=True)"
        )
    return meta


def commit_meta(index_dir: str, meta: dict) -> None:
    os.makedirs(index_dir, exist_ok=True)
    write_json(
        os.path.join(index_dir, "meta.json"),
        {**meta, "format_version": FORMAT_VERSION},
    )


def lineage_entry(
    seg_id: str, partition_id: int, status: str, input_fingerprint: int = 0,
    n_docs: int = 0, n_terms: int = 0, n_postings: int = 0,
) -> dict:
    """One FIXTURES.md T3 lineage row; ``created_ts`` is epoch seconds."""
    return {
        "seg_id": seg_id, "partition_id": int(partition_id),
        "input_fingerprint": int(input_fingerprint), "n_docs": int(n_docs),
        "n_terms": int(n_terms), "n_postings": int(n_postings),
        "created_ts": time.time(), "status": status,
    }

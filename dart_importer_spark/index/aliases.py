"""ES index aliases + rollover, file-backed.

The reference operates one physical index per data type (corp_code,
corp_data — import_dart_data.py:685-688) and its docs search them by
name; ES deployments in front of that layout manage the names with
aliases: a level of indirection (`GET my-alias/_search`), optional
per-alias FILTERS (a stored query-DSL clause ANDed into every search),
and a designated WRITE index that `_rollover` swaps when the current one
grows past a size/doc/age condition — the standard time-partitioned
layout for append-heavy corpora, and exactly how a 100-TB transcript
store would be run (one index per day/epoch, one read alias over all of
them, one write alias rolling forward).

ES keeps alias metadata in cluster state; the engine's indexes are
directories, so the registry is ONE JSON file, replaced atomically by
``commit.write_json`` — the writer of every index's ``meta.json``.
Nothing in the data path reads it: resolution happens once per request
on the driver, O(aliases), then the search fans out through the normal
per-index machinery (`multi_index_topk`'s coordinating-node shape).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .commit import read_json, write_json


class AliasError(ValueError):
    pass


class AliasRegistry:
    """`_aliases` metadata: ``alias -> [{"index", "filter", "is_write_index"}]``.

    ``filter`` is a query-DSL clause dict (the ES filtered-alias form),
    compiled at search time by the normal body dispatcher — never stored
    pre-compiled, so it survives engine upgrades like ES's do."""

    def __init__(self, path: str):
        self.path = path

    # ------------------------------------------------------------- storage
    def _load(self) -> dict:
        return read_json(self.path) or {}

    def _save(self, data: dict) -> None:
        write_json(self.path, data)  # atomic: readers see old or new, never torn

    # ------------------------------------------------------------- actions
    def update(self, actions: list[dict]) -> None:
        """The ES ``POST _aliases`` actions body, applied ATOMICALLY (all
        actions land in one registry write — the ES contract that lets a
        rollover swap an alias without a window where it points nowhere):
        ``[{"add": {"index": ..., "alias": ..., "filter": ...,
        "is_write_index": ...}}, {"remove": {...}}]``."""
        data = self._load()
        for act in actions:
            if not isinstance(act, dict) or len(act) != 1:
                raise AliasError(f"action must be one add/remove dict: {act!r}")
            kind, spec = next(iter(act.items()))
            if kind == "add":
                alias, index = spec.get("alias"), spec.get("index")
                if not alias or not index:
                    raise AliasError("add: needs 'alias' and 'index'")
                entry = {
                    "index": os.path.abspath(index),
                    "filter": spec.get("filter"),
                    "is_write_index": bool(spec.get("is_write_index", False)),
                }
                rows = [
                    r for r in data.get(alias, [])
                    if r["index"] != entry["index"]
                ]
                if entry["is_write_index"]:
                    for r in rows:  # at most one write index per alias (ES)
                        r["is_write_index"] = False
                rows.append(entry)
                data[alias] = rows
            elif kind == "remove":
                alias = spec.get("alias")
                if alias not in data:
                    raise AliasError(f"remove: unknown alias {alias!r}")
                index = spec.get("index")
                if index is None:
                    del data[alias]
                else:
                    rows = [
                        r for r in data[alias]
                        if r["index"] != os.path.abspath(index)
                    ]
                    if len(rows) == len(data[alias]):
                        raise AliasError(
                            f"remove: {alias!r} does not cover {index!r}"
                        )
                    data[alias] = rows
                    if not rows:
                        del data[alias]
            else:
                raise AliasError(f"unknown action {kind!r} (add/remove)")
        self._save(data)

    def put(self, alias: str, index: str, filter: dict | None = None,
            is_write_index: bool = False) -> None:
        self.update([{"add": {
            "alias": alias, "index": index, "filter": filter,
            "is_write_index": is_write_index,
        }}])

    def remove(self, alias: str, index: str | None = None) -> None:
        self.update([{"remove": {"alias": alias, "index": index}}])

    # ------------------------------------------------------------ resolution
    def get(self, alias: str | None = None) -> dict:
        """``GET _alias`` / ``GET _alias/<name>`` — the full mapping, or
        one alias's target list."""
        data = self._load()
        if alias is None:
            return data
        if alias not in data:
            raise AliasError(f"unknown alias {alias!r}")
        return {alias: data[alias]}

    def resolve(self, alias: str) -> list[dict]:
        return self.get(alias)[alias]

    def write_index(self, alias: str) -> str:
        """The index writes to this alias route to — explicit
        is_write_index, or the sole member (the ES resolution rule; >1
        member without a write flag is the same hard error ES throws)."""
        rows = self.resolve(alias)
        flagged = [r for r in rows if r.get("is_write_index")]
        if len(flagged) == 1:
            return flagged[0]["index"]
        if not flagged and len(rows) == 1:
            return rows[0]["index"]
        raise AliasError(
            f"alias {alias!r} has {len(rows)} indices and "
            f"{len(flagged)} write flags — no unambiguous write index"
        )


def _filtered_body(body: dict, fclause: dict | None) -> dict:
    """AND a stored alias filter into a request body's filter context —
    the ES filtered-alias rewrite (the filter applies to hits, counts
    and aggs alike because it lands in the bool.filter leg)."""
    if fclause is None:
        return body
    body = dict(body)
    q = body.get("query", {"match_all": {}})
    typ = next(iter(q)) if q else "match_all"
    if typ == "bool":
        spec = dict(q["bool"])
        prev = spec.get("filter") or []
        if isinstance(prev, dict):
            prev = [prev]
        spec["filter"] = list(prev) + [fclause]
        body["query"] = {"bool": spec}
    elif typ == "match_all":
        body["query"] = {"bool": {"filter": [fclause]}}
    else:
        body["query"] = {"bool": {"must": [q], "filter": [fclause]}}
    return body


def search_alias(
    spark: SparkSession, registry: AliasRegistry, alias: str, body: dict,
    round_scores: int | None = None,
) -> DataFrame:
    """``GET <alias>/_search``: resolve, AND each member's stored filter
    into the body, search every member index, merge by score with an
    ``index`` column — per-index (local) statistics, the ES default
    query_then_fetch, same coordinating-node shape as
    :func:`multi_index_topk` (n·k rows unioned, never a cross-index
    shuffle)."""
    from ..query.engine import InvertedIndex

    rows = registry.resolve(alias)
    size = int(body.get("size", 10))
    parts = []
    for r in sorted(rows, key=lambda r: r["index"]):
        ix = InvertedIndex(spark, r["index"])
        hits = ix.search(
            _filtered_body(body, r.get("filter")), round_scores=round_scores
        )
        parts.append(
            hits.select(
                F.lit(os.path.basename(r["index"])).alias("index"),
                "doc_id", "score",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy(
        F.desc("score"), F.asc("index"), F.asc("doc_id")
    ).limit(size)


def count_alias(
    spark: SparkSession, registry: AliasRegistry, alias: str,
    body: dict | None = None,
) -> int:
    """``GET <alias>/_count`` — member counts summed (doc_ids are
    per-index, so the sum IS the distinct count)."""
    from ..query.engine import InvertedIndex

    body = body or {}
    total = 0
    for r in registry.resolve(alias):
        ix = InvertedIndex(spark, r["index"])
        total += ix.count_body(_filtered_body(body, r.get("filter")))
    return total


def rollover(
    spark: SparkSession, registry: AliasRegistry, alias: str,
    new_index: str,
    max_docs: int | None = None,
    max_size_bytes: int | None = None,
    max_age_seconds: float | None = None,
    dry_run: bool = False,
) -> dict:
    """ES ``POST <alias>/_rollover``: if the alias's write index meets ANY
    condition, atomically repoint the write flag to ``new_index`` (the
    old index stays a read member — the time-partitioned layout). The
    new directory is materialized by the first ``build``/``append`` into
    it; if the old index carries a DDL mapping body, it is copied so the
    next build compiles the same layout. Conditions are read from
    ``index_stats()`` (filesystem metadata + one tombstone-count job) —
    never a data scan."""
    from ..query.engine import InvertedIndex

    old = registry.write_index(alias)
    if not os.path.exists(os.path.join(old, "meta.json")):
        # the write index is a fresh rollover target no build/append has
        # materialized yet: zero docs, zero bytes — no condition can be
        # met, and rolling an empty index forward is never right
        return {
            "old_index": old,
            "new_index": os.path.abspath(new_index),
            "rolled_over": False,
            "dry_run": dry_run,
            "conditions": {},
            "note": "write index not yet materialized (no meta.json)",
        }
    ix = InvertedIndex(spark, old)
    stats = ix.index_stats()
    # the first build's commit time: appends rewrite meta.json, so its
    # mtime would restart the clock on every batch
    age = time.time() - ix.meta["created_ts"]
    conditions = {}
    if max_docs is not None:
        conditions[f"[max_docs: {max_docs}]"] = (
            stats["docs"]["count"] >= max_docs
        )
    if max_size_bytes is not None:
        conditions[f"[max_size: {max_size_bytes}b]"] = (
            stats["store"]["size_in_bytes"] >= max_size_bytes
        )
    if max_age_seconds is not None:
        conditions[f"[max_age: {max_age_seconds}s]"] = age >= max_age_seconds
    met = any(conditions.values()) if conditions else True
    out = {
        "old_index": old,
        "new_index": os.path.abspath(new_index),
        "rolled_over": bool(met and not dry_run),
        "dry_run": dry_run,
        "conditions": conditions,
    }
    if not met or dry_run:
        return out
    new_abs = os.path.abspath(new_index)
    if os.path.exists(os.path.join(new_abs, "meta.json")):
        raise AliasError(f"rollover target {new_index!r} already exists")
    os.makedirs(new_abs, exist_ok=True)
    mapping = os.path.join(old, "mapping.json")
    if os.path.exists(mapping):
        import shutil

        shutil.copy2(mapping, os.path.join(new_abs, "mapping.json"))
    # ONE registry write: demote old, promote new — no window where the
    # alias lacks a write index
    rows = registry.resolve(alias)
    keep_filter = next(
        (r.get("filter") for r in rows if r["index"] == old), None
    )
    registry.update([
        {"add": {"alias": alias, "index": old, "filter": keep_filter,
                 "is_write_index": False}},
        {"add": {"alias": alias, "index": new_abs,
                 "is_write_index": True}},
    ])
    return out

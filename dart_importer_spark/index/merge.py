"""Sorted-merge compaction of index segments (SURVEY.md §7 step 6).

The reference delegates this to Lucene's background segment merging (the
ES single-shard deployment at reference import_dart_data.py:349 and
docker-compose.yaml); here it is an explicit, resumable Spark job.

Why compaction matters at 10^12 turns: a build over P input partitions with
skew-salting leaves each hot term scattered across many small runs (one per
(seg, run) pair). Query-time cost is proportional to the number of run rows
touched, so compaction rewrites each term's postings into the minimum number
of ~target_run-sized runs. Tombstoned documents (see
``InvertedIndex.delete_by_query``) are physically dropped and global
statistics (df / N / avgdl) are republished, which is exactly what a Lucene
merge does with deletes.

Scale design:
- the merge shuffles only the **encoded blobs** (delta+varbyte compressed),
  never re-exploded postings — shuffle volume equals compressed index size.
- one grouped-map task never holds a whole hot term: runs are grouped by
  ``(term, merge_group)`` where merge_group = min_doc * nmerge / N and
  nmerge = ceil(df_term / target_run), bounding every task's working set to
  ~target_run postings regardless of term frequency. Runs that straddle a
  range boundary only add bounded slop (one source run).
- output runs need not be globally doc-disjoint: the scorer treats runs as
  independent chunks and aggregates by doc_id, so correctness is invariant
  to the physical chunking (property-tested against the uncompacted index).
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..functions.codec import decode_runs
from .build import (
    POSTINGS_ORDER,
    POSTINGS_PARTS,
    POSTINGS_SCHEMA,
    bucket_col,
    corpus_counters,
    group_change,
    pack_runs_bulk,
    publish_term_dict,
    read_if_written,
)
from .commit import commit_meta, lineage_entry, read_meta

MERGED_SEG = -1  # seg id marking post-compaction runs

EXPLODED_SCHEMA = (
    "field int, term string, mgrp int, doc_id long, tf long, dl long, "
    "poss array<long>"
)


def _explode_runs(batches) -> "Iterator[pd.DataFrame]":
    """Decode run blobs to exploded (term, mgrp, doc_id, tf, dl) rows — the
    fallback compaction input when the tombstone set is too large to
    broadcast, so deletes can be applied as a distributed anti-join."""
    for pdf in batches:
        if not len(pdf):
            continue
        dec = decode_runs(pdf)
        run, tfs = dec["run"], dec["tf"]
        if dec["pos"].size:
            # per-posting position sublists (token space = cumulative tf)
            plists = [x.tolist() for x in np.split(dec["pos"], np.cumsum(tfs)[:-1])]
        else:
            plists = [[] for _ in range(len(run))]
        yield pd.DataFrame(
            {
                "field": pdf["field"].to_numpy(dtype=np.int32)[run],
                "term": pdf["term"].to_numpy(dtype=object)[run],
                "mgrp": pdf["mgrp"].to_numpy(dtype=np.int32)[run],
                "doc_id": dec["doc_id"],
                "tf": tfs,
                "dl": dec["dl"],
                "poss": plists,
            }
        )


def _make_exploded_packer(target_run: int):
    """Re-pack exploded postings (sorted by field, term, mgrp, doc_id) into
    runs."""

    def pack(batches) -> "Iterator[pd.DataFrame]":
        from itertools import chain

        parts = [b for b in batches if len(b)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        flds = pdf["field"].to_numpy(dtype=np.int32)
        terms = pdf["term"].to_numpy(dtype=object)
        mgrps = pdf["mgrp"].to_numpy(dtype=np.int64)
        starts, cols = pack_runs_bulk(
            (flds, terms, mgrps),
            pdf["doc_id"].to_numpy(dtype=np.int64),
            pdf["tf"].to_numpy(dtype=np.int64),
            pdf["dl"].to_numpy(dtype=np.int64),
            target_run,
            np.fromiter(chain.from_iterable(pdf["poss"]), dtype=np.int64),
        )
        yield pd.DataFrame(
            {
                "seg": np.full(len(starts), MERGED_SEG, dtype=np.int32),
                "field": flds[starts],
                "term": terms[starts],
                "run": mgrps[starts].astype(np.int32),
                **cols,
            }
        )

    return pack


def compact_index(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    target_run: int | None = None,
    tomb_broadcast_limit: int = 2_000_000,
) -> dict:
    """Compact ``index_dir`` into ``out_dir``: merge runs per term, drop
    tombstoned docs, republish term_dict, then commit ``out_dir``'s
    ``meta.json`` (corpus counters + the source lineage with a compaction
    entry) once, after the last data write. ``index_dir`` is never
    modified, so an interrupted compaction leaves it serving as before."""
    t0 = time.time()
    if os.path.realpath(out_dir) == os.path.realpath(index_dir):
        # the merged/doc_stats plans lazily re-read index_dir while writing;
        # in-place compaction would read its own partial output (or destroy
        # the only copy on failure)
        raise ValueError("compact_index: out_dir must differ from index_dir")
    meta = read_meta(index_dir)
    if meta is None:
        raise FileNotFoundError(f"compact_index: no index committed at {index_dir!r}")
    if target_run is None:
        target_run = int(meta["target_run"])
    n_buckets = int(meta["n_buckets"])

    post = spark.read.parquet(f"{index_dir}/postings")
    doc_stats = spark.read.parquet(f"{index_dir}/doc_stats")
    tomb = read_if_written(spark, os.path.join(index_dir, "tombstones"))
    tomb_df = None
    tomb_n = 0
    if tomb is not None:
        tomb_df = tomb.select("doc_id").distinct()
        tomb_n = tomb_df.count()
        doc_stats = doc_stats.join(tomb_df, "doc_id", "left_anti")
    # deletes are usually a small fraction of the corpus between compactions
    # -> broadcast a sorted id array and mask inside the blob merger. Above
    # the budget, fall back to the exploded anti-join path (shuffles raw
    # postings once instead of OOMing the driver/executors on the broadcast).
    use_bc = tomb_n <= tomb_broadcast_limit
    tomb_ids = np.array([], dtype=np.int64)
    if tomb_n and use_bc:
        tomb_ids = np.array(
            [r["doc_id"] for r in tomb_df.collect()], dtype=np.int64
        )
    bc_tomb = spark.sparkContext.broadcast(np.sort(tomb_ids))

    n_docs_row = doc_stats.agg(
        F.count("*").alias("n"), F.max("doc_id").alias("mx")
    ).collect()[0]
    n_for_range = int(n_docs_row["mx"] or 0) + 1

    # per-term total df (the input's term_dict) decides how many merge
    # ranges the term needs
    totals = spark.read.parquet(f"{index_dir}/term_dict").select(
        "field", "term", F.col("df").alias("df_total")
    )
    ranged = post.join(totals, ["field", "term"]).withColumn(
        "nmerge", F.ceil(F.col("df_total") / F.lit(target_run)).cast("long")
    ).withColumn(
        "mgrp",
        (F.col("min_doc") * F.col("nmerge") / F.lit(n_for_range)).cast("int"),
    )

    def merge_partition(batches) -> "Iterator[pd.DataFrame]":
        """Partition-level merger, fully vectorized: the partition's runs
        are decoded in one ``decode_runs`` call, postings are lexsorted by
        (group, doc), tombstones dropped, and everything re-packed with
        ``pack_runs_bulk``. Per-run python overhead ~0: decisive when the
        local-segment build emits one small run per (partition, term)."""
        dead = bc_tomb.value
        parts = [b for b in batches if len(b)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        flds = pdf["field"].to_numpy(dtype=np.int32)
        terms = pdf["term"].to_numpy(dtype=object)
        mgrps = pdf["mgrp"].to_numpy(dtype=np.int64)
        # run -> merge-group id (runs arrive sorted by (field, term, mgrp))
        g_change = group_change(flds, terms, mgrps)
        grp_run = np.cumsum(g_change) - 1
        first_run = np.flatnonzero(g_change)  # first run index of each group

        dec = decode_runs(pdf)
        docs, tfs, dls, poss = dec["doc_id"], dec["tf"], dec["dl"], dec["pos"]
        # per-posting token offsets in the pre-sort stream (token = sum tf)
        if poss.size:
            tok_start = np.zeros(len(tfs), dtype=np.int64)
            np.cumsum(tfs[:-1], out=tok_start[1:])

        grp_post = grp_run[dec["run"]]
        order = np.lexsort((docs, grp_post))
        docs, tfs_o, dls, grp_post = (
            docs[order], tfs[order], dls[order], grp_post[order],
        )
        if poss.size:
            # gather each posting's position sublist into the new order
            total_tok = int(tfs_o.sum())
            out_ofs = np.zeros(len(tfs_o), dtype=np.int64)
            np.cumsum(tfs_o[:-1], out=out_ofs[1:])
            gather = np.repeat(tok_start[order], tfs_o) + (
                np.arange(total_tok, dtype=np.int64) - np.repeat(out_ofs, tfs_o)
            )
            poss = poss[gather]
        tfs = tfs_o
        if dead.size:
            keep = ~np.isin(docs, dead, assume_unique=False)
            if poss.size:
                poss = poss[np.repeat(keep, tfs)]
            docs, tfs, dls, grp_post = (
                docs[keep], tfs[keep], dls[keep], grp_post[keep],
            )
        if not len(docs):
            return
        starts, cols = pack_runs_bulk(
            (grp_post,), docs, tfs, dls, target_run, poss
        )
        emit_run_idx = first_run[grp_post[starts]]
        yield pd.DataFrame(
            {
                "seg": np.full(len(starts), MERGED_SEG, dtype=np.int32),
                "field": flds[emit_run_idx],
                "term": terms[emit_run_idx],
                "run": mgrps[emit_run_idx].astype(np.int32),
                **cols,
            }
        )

    tot = ranged.agg(
        F.count("*").alias("runs"), F.sum("n").alias("posts")
    ).collect()[0]
    merge_parts = max(
        2 * spark.sparkContext.defaultParallelism,
        int(tot["posts"] or 0) // 4_000_000 + 1,
    )
    if tomb_n and not use_bc:
        # huge delete set: decode to exploded postings, drop dead docs via a
        # distributed anti-join, re-pack. Shuffle volume = raw postings once
        # (vs. compressed blobs on the broadcast path) — the price of not
        # materializing the delete set on every executor.
        exploded = (
            ranged.select("field", "term", "mgrp", "n", "docs", "tfs", "dls", "poss")
            .mapInPandas(_explode_runs, schema=EXPLODED_SCHEMA)
            .join(tomb_df, "doc_id", "left_anti")
        )
        merged = (
            exploded.repartition(merge_parts, "field", "term", "mgrp")
            .sortWithinPartitions("field", "term", "mgrp", "doc_id")
            .mapInPandas(_make_exploded_packer(target_run), schema=POSTINGS_SCHEMA)
        )
    else:
        merged = (
            ranged.repartition(merge_parts, "field", "term", "mgrp")
            .sortWithinPartitions("field", "term", "mgrp", "min_doc")
            .select("field", "term", "mgrp", "n", "docs", "tfs", "dls", "poss")
            .mapInPandas(merge_partition, schema=POSTINGS_SCHEMA)
        )
    merged = merged.withColumn("bucket", bucket_col("term", n_buckets))

    os.makedirs(out_dir, exist_ok=True)
    # a record left by an earlier compaction into out_dir would describe
    # tables this run is about to overwrite
    if os.path.exists(os.path.join(out_dir, "meta.json")):
        os.remove(os.path.join(out_dir, "meta.json"))
    (
        merged.repartition("bucket")
        .sortWithinPartitions(*POSTINGS_ORDER)
        .write.mode("overwrite")
        .partitionBy(*POSTINGS_PARTS)
        .parquet(f"{out_dir}/postings")
    )

    (
        doc_stats.repartition("seg")
        .write.mode("overwrite")
        .partitionBy("seg")
        .parquet(f"{out_dir}/doc_stats")
    )
    bc_tomb.destroy()  # postings + doc_stats materialized; free executors

    # republish global stats from the compacted postings (df shrinks when
    # tombstoned docs are dropped; N/avgdl from the surviving doc_stats)
    post_out = spark.read.parquet(f"{out_dir}/postings")
    publish_term_dict(post_out, out_dir, n_buckets)
    corpus = corpus_counters(
        spark.read.parquet(f"{out_dir}/doc_stats"), len(meta["fields"])
    )
    n_docs = corpus[0]["n_docs"]
    n_runs = int(post_out.count())
    # tombstones are applied, none carry over
    shutil.rmtree(os.path.join(out_dir, "tombstones"), ignore_errors=True)

    commit_meta(out_dir, {
        **meta, "compacted": True, "target_run": target_run, "corpus": corpus,
        "lineage": {**meta["lineage"], "compact-00000": lineage_entry(
            "compact-00000", -1, "committed", n_docs=n_docs, n_postings=n_runs,
        )},
    })
    return {
        "n_docs": n_docs,
        "n_runs": n_runs,
        "n_tombstones_dropped": int(tomb_n),
        "elapsed_sec": time.time() - t0,
    }


def _reindex_frame(spark: SparkSession, src_dir: str):
    """Shared source prep for :func:`reindex_index` /
    :func:`update_by_query_index`: the LIVE documents (tombstones
    applied) with ``doc_id`` plus every stored column an analysis
    rebuild needs, and the build config/kwargs that reproduce the
    source layout."""
    import re as _re

    from .build import BuildConfig
    from ..query.engine import InvertedIndex

    ix = InvertedIndex(spark, src_dir)
    meta = ix.meta
    keys = list(meta.get("doc_key_cols") or ["conv_id", "turn_idx"])
    meta_cols = list(meta.get("meta_cols") or [])
    fields = list(meta.get("fields") or ["text"])
    base_fields, shingles = [], []
    for f in fields:
        m = _re.fullmatch(r"(.+)\._(\d+)gram", f)
        if m:
            shingles.append((m.group(1), int(m.group(2))))
        else:
            base_fields.append(f)
    stored = set(keys) | set(meta_cols)
    needed = list(dict.fromkeys(base_fields + [src for src, _ in shingles]))
    missing = [f for f in needed if f not in stored]
    if missing:
        raise ValueError(
            f"reindex needs the analyzed field source(s) {missing} stored "
            f"in doc_stats — rebuild the source index with them in "
            f"meta_cols"
        )
    cols = list(dict.fromkeys(keys + meta_cols + needed))
    docs = ix.doc_stats().select("doc_id", *cols)
    cfg = BuildConfig(
        n_segments=int(meta["n_segments"]),
        n_buckets=int(meta["n_buckets"]),
        store_positions=bool(meta.get("store_positions")),
    )
    kwargs: dict = {"doc_key_cols": tuple(keys), "meta_cols": tuple(meta_cols)}
    if len(base_fields) > 1:
        kwargs["text_cols"] = tuple(base_fields)
    else:
        kwargs["text_col"] = base_fields[0]
    if shingles:
        kwargs["shingle_fields"] = tuple(shingles)
    return ix, docs, keys, cols, cfg, kwargs


def _apply_script(docs, script: dict, keys: list, cols: list, flag=None):
    """Apply an ES reindex/update script — here ``{column: Spark SQL
    expression}``, the engine's scripting dialect (the runtime-fields
    treatment of Painless) — to ``docs``. Expressions see the stored
    columns; earlier entries' results are visible to later ones
    (mapping order, like chained runtime fields). Results are cast back
    to the column's stored type so the new epoch keeps the source
    layout. ``flag`` limits the rewrite to matching rows
    (update_by_query); doc-key columns are immutable (ES ``_id``
    semantics — delete + re-import to change identity)."""
    from pyspark.sql import functions as F

    if not isinstance(script, dict) or not script:
        raise ValueError(
            "script: need a non-empty {column: SQL expression} dict"
        )
    dtypes = dict(docs.dtypes)
    mutable = [c for c in cols if c not in keys]
    for col, expr in script.items():
        if col in keys:
            raise ValueError(
                f"script: {col!r} is a doc-key column — doc identity is "
                f"immutable (delete_by_query + re-import to change keys)"
            )
        if col not in mutable:
            raise ValueError(
                f"script: {col!r} is not a stored column "
                f"(stored: {sorted(mutable)})"
            )
        new = F.expr(str(expr)).cast(dtypes[col])
        if flag is not None:
            new = F.when(flag, new).otherwise(F.col(col))
        docs = docs.withColumn(col, new)
    return docs


def _body_match_flag(ix, docs, body: dict | None):
    """-> ``(docs, flag)`` where ``flag`` is a boolean Column marking
    the ES query body's match set over ``docs``. Filter-context bodies
    compile to ONE Catalyst predicate evaluated inside the doc_stats
    scan (no join); text queries take one postings pass for the doc-id
    set and a left join against it — the raw text never shuffles."""
    from pyspark.sql import functions as F

    from ..query.dsl import _Compiler, _scan_docs

    q = (body or {}).get("query", {"match_all": {}})
    cp = _Compiler(ix)
    typ, _spec = cp._clause(q)
    if typ == "match_all":
        return docs, F.lit(True)
    if cp.is_filterish(q):
        return docs, cp.compile_filter(q)
    ids = _scan_docs(cp, q, op="update_by_query").withColumn(
        "__matched", F.lit(True)
    )
    docs = docs.join(ids, "doc_id", "left")
    docs = docs.withColumn(
        "__matched", F.coalesce(F.col("__matched"), F.lit(False))
    )
    return docs, F.col("__matched")


def reindex_index(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    config=None,
    where=None,
    body: dict | None = None,
    script: dict | None = None,
    force: bool = False,
) -> dict:
    """ES ``_reindex``: rebuild ``src_dir``'s LIVE documents (tombstones
    applied) into a fresh index at ``out_dir``, optionally under a new
    layout ``config`` (the change-shards / change-analysis use of
    reindex), restricted by ``where`` (a Column) or ``body`` (an ES
    query body — reindex-with-query), and transformed by ``script``
    ({column: Spark SQL expression} — ES's reindex script, applied to
    every surviving doc; see :func:`_apply_script`). The source must
    store every analyzed field's source column in doc_stats (built with
    the field in ``meta_cols``); shingle subfields (``src._Ngram``) are
    re-derived, not copied.

    Plan shape: one doc_stats scan (tombstone anti-join; filterish
    bodies fold into the scan predicate, text bodies cost one postings
    pass for the doc-id set) -> the normal build pipeline. No postings
    are copied — reindex is a re-analysis, exactly like ES (copying
    compacted runs instead is compact_index's job)."""
    from .build import build_index

    if os.path.realpath(out_dir) == os.path.realpath(src_dir):
        raise ValueError("reindex_index: out_dir must differ from src_dir")
    ix, docs, keys, cols, cfg, kwargs = _reindex_frame(spark, src_dir)
    if body is not None:
        docs, flag = _body_match_flag(ix, docs, body)
        docs = docs.filter(flag)
    if where is not None:
        docs = docs.filter(where)
    if script is not None:
        docs = _apply_script(docs, script, keys, cols)
    docs = docs.select(*cols)
    return build_index(
        spark, docs, out_dir, config or cfg, force=force, **kwargs
    )


def update_by_query_index(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    body: dict | None,
    script: dict,
    config=None,
    force: bool = False,
) -> dict:
    """ES ``_update_by_query`` realized over immutable segments as
    copy-on-write into a new index epoch: every live doc survives, docs
    matching ``body``'s query are rewritten by ``script`` ({column:
    Spark SQL expression}), and the result is re-analyzed into
    ``out_dir``. ES itself implements this API as snapshot + per-doc
    reindex of the matches; with immutable segment files the
    scale-correct form is ONE rewrite pass (Iceberg copy-on-write
    UPDATE / Delta MERGE shape), and the alias layer
    (``index/aliases.py`` rollover) makes the epoch swap atomic for
    readers. Returns the build metrics plus ``updated`` (the matched
    live-doc count, the ES response field)."""
    from .build import build_index

    if os.path.realpath(out_dir) == os.path.realpath(src_dir):
        raise ValueError(
            "update_by_query_index: out_dir must differ from src_dir "
            "(segments are immutable — updates write a new epoch; swap "
            "readers over with an alias rollover)"
        )
    ix, docs, keys, cols, cfg, kwargs = _reindex_frame(spark, src_dir)
    docs, flag = _body_match_flag(ix, docs, body)
    # script validation is driver-side and lazy — run it before paying
    # for the matched-count job (flag is untouched by the rewrite)
    docs = _apply_script(docs, script, keys, cols, flag=flag)
    updated = int(docs.filter(flag).count())
    docs = docs.select(*cols)
    res = build_index(
        spark, docs, out_dir, config or cfg, force=force, **kwargs
    )
    res["updated"] = updated
    return res

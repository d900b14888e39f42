"""Inverted-index build: transcripts DataFrame -> segmented index tables.

The reference's entire index build happens inside Elasticsearch/Lucene (bulk
load at reference import_dart_data.py:495-499,595-599; analyzed ``text``
mappings at :346-364,383-443). This module is the from-scratch Spark-native
replacement. Layout on disk (parquet; Iceberg-compatible table shapes):

    <out>/postings/      seg=<s>/bucket=<b>/...  one row per (term, run):
                         delta+varbyte doc_ids, varbyte tfs + dls, per-block
                         (first_doc, max_tf, min_dl) metadata for block-max
                         pruning
    <out>/doc_stats/     seg=<s>/   (doc_id, conv_id, turn_idx, role, tool,
                         ts, dl) — metadata filters + length norms
    <out>/term_seg_df/   seg=<s>/   per-segment partial document frequencies
    <out>/term_dict/     (term, df) — global, published from partials
    <out>/corpus_stats/  single row (n_docs, avgdl, total_tokens)
    <out>/manifests/     per-segment lineage (FIXTURES.md T3) — the working
                         version of the reference's dead lineage code
                         (import_dart_data.py:606-625 builds a history dict
                         that is never indexed; here manifests are real and
                         drive checkpoint-resume)

Scale design (the 10^12-turn design point):
- doc_id assignment is the classic two-pass zipWithIndex: range-partition by
  (conv_id, turn_idx), count per partition (tiny driver collect), then a
  vectorized mapInPandas adds offset + local row number. No global window,
  no single-partition bottleneck. The rank is independent of partition
  boundaries, so it is deterministic and resume-safe.
- NO token-level shuffle at all (the Lucene flush-then-merge model made
  distributed): each doc-range partition sorts and encodes its own posting
  runs locally (run id = partition id); only the delta+varbyte-compressed
  blobs shuffle, for directory layout. The raw token stream — the dominant
  data volume — crosses JVM->Arrow->Python exactly once, memory-local.
  Stopword skew is bounded *by construction*: a term's run within a
  partition holds at most that partition's doc count regardless of global
  df (no salting pre-pass needed), and the encoder chunks groups at
  ``target_run``. ``merge.compact_index`` consolidates per-partition runs
  exactly as Lucene background merges consolidate flushed segments; the
  scorer is correct at any run granularity, so compaction is a pure
  query-latency optimization.
- segments (seg = crc32(conv_id) % n_segments) are the resume granularity:
  a failed/partial build re-runs only segments whose manifest row is missing
  or whose input fingerprint changed. Writes use dynamic partition overwrite
  so a re-build replaces exactly its own partitions.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.codec import varbyte_encode_ex
from ..functions.tokenizer import tokenize_col, tokenize_series

K1 = 1.2
B = 0.75
BLOCK_SIZE = 128


@dataclass
class BuildConfig:
    n_segments: int = 8
    n_buckets: int = 16
    target_run: int = 1 << 17  # max postings per encoded run (skew cap)
    doc_id_partitions: int | None = None
    # store token positions per posting (enables match_phrase; ~+40% index
    # size; column pruning keeps non-phrase queries free of the extra bytes)
    store_positions: bool = False

    def __post_init__(self):
        # seg occupies 9 bits of the encoder's composite sort key
        if not (1 <= self.n_segments <= 512):
            raise ValueError(
                f"n_segments must be in [1, 512], got {self.n_segments}"
            )


POSTINGS_SCHEMA = (
    "seg int, field int, term string, run int, n long, min_doc long, max_doc long, "
    "docs binary, tfs binary, dls binary, poss binary, "
    "block_first array<long>, block_max_tf array<int>, block_min_dl array<int>"
)

MAX_FIELDS = 8  # joint (field, term) code budget in the encoder sort key


def assign_doc_ids(
    df: DataFrame,
    partitions: int | None = None,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    persisted: list | None = None,
    stats_out: dict | None = None,
    base: int = 0,
) -> DataFrame:
    """Stable dense doc_id = base + global rank under ORDER BY key_cols.
    ``base`` > 0 is the append path: a key-monotone batch ranks strictly
    after every existing doc, so its ids start at the old corpus size.

    Two-pass distributed ranking (no global window):
      1. range-partition + sort within partitions, persist;
      2. per-partition counts -> prefix-sum offsets (driver, tiny);
      3. mapInPandas adds offset + running local index (Arrow-vectorized).

    ``persisted`` collects the internal cached DataFrame so the caller can
    unpersist it — leaking it is not just memory: Spark's CacheManager
    matches by canonicalized plan, so a later build over the SAME source
    path would silently reuse the stale cached rows.
    """
    spark = df.sparkSession
    if partitions is None:
        # 2x parallelism: two task waves smooth stragglers (with exactly
        # one wave the slowest partition sets the stage time)
        partitions = max(8, 2 * spark.sparkContext.defaultParallelism)
    ranged = (
        df.repartitionByRange(partitions, *key_cols)
        .sortWithinPartitions(*key_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    ranged.persist()
    if persisted is not None:
        persisted.append(ranged)
    counts = {r["_pid"]: r["cnt"] for r in ranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, int(base)
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if stats_out is not None:
        stats_out["n_total"] = acc - int(base)

    # numbering stays PURE JVM: doc_id = offset[_pid] + row-ordinal-within-
    # partition, where the ordinal is the low 33 bits of
    # monotonically_increasing_id() (its counter starts at pid<<33 and
    # increments per row in task order — exactly the cached sorted order).
    # The previous mapInPandas numbering shipped every column of every row
    # (including the full text) JVM->Arrow->Python->JVM once PER DOWNSTREAM
    # BRANCH just to add one column; both the doc_stats and the encode
    # branch re-ran that crossing. The broadcast hash join on the tiny
    # offsets table adds no exchange and preserves row order.
    offs_df = spark.createDataFrame(
        [(int(p), int(o)) for p, o in sorted(offsets.items())],
        "_pid int, _off long",
    )
    local_ord = F.monotonically_increasing_id().bitwiseAND(
        F.lit((1 << 33) - 1)
    )
    return (
        ranged.join(F.broadcast(offs_df), "_pid")
        .withColumn("doc_id", (F.col("_off") + local_ord).cast("long"))
        .select(*df.columns, "doc_id")
    )


def pack_runs_bulk(
    docs: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
) -> dict:
    """Vectorized packing of MANY posting groups at once: one varbyte pass
    over the whole partition, per-group byte-offset slicing, and
    ``reduceat`` block metadata. Per-group python cost drops from ~100 us
    (dozens of small numpy allocations per group) to a few us — decisive
    when local segment encoding emits one run per (partition, seg, term)
    and groups average only tens of postings.

    Block bound validity: tfn(tf, dl) = tf / (tf + k1*(1-b+b*dl/avgdl)) is
    increasing in tf and decreasing in dl, so tfn(max_tf, min_dl) is a
    conservative per-block upper bound for any avgdl — which lets us store
    avgdl-independent metadata and keep segments immutable across merges.

    Returns columnar lists ready for DataFrame construction.
    """
    n_groups = len(starts)
    gaps = docs.copy()
    gaps[1:] -= docs[:-1]
    gaps[starts] = docs[starts]
    gap_bytes, gap_len = varbyte_encode_ex(gaps)
    tf_bytes, tf_len = varbyte_encode_ex(tfs)
    dl_bytes, dl_len = varbyte_encode_ex(dls)

    def offsets(lengths: np.ndarray) -> np.ndarray:
        o = np.zeros(len(lengths) + 1, dtype=np.int64)
        np.cumsum(lengths, out=o[1:])
        return o

    gofs, tofs, dofs = offsets(gap_len), offsets(tf_len), offsets(dl_len)

    sizes = ends - starts
    nb = (sizes + BLOCK_SIZE - 1) // BLOCK_SIZE
    nb_ofs = np.zeros(n_groups + 1, dtype=np.int64)
    np.cumsum(nb, out=nb_ofs[1:])
    total_blocks = int(nb_ofs[-1])
    grp_rep = np.repeat(np.arange(n_groups), nb)
    intra = np.arange(total_blocks) - np.repeat(nb_ofs[:-1], nb)
    bstarts = starts[grp_rep] + intra * BLOCK_SIZE
    # blocks tile the partition contiguously, so reduceat's [idx_i, idx_i+1)
    # regions are exactly the blocks
    bmax_tf = np.maximum.reduceat(tfs, bstarts).astype(np.int32)
    bmin_dl = np.minimum(
        np.minimum.reduceat(dls, bstarts), np.int64(2**31 - 1)
    ).astype(np.int32)
    bfirst = docs[bstarts]

    gv, tv, dv = memoryview(gap_bytes), memoryview(tf_bytes), memoryview(dl_bytes)
    out = {
        "n": sizes.tolist(),
        "min_doc": docs[starts].tolist(),
        "max_doc": docs[ends - 1].tolist(),
        "docs": [bytes(gv[gofs[s]:gofs[e]]) for s, e in zip(starts, ends)],
        "tfs": [bytes(tv[tofs[s]:tofs[e]]) for s, e in zip(starts, ends)],
        "dls": [bytes(dv[dofs[s]:dofs[e]]) for s, e in zip(starts, ends)],
        "block_first": [
            bfirst[nb_ofs[i]:nb_ofs[i + 1]].tolist() for i in range(n_groups)
        ],
        "block_max_tf": [
            bmax_tf[nb_ofs[i]:nb_ofs[i + 1]].tolist() for i in range(n_groups)
        ],
        "block_min_dl": [
            bmin_dl[nb_ofs[i]:nb_ofs[i + 1]].tolist() for i in range(n_groups)
        ],
    }
    return out


def _finish_encode(
    seg_rep: np.ndarray,
    codes: np.ndarray,
    doc_rep: np.ndarray,
    dl_rep: np.ndarray,
    uniques: np.ndarray,
    n_fields: int,
    doc_min: int,
    doc_max: int,
    target_run: int,
    run_id: int,
    pos_rep: np.ndarray | None = None,
) -> pd.DataFrame:
    """Shared encode tail: composite-key sort -> run-length tf -> group ->
    chunk at target_run -> bulk delta+varbyte pack -> posting-run rows.

    ``codes`` is the joint (term, field) id (term_code * n_fields + field)
    so fields need no extra sort-key bits. One composite-key argsort instead
    of a 3-key lexsort: ~3x less memory traffic through the sort, which is
    what the encode stage is bound by. Bit budget: seg < 2^9 (asserted in
    BuildConfig), per-partition vocab*n_fields < 2^25, partition-local doc
    ordinal < 2^30. Overflowing fields would OR bits across key boundaries
    and emit a silently corrupt index, so the bounds are checked here and a
    (slower but unconditionally correct) 3-key lexsort takes over for freak
    partitions that exceed them."""
    local_doc = (doc_rep - doc_min).astype(np.uint64)
    doc_span = int(doc_max - doc_min)
    if len(uniques) * n_fields < (1 << 25) and doc_span < (1 << 30):
        key = (
            (seg_rep.astype(np.uint64) << np.uint64(55))
            | (codes.astype(np.uint64) << np.uint64(30))
            | local_doc
        )
        order = np.argsort(key, kind="stable")
    else:
        order = np.lexsort((local_doc, codes, seg_rep))
    seg_s, code_s, doc_s, dl_s = (
        seg_rep[order], codes[order], doc_rep[order], dl_rep[order],
    )
    pos_s = pos_rep[order] if pos_rep is not None else None
    n = len(doc_s)
    # collapse duplicate (seg, field·term, doc) rows to tf via run-length
    new_post = np.empty(n, dtype=bool)
    new_post[0] = True
    new_post[1:] = (
        (doc_s[1:] != doc_s[:-1])
        | (code_s[1:] != code_s[:-1])
        | (seg_s[1:] != seg_s[:-1])
    )
    pstarts = np.flatnonzero(new_post)
    tfs = np.diff(np.append(pstarts, n)).astype(np.int64)
    docs = doc_s[pstarts]
    dls = dl_s[pstarts]
    segs = seg_s[pstarts]
    code_p = code_s[pstarts]
    m = len(docs)
    change = np.empty(m, dtype=bool)
    change[0] = True
    change[1:] = (segs[1:] != segs[:-1]) | (code_p[1:] != code_p[:-1])
    starts = np.flatnonzero(change)
    ends = np.append(starts[1:], m)
    if ((ends - starts) > target_run).any():
        pieces = []
        for s, e in zip(starts, ends):
            if e - s > target_run:
                pieces.extend(range(s, e, target_run))
            else:
                pieces.append(s)
        starts = np.asarray(pieces, dtype=np.int64)
        ends = np.append(starts[1:], m)
    fields = pack_runs_bulk(docs, tfs, dls, starts, ends)
    # token positions: within a posting, stable sort preserved the original
    # ascending in-document order, so the sorted position stream sliced at
    # run boundaries (token space = cumulative tf) is each run's "poss"
    if pos_s is not None:
        pbytes, plens = varbyte_encode_ex(pos_s)
        tok_byte_ofs = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(plens, out=tok_byte_ofs[1:])
        pv = memoryview(pbytes)
        tok_of_post = pstarts  # posting j starts at token pstarts[j]
        run_tok_start = tok_of_post[starts]
        run_tok_end = np.append(tok_of_post[starts[1:]], n)
        fields["poss"] = [
            bytes(pv[tok_byte_ofs[s]:tok_byte_ofs[e]])
            for s, e in zip(run_tok_start, run_tok_end)
        ]
    else:
        fields["poss"] = [b""] * len(starts)
    emit_code = code_p[starts]
    if n_fields > 1:
        emit_term = uniques[emit_code // n_fields]
        emit_field = (emit_code % n_fields).astype("int32")
    else:
        emit_term = uniques[emit_code]
        emit_field = np.zeros(len(starts), dtype="int32")
    return pd.DataFrame(
        {
            "seg": segs[starts].astype("int32"),
            "field": emit_field,
            "term": emit_term,
            "run": np.full(len(starts), run_id, dtype=np.int32),
            **fields,
        }
    )


def _make_doc_encoder(target_run: int, store_positions: bool = False):
    """Partition-level encoder over single-field document rows
    (seg, doc_id, text).

    The whole token pipeline runs vectorized inside Python: pandas-regex
    tokenize -> pd.factorize (hash-based term ids) -> composite-key sort ->
    run-length tf -> bulk delta+varbyte pack. Compared to exploding tokens
    JVM-side, Arrow moves the raw text once (~6-8x less volume than 60
    token rows per doc), and there is no JVM string sort. Rows are atomic,
    so batches need no carry logic; the partition is processed as one block
    (memory = the partition's text, which the doc-range partitioning
    already bounds).

    run id = TaskContext partition id: unique per partition, which is all
    the scorer needs (runs are independent physical chunks).
    """

    def encode_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        parts = [b for b in batches if len(b)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        run_id = TaskContext.get().partitionId() if TaskContext.get() else 0

        from itertools import chain

        toks = tokenize_series(pdf["text"])
        dl = toks.str.len().to_numpy(dtype=np.int64)
        total = int(dl.sum())
        if total == 0:
            return
        flat = np.fromiter(chain.from_iterable(toks), dtype=object, count=total)
        codes, uniques = pd.factorize(flat, sort=False)
        seg_rep = np.repeat(pdf["seg"].to_numpy(dtype=np.int32), dl)
        doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        doc_rep = np.repeat(doc_ids, dl)
        dl_rep = np.repeat(dl, dl)
        pos_rep = None
        if store_positions:
            row_ofs = np.zeros(len(dl), dtype=np.int64)
            np.cumsum(dl[:-1], out=row_ofs[1:])
            pos_rep = np.arange(total, dtype=np.int64) - np.repeat(row_ofs, dl)
        yield _finish_encode(
            seg_rep, codes, doc_rep, dl_rep, uniques, 1,
            int(doc_ids.min()), int(doc_ids.max()), target_run, run_id,
            pos_rep=pos_rep,
        )

    return encode_partition


def _make_multi_doc_encoder(
    target_run: int, n_fields: int, src_fields: dict, store_positions: bool = False
):
    """Partition-level encoder over (seg, doc_id, src, text) rows — one row
    per DISTINCT source column of each document. ``src_fields`` maps the
    src id to its derived fields [(field_id, ngram|None), ...]: a source
    indexed both standard and as an n-gram shingle subfield is shipped and
    tokenized ONCE; the shingle stream is derived from the same token
    lists (no second Arrow crossing, no second regex pass)."""

    def encode_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from itertools import chain

        from pyspark import TaskContext

        from ..functions.tokenizer import shingle_list

        parts = [b for b in batches if len(b)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        run_id = TaskContext.get().partitionId() if TaskContext.get() else 0

        src_arr = pdf["src"].to_numpy(dtype=np.int64)
        seg_np = pdf["seg"].to_numpy(dtype=np.int32)
        doc_np = pdf["doc_id"].to_numpy(dtype=np.int64)
        flat_parts, seg_parts, doc_parts, dl_parts, field_parts = [], [], [], [], []
        pos_parts = []
        for src_id, fields in src_fields.items():
            sel = np.flatnonzero(src_arr == src_id)
            if not sel.size:
                continue
            toks = tokenize_series(pdf["text"].iloc[sel])
            for fid, ngram in fields:
                ftoks = (
                    toks
                    if ngram is None
                    else toks.map(lambda t, n=ngram: shingle_list(t, n))
                )
                dl = ftoks.str.len().to_numpy(dtype=np.int64)
                total = int(dl.sum())
                if total == 0:
                    continue
                flat_parts.append(
                    np.fromiter(chain.from_iterable(ftoks), dtype=object, count=total)
                )
                seg_parts.append(np.repeat(seg_np[sel], dl))
                doc_parts.append(np.repeat(doc_np[sel], dl))
                dl_parts.append(np.repeat(dl, dl))
                field_parts.append(np.full(total, fid, dtype=np.int64))
                if store_positions:
                    row_ofs = np.zeros(len(dl), dtype=np.int64)
                    np.cumsum(dl[:-1], out=row_ofs[1:])
                    pos_parts.append(
                        np.arange(total, dtype=np.int64) - np.repeat(row_ofs, dl)
                    )
        if not flat_parts:
            return
        flat = np.concatenate(flat_parts)
        codes, uniques = pd.factorize(flat, sort=False)
        codes = codes.astype(np.int64) * n_fields + np.concatenate(field_parts)
        yield _finish_encode(
            np.concatenate(seg_parts),
            codes,
            np.concatenate(doc_parts),
            np.concatenate(dl_parts),
            uniques,
            n_fields,
            int(doc_np.min()),
            int(doc_np.max()),
            target_run,
            run_id,
            pos_rep=np.concatenate(pos_parts) if store_positions else None,
        )

    return encode_partition


def _clear_root_files(table_dir: str) -> None:
    """Remove root-level files (not partition subdirectories) of a table —
    leftovers of a non-partitioned empty build that would otherwise make
    partition discovery fail on the next real build."""
    if os.path.isdir(table_dir):
        for f in os.listdir(table_dir):
            p = os.path.join(table_dir, f)
            if os.path.isfile(p):
                os.remove(p)


def _seg_col(key_col, n_segments: int):
    return F.pmod(
        F.crc32(F.encode(key_col.cast("string"), "utf-8")), F.lit(n_segments)
    ).cast("int")


def bucket_of(term: str, n_buckets: int) -> int:
    """Driver-side bucket computation — must match F.crc32-based bucketing."""
    import zlib

    return zlib.crc32(term.encode("utf-8")) % n_buckets


def read_if_written(spark: SparkSession, path: str) -> DataFrame | None:
    """A small index metadata table (manifests, tombstones): None when it
    was never written (the directory is absent or holds no ``.parquet``
    file), else the read. Read errors propagate: an unreadable table must
    fail the caller, not pass for an empty one."""
    if not os.path.isdir(path) or not any(
        f.endswith(".parquet") for f in os.listdir(path)
    ):
        return None
    return spark.read.parquet(path)


def read_manifests(spark: SparkSession, out_dir: str) -> DataFrame | None:
    return read_if_written(spark, os.path.join(out_dir, "manifests"))


def _read_meta(out_dir: str) -> dict | None:
    import json
    import os

    path = os.path.join(out_dir, "meta.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _layout_mismatches(
    old_meta: dict, cfg: BuildConfig, doc_key_cols, fields
) -> list[str]:
    """Config fields whose change invalidates existing segment bytes."""
    checks = [
        ("fields", old_meta.get("fields") or ["text"], list(fields)),
        (
            "store_positions",
            bool(old_meta.get("store_positions")),
            bool(cfg.store_positions),
        ),
        ("n_segments", int(old_meta.get("n_segments", 0)), cfg.n_segments),
        ("n_buckets", int(old_meta.get("n_buckets", 0)), cfg.n_buckets),
        (
            "doc_key_cols",
            list(old_meta.get("doc_key_cols") or []),
            list(doc_key_cols),
        ),
    ]
    return [f"{k}: {old!r} -> {new!r}" for k, old, new in checks if old != new]


def _wipe_index_tables(out_dir: str) -> None:
    import os
    import shutil

    for sub in (
        "postings", "doc_stats", "term_seg_df", "term_dict",
        "corpus_stats", "manifests", "tombstones",
    ):
        shutil.rmtree(os.path.join(out_dir, sub), ignore_errors=True)
    try:
        os.remove(os.path.join(out_dir, "meta.json"))
    except OSError:
        pass


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    config: BuildConfig | None = None,
    doc_key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    text_col: str = "text",
    meta_cols: tuple[str, ...] = ("role", "tool", "ts"),
    force: bool = False,
    text_cols: tuple[str, ...] | None = None,
    shingle_fields: tuple[tuple[str, int], ...] = (),
) -> dict:
    """Build (or resume) the segmented inverted index. Returns build metrics.

    ``text_cols`` indexes MULTIPLE analyzed fields (the reference maps ~10
    analyzed fields per document, reference import_dart_data.py:389-440) —
    postings carry a field id, df/avgdl are tracked per field, and queries
    name the field (``match: {corp_name: ...}``, Running-ELK.md:145-152).
    Defaults to the single ``text_col``. ``shingle_fields`` adds synthetic
    word-shingle subfields ((source_col, n) -> field "source_col._ngram"),
    the search_as_you_type 2/3-gram subfields of the reference mapping
    (import_dart_data.py:353-354,395-405).

    Resume (the working analogue of the reference's skip-if-present logic at
    import_dart_data.py:543-550 and its never-written corp_import_history):
    segments whose manifest row is ``committed`` with an unchanged input
    fingerprint are skipped; everything else is (re)built and its partitions
    atomically replaced via dynamic partition overwrite.
    """
    cfg = config or BuildConfig()
    t0 = time.time()
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    fields, field_sources = _resolve_fields(text_col, text_cols, shingle_fields)

    # Layout guard: resuming (or even force-rebuilding with dynamic partition
    # overwrite) into an index written under a DIFFERENT layout config would
    # mix incompatible segments — skipped segments keep the old field ids /
    # position layout / seg hashing while meta.json records the new one, and
    # a shrunk n_segments leaves orphan seg=... directories that dynamic
    # overwrite never touches. On mismatch: require force=True and wipe the
    # old tables so the rebuild starts from a clean layout.
    old_meta = _read_meta(out_dir)
    if old_meta is not None:
        mismatches = _layout_mismatches(old_meta, cfg, doc_key_cols, fields)
        if mismatches:
            if not force:
                raise ValueError(
                    "build_index: layout config changed for existing index at "
                    f"{out_dir!r} ({'; '.join(mismatches)}); resuming would mix "
                    "incompatible segment layouts — pass force=True to rebuild"
                )
            _wipe_index_tables(out_dir)

    base = transcripts.withColumn(
        "seg", _seg_col(F.col(doc_key_cols[0]), cfg.n_segments)
    )

    # --- per-segment input fingerprints (order-independent bit_xor) ---
    src_cols = list(dict.fromkeys(s for s, _ in field_sources))
    fp_df = base.groupBy("seg").agg(
        F.bit_xor(F.xxhash64(*doc_key_cols, *src_cols)).alias("input_fingerprint"),
        F.count("*").alias("n_docs_in"),
    )
    fingerprints = {r["seg"]: (r["input_fingerprint"], r["n_docs_in"]) for r in fp_df.collect()}

    manifests = read_manifests(spark, out_dir)
    done: set[int] = set()
    if manifests is not None and not force:
        latest = (
            manifests.filter(F.col("status") == "committed")
            .groupBy("partition_id")
            .agg(F.max_by("input_fingerprint", "created_ts").alias("fp"))
            .collect()
        )
        for r in latest:
            seg = r["partition_id"]
            if seg in fingerprints and fingerprints[seg][0] == r["fp"]:
                done.add(seg)
    todo = sorted(set(fingerprints) - done)
    if not todo and _read_meta(out_dir) is not None:
        return {"built_segments": [], "skipped_segments": sorted(done), "elapsed_sec": time.time() - t0}
    # note: an EMPTY input with no existing index falls through — the build
    # then writes a valid empty index (meta + empty tables), the ES
    # create-empty-index behavior, instead of leaving nothing behind

    # --- doc_id assignment over the FULL corpus (rank must be global) ---
    persisted: list = []
    try:
        return _build_segments(
            spark, base, out_dir, cfg, doc_key_cols, field_sources, fields,
            meta_cols, transcripts, fingerprints, todo, done, persisted, t0,
            force=force,
        )
    finally:
        for h in persisted:
            h.unpersist()


def _field_dl_col(src: str, ngram: int | None):
    """JVM token/shingle count for a field — must agree exactly with the
    Python-side tokenizers used in the encoder (feeds per-field avgdl)."""
    sz = F.size(tokenize_col(src))
    if ngram is None:
        return sz.cast("long")
    return (
        F.when(sz == 0, F.lit(0))
        .when(sz < ngram, F.lit(1))
        .otherwise(sz - (ngram - 1))
        .cast("long")
    )


def _encode_postings(
    build_docs: DataFrame,
    field_sources,
    target_run: int,
    n_buckets: int,
    store_positions: bool = False,
) -> DataFrame:
    """(doc rows with seg, doc_id, source text cols) -> encoded posting runs
    with bucket column. Shared by the full build and the append path.

    Multi-field: rows are stacked per DISTINCT source column (not per
    field), so a text column indexed both standard and as a shingle
    subfield crosses Arrow exactly once and is tokenized exactly once —
    the derived fields' token streams are built from the same token lists
    inside the encoder."""
    n_fields = len(field_sources)
    if n_fields == 1:
        enc_in = build_docs.select(
            "seg", "doc_id", F.col(field_sources[0][0]).alias("text")
        )
        encoder = _make_doc_encoder(target_run, store_positions)
    else:
        srcs = list(dict.fromkeys(s for s, _ in field_sources))
        src_fields = {
            si: [
                (fi, ngram)
                for fi, (s2, ngram) in enumerate(field_sources)
                if s2 == s
            ]
            for si, s in enumerate(srcs)
        }
        # stack is a narrow generator (no shuffle): encode stays partition-local
        pairs = ", ".join(f"{i}, `{s}`" for i, s in enumerate(srcs))
        enc_in = build_docs.selectExpr(
            "seg", "doc_id", f"stack({len(srcs)}, {pairs}) AS (src, text)"
        )
        encoder = _make_multi_doc_encoder(target_run, n_fields, src_fields, store_positions)
    encoded = enc_in.mapInPandas(encoder, schema=POSTINGS_SCHEMA)
    return encoded.withColumn(
        "bucket", F.pmod(F.crc32(F.encode("term", "utf-8")), F.lit(n_buckets)).cast("int")
    )


def _resolve_fields(text_col, text_cols, shingle_fields):
    fields = list(text_cols) if text_cols else [text_col]
    field_sources: list[tuple[str, int | None]] = [(f, None) for f in fields]
    for src, ngram in shingle_fields:
        fields.append(f"{src}._{ngram}gram")
        field_sources.append((src, int(ngram)))
    if len(fields) > MAX_FIELDS:
        raise ValueError(f"at most {MAX_FIELDS} indexed fields, got {len(fields)}")
    return fields, field_sources


def _build_segments(
    spark, base, out_dir, cfg, doc_key_cols, field_sources, fields,
    meta_cols, transcripts, fingerprints, todo, done, persisted, t0,
    force=False,
):
    phases: dict[str, float] = {}
    tp = time.time()
    assign_stats: dict = {}
    docs = assign_doc_ids(
        base,
        cfg.doc_id_partitions,
        key_cols=doc_key_cols,
        persisted=persisted,
        stats_out=assign_stats,
    )
    n_total_docs = assign_stats["n_total"]
    # dl via expression, tokens NOT cached: materializing a 10^8-element
    # array<string> column into the columnar cache costs far more than
    # re-running the JVM regex at explode time (measured: caching tokens
    # made the doc_stats and flat phases memory-bound and killed scaling).
    # docs itself is NOT cached either — the ranged input is already cached
    # inside assign_doc_ids and the numbering is deterministic given the
    # broadcast offsets, so recomputing it for the explode pass is cheaper
    # than building a second full-corpus columnar cache.
    docs = docs.withColumn("dl", _field_dl_col(*field_sources[0]))
    extra_dl_cols = []
    for i, (src, ngram) in enumerate(field_sources[1:], start=1):
        name = f"dl_f{i}"
        docs = docs.withColumn(name, _field_dl_col(src, ngram))
        extra_dl_cols.append(name)
    phases["assign_doc_ids"] = round(time.time() - tp, 3)
    tp = time.time()

    build_docs = docs.filter(F.col("seg").isin([int(s) for s in todo]))

    # --- doc_stats (metadata + length norms), per rebuilt segment ---
    stats_cols = list(
        dict.fromkeys(
            [
                "doc_id",
                *doc_key_cols,
                *[c for c in meta_cols if c in transcripts.columns],
                "dl",
                *extra_dl_cols,
                "seg",
            ]
        )
    )
    # no repartition("seg") here: partitionBy splits by seg at write time from
    # whatever partitioning docs already has — an extra shuffle just to get
    # one-file-per-seg costs more than the files it saves.
    # empty build (ZERO input docs, ES create-empty-index): a PARTITIONED
    # write of zero rows leaves no schema-bearing file behind, so write one
    # empty non-partitioned file instead (seg stays as a normal column).
    # Keyed on the input being truly empty — NOT on todo (an all-skipped
    # resume with a missing meta.json must not overwrite real tables).
    empty_build = not fingerprints
    if empty_build and not force:
        # an empty-input build writes the tables NON-partitioned, and a
        # non-partitioned overwrite is a FULL overwrite (dynamic
        # partitionOverwriteMode only protects partitioned writes). The
        # meta.json early-return normally prevents reaching here over a
        # live index, but if meta.json is missing/corrupt while the data
        # tables survive, an empty run must not destroy them.
        for table in ("doc_stats", "postings", "term_seg_df"):
            tdir = os.path.join(out_dir, table)
            if os.path.isdir(tdir) and any(
                e.startswith(("seg=", "bucket=")) or e.endswith(".parquet")
                for e in os.listdir(tdir)
            ):
                raise ValueError(
                    f"build_index: input is empty but {tdir} already holds "
                    "data (meta.json missing or unreadable?) — refusing to "
                    "overwrite; pass force=True to wipe and recreate"
                )
    if not empty_build:
        # a prior empty build left root-level files; partitioned dynamic
        # overwrite would never remove them and partition discovery would
        # then see conflicting structures — clear them first
        for table in ("doc_stats", "postings", "term_seg_df"):
            _clear_root_files(os.path.join(out_dir, table))
    stats_w = build_docs.select(*stats_cols)
    if empty_build:
        stats_w.repartition(1).write.mode("overwrite").parquet(
            f"{out_dir}/doc_stats"
        )
        phases["doc_stats_write"] = round(time.time() - tp, 3)
        tp = time.time()

    # --- local segment encode: NO token-level shuffle at all ---
    # This is the Lucene/ES ingest model made distributed: every doc-range
    # partition tokenizes, sorts, and encodes ITS OWN posting runs (run id =
    # partition id), and only the compressed blobs move in a shuffle for
    # directory layout. The raw token stream (the dominant data volume)
    # never touches the shuffle system — it crosses JVM->Arrow->Python
    # exactly once, memory-local.
    #
    # Skew: bounded by construction — a term's run within a partition holds
    # at most that partition's doc count, whatever the term's global df, so
    # no salting or occurrence pre-pass is needed. The cost is more runs
    # per term (<= one per partition); ``merge.compact_index`` consolidates
    # them exactly as Lucene's background merges consolidate flushed
    # segments, and the scorer is correct at any run granularity.
    encoded = _encode_postings(
        build_docs, field_sources, cfg.target_run, cfg.n_buckets,
        store_positions=cfg.store_positions,
    )
    if empty_build:
        encoded.repartition(1).write.mode("overwrite").parquet(
            f"{out_dir}/postings"
        )
        phases["encode_write"] = round(time.time() - tp, 3)
        tp = time.time()
    else:
        # doc_stats and postings both derive from the SAME cached ranged
        # input and are independent of each other: submit them from a small
        # thread pool so the second job's tasks back-fill executors freed by
        # the first job's tail (guide §2.6 — actions are only sequential
        # because driver code calls them sequentially).
        from concurrent.futures import ThreadPoolExecutor

        def _write_doc_stats():
            # cluster by seg before the partitioned write: without it every
            # write task emits a file into every seg dir (64 tasks × 8 segs
            # = ~512 tiny files at sf0.1 — measured 4.7 s for ONE doc_stats
            # agg scan afterwards, paid again by every filtered query).
            # maxRecordsPerFile keeps per-seg files bounded at scale.
            (
                stats_w.repartition("seg")
                .write.mode("overwrite")
                .option("maxRecordsPerFile", 8_000_000)
                .partitionBy("seg")
                .parquet(f"{out_dir}/doc_stats")
            )

        def _write_postings():
            (
                # term-sorted files: parquet row-group min/max stats on
                # `term` make the pushed In(term, ...) predicate skip whole
                # row groups
                encoded.repartition("seg", "field", "bucket")
                .sortWithinPartitions("term")
                .write.mode("overwrite")
                .partitionBy("seg", "field", "bucket")
                .parquet(f"{out_dir}/postings")
            )

        # pool threads do not inherit Spark local properties (job group,
        # scheduler pool) or session tags: the wrapper carries the caller's
        carry = inheritable_thread_target(spark)
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_stats = pool.submit(carry(_write_doc_stats))
            f_post = pool.submit(carry(_write_postings))
            f_stats.result()
            f_post.result()
        phases["doc_stats_and_encode_write"] = round(time.time() - tp, 3)
        tp = time.time()

    # --- exact per-segment df, derived from the encoded postings (tiny:
    # one row per run) — feeds resume stats and the published term_dict ---
    built_post = spark.read.parquet(f"{out_dir}/postings").filter(
        F.col("seg").isin([int(s) for s in todo])
    )
    seg_df = built_post.groupBy("seg", "field", "term").agg(F.sum("n").alias("df_p"))
    seg_df = seg_df.persist()
    persisted.append(seg_df)
    if empty_build:
        seg_df.repartition(1).write.mode("overwrite").parquet(
            f"{out_dir}/term_seg_df"
        )
        # --- publish global term_dict + corpus_stats from per-seg partials
        publish_stats(spark, out_dir, cfg.n_buckets, n_fields=len(field_sources))
    else:
        from concurrent.futures import ThreadPoolExecutor

        # the in-memory partials are the WHOLE dictionary only when no
        # segment was skipped AND no prior build left partials on disk
        # (a force-rebuild over an existing dir may leave orphan seg=
        # partitions that dynamic overwrite never touches — those must
        # keep flowing into term_dict exactly as before)
        tsd_dir = os.path.join(out_dir, "term_seg_df")
        had_prior_partials = os.path.isdir(tsd_dir) and any(
            e.startswith("seg=") for e in os.listdir(tsd_dir)
        )
        full_build = not done and not had_prior_partials

        def _write_seg_df():
            (
                seg_df.repartition("seg")
                .write.mode("overwrite")
                .partitionBy("seg")
                .parquet(f"{out_dir}/term_seg_df")
            )

        carry = inheritable_thread_target(spark)
        with ThreadPoolExecutor(max_workers=3) as pool:
            fs = [
                pool.submit(carry(_write_seg_df)),
                # corpus_stats reads the already-written doc_stats
                pool.submit(
                    carry(write_corpus_stats),
                    spark, out_dir, len(field_sources),
                ),
            ]
            if full_build:
                # the persisted partials ARE the whole dictionary — publish
                # straight from memory, concurrently with the partial write
                fs.append(
                    pool.submit(
                        carry(publish_term_dict),
                        spark, out_dir, cfg.n_buckets, seg_df=seg_df,
                    )
                )
            for f in fs:
                f.result()
            if not full_build:
                # resume keeps skipped segments' partials on disk — the
                # dictionary must union them, so publish AFTER the write
                publish_term_dict(spark, out_dir, cfg.n_buckets)
    _write_meta(out_dir, cfg, doc_key_cols, meta_cols, fields)
    phases["publish_stats"] = round(time.time() - tp, 3)
    tp = time.time()

    # --- manifests: real lineage (vs the reference's dead code) ---
    seg_metrics = {
        r["seg"]: (r["n_terms"], r["n_postings"])
        for r in seg_df.groupBy("seg")
        .agg(F.count("*").alias("n_terms"), F.sum("df_p").alias("n_postings"))
        .collect()
    }
    now = pd.Timestamp.utcnow().tz_localize(None)
    rows = []
    for seg in todo:
        fp, ndocs = fingerprints[seg]
        nt, npost = seg_metrics.get(seg, (0, 0))
        rows.append(
            (f"seg-{seg:05d}", int(seg), int(fp), int(ndocs), int(nt), int(npost), now, "committed")
        )
    if rows:  # an empty build has no segments to commit
        mpdf = pd.DataFrame(
            rows,
            columns=[
                "seg_id", "partition_id", "input_fingerprint", "n_docs",
                "n_terms", "n_postings", "created_ts", "status",
            ],
        )
        spark.createDataFrame(mpdf).coalesce(1).write.mode("append").parquet(
            f"{out_dir}/manifests"
        )

    phases["manifests"] = round(time.time() - tp, 3)
    elapsed = time.time() - t0
    return {
        "built_segments": todo,
        "skipped_segments": sorted(done),
        "phases": phases,
        "n_docs": n_total_docs,
        "elapsed_sec": elapsed,
        "turns_per_sec": n_total_docs / elapsed if elapsed > 0 else None,
    }


def _write_meta(out_dir: str, cfg: BuildConfig, doc_key_cols, meta_cols, fields) -> None:
    import json
    import os

    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(
            {
                "n_segments": cfg.n_segments,
                "n_buckets": cfg.n_buckets,
                "target_run": cfg.target_run,
                "block_size": BLOCK_SIZE,
                "k1": K1,
                "b": B,
                "doc_key_cols": list(doc_key_cols),
                "meta_cols": list(meta_cols),
                "fields": list(fields),
                "store_positions": bool(cfg.store_positions),
            },
            f,
        )


def write_corpus_stats(spark: SparkSession, out_dir: str, n_fields: int) -> None:
    """Publish per-field (n_docs, avgdl, total_tokens) — one doc_stats scan
    regardless of field count (per-field dl columns aggregated together)."""
    ds = spark.read.parquet(f"{out_dir}/doc_stats")
    aggs = [F.count("*").alias("n_docs")]
    for i in range(n_fields):
        col = "dl" if i == 0 else f"dl_f{i}"
        aggs.append(F.avg(col).alias(f"avgdl_{i}"))
        aggs.append(F.sum(col).alias(f"tot_{i}"))
    row = ds.agg(*aggs).collect()[0]
    rows = [  # NULL aggregates (empty index) publish as zeros
        (
            i,
            int(row["n_docs"]),
            float(row[f"avgdl_{i}"] or 0.0),
            int(row[f"tot_{i}"] or 0),
        )
        for i in range(n_fields)
    ]
    # pandas-backed local relation: the plain-list createDataFrame path
    # parallelizes the rows into defaultParallelism pickled slices and a
    # coalesce(1) write then pays one Python-worker hop per slice
    # (measured ~4 s for a 1-row table at local[32]; the Arrow local
    # relation is ~0.2 s)
    pdf = pd.DataFrame(
        rows, columns=["field", "n_docs", "avgdl", "total_tokens"]
    )
    spark.createDataFrame(
        pdf, "field int, n_docs long, avgdl double, total_tokens long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/corpus_stats")


def publish_term_dict(
    spark: SparkSession,
    out_dir: str,
    n_buckets: int,
    seg_df: DataFrame | None = None,
) -> None:
    """Re-derive the global (field, term, df) dictionary from per-segment
    partials. term_dict is directory-partitioned by the same crc32 term
    bucket as the postings, so a query's df lookup prunes to the buckets its
    terms hash to instead of scanning the whole dictionary. ``seg_df``
    short-circuits the disk round-trip when the caller already holds ALL
    partials in memory (the fresh full-build path)."""
    if seg_df is None:
        seg_df = spark.read.parquet(f"{out_dir}/term_seg_df")
    if "field" not in seg_df.columns:  # pre-fielded layout
        seg_df = seg_df.withColumn("field", F.lit(0))
    (
        seg_df.groupBy("field", "term")
        .agg(F.sum("df_p").alias("df"))
        # tlen feeds the fuzzy-expansion length-band pushdown
        .withColumn("tlen", F.length("term"))
        .withColumn(
            "bucket",
            F.pmod(F.crc32(F.encode("term", "utf-8")), F.lit(n_buckets)).cast("int"),
        )
        .repartition("bucket")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{out_dir}/term_dict")
    )


def publish_stats(
    spark: SparkSession, out_dir: str, n_buckets: int, n_fields: int = 1
) -> None:
    """Derive global term_dict + corpus_stats from per-segment tables."""
    publish_term_dict(spark, out_dir, n_buckets)
    write_corpus_stats(spark, out_dir, n_fields)


def append_index(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    doc_key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    text_col: str = "text",
    meta_cols: tuple[str, ...] = ("role", "tool", "ts"),
    text_cols: tuple[str, ...] | None = None,
    shingle_fields: tuple[tuple[str, int], ...] = (),
    batch_tag: str = "adhoc",
) -> dict:
    """Append a key-monotone batch to an existing index — O(batch) work,
    never O(corpus) (the working form of the reference's skip-if-present
    resume, import_dart_data.py:543-550, for a continuously-growing table).

    Contract (ENFORCED, not just documented): every key in ``batch`` must
    sort strictly after every existing key. Then existing doc_id ranks are
    unchanged, committed segments stay valid byte-for-byte, and the batch
    gets doc_ids [N, N+B). Violations raise ValueError — callers (e.g.
    ``streaming.incremental_refresh``) fall back to a full rebuild.

    Incremental updates: corpus_stats from deltas (no corpus scan beyond
    one column-pruned max-key probe), term_dict re-published from per-seg
    df partials, per-segment manifest fingerprints XOR-combined (bit_xor is
    associative, so old_fp XOR batch_fp = full-input fp — a later
    ``build_index`` resume sees consistent fingerprints and skips).

    Crash safety: a ``pending`` manifest row lands before any data file and
    the ``committed`` row after everything; a pending tag without its
    committed row marks a torn append for the caller to repair with
    ``build_index(force=True)``.
    """
    import json
    import os

    t0 = time.time()
    with open(os.path.join(index_dir, "meta.json")) as f:
        meta = json.load(f)
    fields, field_sources = _resolve_fields(text_col, text_cols, shingle_fields)
    if meta.get("fields") and list(meta["fields"]) != fields:
        raise ValueError(
            f"append fields {fields} != index fields {meta['fields']}"
        )
    n_segments = int(meta["n_segments"])
    n_buckets = int(meta["n_buckets"])
    target_run = int(meta["target_run"])
    n_fields = len(field_sources)

    key_struct = F.struct(*[F.col(c) for c in doc_key_cols])
    ds = spark.read.parquet(f"{index_dir}/doc_stats")
    ex = ds.agg(
        F.max(key_struct).alias("mx"),
        F.count("*").alias("n"),
        F.max("doc_id").alias("max_id"),
    ).collect()[0]
    base_n, max_key = int(ex["n"]), ex["mx"]
    # new ids start AFTER the max live id, not at count(*): after a
    # delete -> compact cycle doc_ids are sparse (count < max+1), and a
    # count-based base would assign ids that collide with live documents
    base_id = int(ex["max_id"]) + 1 if ex["max_id"] is not None else 0
    b = batch.agg(F.min(key_struct).alias("mn"), F.count("*").alias("cnt")).collect()[0]
    n_batch = int(b["cnt"])
    if n_batch == 0:
        return {"appended_docs": 0, "n_docs": base_n, "elapsed_sec": time.time() - t0}
    if max_key is not None and not (tuple(b["mn"]) > tuple(max_key)):
        raise ValueError(
            "append_index: monotone-append contract violated — batch min key "
            f"{tuple(b['mn'])} does not sort after existing max {tuple(max_key)}; "
            "run build_index(force=True) instead"
        )

    def _manifest_row(seg_id, pid, fp, ndocs, nterms, nposts, status):
        row = pd.DataFrame(
            [(seg_id, int(pid), int(fp), int(ndocs), int(nterms), int(nposts),
              pd.Timestamp.utcnow().tz_localize(None), status)],
            columns=["seg_id", "partition_id", "input_fingerprint", "n_docs",
                     "n_terms", "n_postings", "created_ts", "status"],
        )
        spark.createDataFrame(row).coalesce(1).write.mode("append").parquet(
            f"{index_dir}/manifests"
        )

    _manifest_row(f"append-{batch_tag}", -2, 0, n_batch, 0, 0, "pending")

    src_cols = list(dict.fromkeys(s for s, _ in field_sources))
    seg_batch = batch.withColumn("seg", _seg_col(F.col(doc_key_cols[0]), n_segments))
    persisted: list = []
    try:
        docs = assign_doc_ids(
            seg_batch, key_cols=doc_key_cols, persisted=persisted, base=base_id
        )
        docs = docs.withColumn("dl", _field_dl_col(*field_sources[0]))
        extra_dl_cols = []
        for i, (src, ngram) in enumerate(field_sources[1:], start=1):
            name = f"dl_f{i}"
            docs = docs.withColumn(name, _field_dl_col(src, ngram))
            extra_dl_cols.append(name)
        stats_cols = list(dict.fromkeys(
            ["doc_id", *doc_key_cols,
             *[c for c in meta_cols if c in batch.columns],
             "dl", *extra_dl_cols, "seg"]
        ))
        docs.select(*stats_cols).write.mode("append").partitionBy("seg").parquet(
            f"{index_dir}/doc_stats"
        )

        encoded = _encode_postings(
            docs, field_sources, target_run, n_buckets,
            store_positions=bool(meta.get("store_positions")),
        )
        encoded = encoded.persist()  # batch-sized; reused for seg_df partials
        persisted.append(encoded)
        (
            encoded.repartition("seg", "field", "bucket")
            .sortWithinPartitions("term")
            .write.mode("append")
            .partitionBy("seg", "field", "bucket")
            .parquet(f"{index_dir}/postings")
        )
        seg_df = encoded.groupBy("seg", "field", "term").agg(F.sum("n").alias("df_p"))
        seg_df.write.mode("append").partitionBy("seg").parquet(
            f"{index_dir}/term_seg_df"
        )
        publish_term_dict(spark, index_dir, n_buckets)

        # corpus_stats from deltas — O(batch)
        aggs = []
        for i in range(n_fields):
            col = "dl" if i == 0 else f"dl_f{i}"
            aggs.append(F.sum(col).alias(f"tot_{i}"))
        drow = docs.agg(*aggs).collect()[0]
        old = {
            int(r["field"]) if "field" in r.__fields__ else 0: r
            for r in spark.read.parquet(f"{index_dir}/corpus_stats").collect()
        }
        n_total = base_n + n_batch
        rows = []
        for i in range(n_fields):
            prev_tot = int(old[i]["total_tokens"]) if i in old else 0
            tot = prev_tot + int(drow[f"tot_{i}"] or 0)
            rows.append((i, n_total, tot / n_total, tot))
        spark.createDataFrame(
            pd.DataFrame(
                rows, columns=["field", "n_docs", "avgdl", "total_tokens"]
            ),
            "field int, n_docs long, avgdl double, total_tokens long",
        ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/corpus_stats")

        # per-seg fingerprints: combined = old XOR batch (order-independent)
        fp_rows = seg_batch.groupBy("seg").agg(
            F.bit_xor(F.xxhash64(*doc_key_cols, *src_cols)).alias("fp"),
            F.count("*").alias("nd"),
        ).collect()
        manifests = read_manifests(spark, index_dir)
        old_fp = {}
        old_nd = {}
        if manifests is not None:
            for r in (
                manifests.filter(F.col("status") == "committed")
                .filter(F.col("partition_id") >= 0)
                .groupBy("partition_id")
                .agg(
                    F.max_by("input_fingerprint", "created_ts").alias("fp"),
                    F.max_by("n_docs", "created_ts").alias("nd"),
                )
                .collect()
            ):
                old_fp[int(r["partition_id"])] = int(r["fp"])
                old_nd[int(r["partition_id"])] = int(r["nd"])
        for r in fp_rows:
            seg = int(r["seg"])
            combined = old_fp.get(seg, 0) ^ int(r["fp"])
            _manifest_row(
                f"seg-{seg:05d}", seg, combined,
                old_nd.get(seg, 0) + int(r["nd"]), 0, 0, "committed",
            )
        _manifest_row(f"append-{batch_tag}", -2, 0, n_batch, 0, 0, "committed")
    finally:
        for h in persisted:
            h.unpersist()

    return {
        "appended_docs": n_batch,
        "n_docs": base_n + n_batch,
        "segments_touched": sorted(int(r["seg"]) for r in fp_rows),
        "elapsed_sec": time.time() - t0,
    }

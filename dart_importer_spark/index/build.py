"""Inverted-index build: transcripts DataFrame -> segmented index tables.

The reference's entire index build happens inside Elasticsearch/Lucene (bulk
load at reference import_dart_data.py:495-499,595-599; analyzed ``text``
mappings at :346-364,383-443). This module is the from-scratch Spark-native
replacement. Layout on disk (parquet; Iceberg-compatible table shapes):

    <out>/postings/      seg=<s>/field=<f>/bucket=<b>/  one row per
                         (term, run), term-sorted: delta+varbyte doc_ids,
                         varbyte tfs + dls (+ positions), per-block
                         (first_doc, max_tf, min_dl) metadata for block-max
                         pruning; every run is written by ``pack_runs_bulk``
    <out>/doc_stats/     seg=<s>/   (doc_id, conv_id, turn_idx, role, tool,
                         ts, dl) — metadata filters + length norms
    <out>/term_dict/     bucket=<b>/  (field, term, df, max_tf, min_dl,
                         tlen) — global, df = sum of the postings' run
                         counts, max_tf / min_dl = the term's block-max
                         bound inputs; the only source of per-term
                         statistics for queries and compaction
    <out>/meta.json      the commit record (``index.commit``): layout config,
                         per-field corpus counters (n_docs, avgdl,
                         total_tokens) and per-segment lineage (FIXTURES.md
                         T3) — the working version of the reference's dead
                         lineage code (import_dart_data.py:606-625 builds a
                         history dict that is never indexed; here lineage is
                         real and drives checkpoint-resume)

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
  df (no salting pre-pass needed), and ``pack_runs_bulk`` cuts runs at
  ``target_run``. ``merge.compact_index`` consolidates per-partition runs
  exactly as Lucene background merges consolidate flushed segments; the
  scorer is correct at any run granularity, so compaction is a pure
  query-latency optimization.
- segments (seg = crc32(conv_id) % n_segments) are the resume granularity:
  a failed/partial build re-runs only segments whose lineage entry is
  missing or whose input fingerprint changed. Writes use dynamic partition
  overwrite so a re-build replaces exactly its own partitions.
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
from ..functions.tokenizer import shingle_list, tokenize_col, tokenize_series
from .commit import FORMAT_VERSION, commit_meta, lineage_entry, read_json, read_meta

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

POSTINGS_PARTS = ("seg", "field", "bucket")
# Row order of every postings file. A planned partitioned write sorts by
# the partition columns unless its input already is, which would drop a
# bare sort on `term`; leading with the partition columns keeps the files
# term-sorted, so parquet row-group min/max stats on `term` let the pushed
# In(term, ...) predicate skip whole row groups. run and min_doc make the
# order depend on the runs only.
POSTINGS_ORDER = (*POSTINGS_PARTS, "term", "run", "min_doc")


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


def group_change(*keys: np.ndarray) -> np.ndarray:
    """True at row 0 and wherever any of the (row-aligned, sorted) key
    arrays differs from the row before: the first row of every group."""
    change = np.empty(len(keys[0]), dtype=bool)
    change[:1] = True
    change[1:] = np.logical_or.reduce([k[1:] != k[:-1] for k in keys])
    return change


def pack_runs_bulk(
    keys: tuple[np.ndarray, ...],
    docs: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    target_run: int,
    poss: np.ndarray | None = None,
) -> tuple[np.ndarray, dict]:
    """The one postings-run writer: postings sorted by group (``keys``,
    compared with :func:`group_change`) and doc_id within a group become
    posting-run rows. Groups longer than ``target_run`` are cut into runs
    of at most ``target_run`` postings. ``poss`` holds each posting's tf
    token positions back to back; None or empty writes empty ``poss``
    blobs (a positionless index).

    Vectorized over MANY groups at once: one varbyte pass per stream over
    the whole partition, per-run byte-offset slicing, and ``reduceat``
    block metadata. Per-run python cost is a few us — decisive when local
    segment encoding emits one run per (partition, seg, term) and runs
    average only tens of postings.

    Block bound validity: tfn(tf, dl) = tf / (tf + k1*(1-b+b*dl/avgdl)) is
    increasing in tf and decreasing in dl, so tfn(max_tf, min_dl) is a
    conservative per-block upper bound for any avgdl — which lets us store
    avgdl-independent metadata and keep segments immutable across merges.

    Returns ``(starts, columns)``: the first posting of each run (index
    into the inputs, for the caller's group columns) and the run columns
    of ``POSTINGS_SCHEMA`` from ``n`` on, ready for DataFrame
    construction.
    """
    m = len(docs)
    starts = np.flatnonzero(group_change(*keys))
    pieces = (np.diff(np.append(starts, m)) + target_run - 1) // target_run
    first_piece = np.repeat(np.cumsum(pieces) - pieces, pieces)
    starts = np.repeat(starts, pieces) + (
        np.arange(len(first_piece)) - first_piece
    ) * target_run
    ends = np.append(starts, m)[1:]
    n_runs = len(starts)

    gaps = docs.copy()
    gaps[1:] -= docs[:-1]
    gaps[starts] = docs[starts]

    def blobs(values: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> list:
        # one varbyte pass, then each run's [lo, hi) values as bytes
        data, lens = varbyte_encode_ex(values)
        ofs = np.zeros(len(values) + 1, dtype=np.int64)
        np.cumsum(lens, out=ofs[1:])
        view = memoryview(data)
        return [bytes(view[ofs[a]:ofs[b]]) for a, b in zip(lo, hi)]

    if poss is not None and poss.size:
        # token space: posting j's positions start at sum(tfs[:j])
        tok = np.zeros(m + 1, dtype=np.int64)
        np.cumsum(tfs, out=tok[1:])
        poss_blobs = blobs(poss, tok[starts], tok[ends])
    else:
        poss_blobs = [b""] * n_runs

    nb = (ends - starts + BLOCK_SIZE - 1) // BLOCK_SIZE
    nb_ofs = np.zeros(n_runs + 1, dtype=np.int64)
    np.cumsum(nb, out=nb_ofs[1:])
    intra = np.arange(int(nb_ofs[-1])) - np.repeat(nb_ofs[:-1], nb)
    bstarts = np.repeat(starts, nb) + intra * BLOCK_SIZE
    # blocks tile the postings contiguously, so reduceat's [idx_i, idx_i+1)
    # regions are exactly the blocks
    bmax_tf = np.maximum.reduceat(tfs, bstarts).astype(np.int32)
    bmin_dl = np.minimum(
        np.minimum.reduceat(dls, bstarts), np.int64(2**31 - 1)
    ).astype(np.int32)
    bfirst = docs[bstarts]

    def per_run(blocks: np.ndarray) -> list:
        return [blocks[nb_ofs[i]:nb_ofs[i + 1]].tolist() for i in range(n_runs)]

    return starts, {
        "n": (ends - starts).tolist(),
        "min_doc": docs[starts].tolist(),
        "max_doc": docs[ends - 1].tolist(),
        "docs": blobs(gaps, starts, ends),
        "tfs": blobs(tfs, starts, ends),
        "dls": blobs(dls, starts, ends),
        "poss": poss_blobs,
        "block_first": per_run(bfirst),
        "block_max_tf": per_run(bmax_tf),
        "block_min_dl": per_run(bmin_dl),
    }


def _finish_encode(
    seg_rep: np.ndarray,
    codes: np.ndarray,
    doc_rep: np.ndarray,
    dl_rep: np.ndarray,
    pos_rep: np.ndarray | None,
    uniques: np.ndarray,
    n_fields: int,
    target_run: int,
    run_id: int,
) -> pd.DataFrame:
    """Encode tail: composite-key sort -> run-length tf -> bulk pack ->
    posting-run rows.

    ``codes`` is the joint (term, field) id (term_code * n_fields + field)
    so fields need no extra sort-key bits. One composite-key argsort instead
    of a 3-key lexsort: ~3x less memory traffic through the sort, which is
    what the encode stage is bound by. Bit budget: seg < 2^9 (asserted in
    BuildConfig), per-partition vocab*n_fields < 2^25, partition-local doc
    ordinal < 2^30. Overflowing fields would OR bits across key boundaries
    and emit a silently corrupt index, so the bounds are checked here and a
    (slower but unconditionally correct) 3-key lexsort takes over for freak
    partitions that exceed them."""
    doc_min = int(doc_rep.min())
    local_doc = (doc_rep - doc_min).astype(np.uint64)
    if len(uniques) * n_fields < (1 << 25) and int(doc_rep.max()) - doc_min < (1 << 30):
        key = (
            (seg_rep.astype(np.uint64) << np.uint64(55))
            | (codes.astype(np.uint64) << np.uint64(30))
            | local_doc
        )
        order = np.argsort(key, kind="stable")
    else:
        order = np.lexsort((local_doc, codes, seg_rep))
    seg_s, code_s, doc_s = seg_rep[order], codes[order], doc_rep[order]
    # collapse duplicate (seg, field·term, doc) rows to tf via run-length
    pstarts = np.flatnonzero(group_change(doc_s, code_s, seg_s))
    tfs = np.diff(np.append(pstarts, len(doc_s)))
    segs, code_p = seg_s[pstarts], code_s[pstarts]
    # token positions: within a posting, the stable sort preserved the
    # ascending in-document order, so the sorted stream is in token space
    starts, cols = pack_runs_bulk(
        (segs, code_p), doc_s[pstarts], tfs, dl_rep[order[pstarts]],
        target_run, None if pos_rep is None else pos_rep[order],
    )
    emit_code = code_p[starts]
    return pd.DataFrame(
        {
            "seg": segs[starts].astype("int32"),
            "field": (emit_code % n_fields).astype("int32"),
            "term": uniques[emit_code // n_fields],
            "run": np.full(len(starts), run_id, dtype=np.int32),
            **cols,
        }
    )


def _make_multi_doc_encoder(
    target_run: int, src_fields: list, store_positions: bool = False
):
    """Partition-level encoder over document rows (seg, doc_id, src0,
    src1, ...): one text column per DISTINCT source column. ``src_fields``
    lists, per source column, its derived fields [(field_id, ngram|None),
    ...]: a source indexed both standard and as an n-gram shingle subfield
    is shipped and tokenized ONCE; the shingle stream is derived from the
    same token lists (no second Arrow crossing, no second regex pass). A
    single-field index is the one-source, one-field case.

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
    fids = [fid for fields in src_fields for fid, _ in fields]
    n_fields = len(fids)

    def encode_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from itertools import chain

        from pyspark import TaskContext

        parts = [b for b in batches if len(b)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        run_id = TaskContext.get().partitionId() if TaskContext.get() else 0

        # one token list per (field, doc) row, fields in ``fids`` order
        field_toks = []
        for si, fields in enumerate(src_fields):
            toks = tokenize_series(pdf[f"src{si}"])
            for _fid, ngram in fields:
                field_toks.append(
                    toks if ngram is None
                    else toks.map(lambda t, n=ngram: shingle_list(t, n))
                )
        dl = np.concatenate(
            [t.str.len().to_numpy(dtype=np.int64) for t in field_toks]
        )
        total = int(dl.sum())
        if total == 0:
            return
        flat = np.fromiter(
            chain.from_iterable(chain.from_iterable(field_toks)),
            dtype=object, count=total,
        )
        codes, uniques = pd.factorize(flat, sort=False)
        n_docs = len(pdf)
        field_rep = np.repeat(
            np.repeat(np.asarray(fids, dtype=np.int64), n_docs), dl
        )
        pos_rep = None
        if store_positions:
            row_ofs = np.zeros(len(dl), dtype=np.int64)
            np.cumsum(dl[:-1], out=row_ofs[1:])
            pos_rep = np.arange(total, dtype=np.int64) - np.repeat(row_ofs, dl)
        yield _finish_encode(
            np.repeat(np.tile(pdf["seg"].to_numpy(dtype=np.int32), n_fields), dl),
            codes.astype(np.int64) * n_fields + field_rep,
            np.repeat(np.tile(pdf["doc_id"].to_numpy(dtype=np.int64), n_fields), dl),
            np.repeat(dl, dl),
            pos_rep, uniques, n_fields, target_run, run_id,
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


def bucket_col(col, n_buckets: int):
    """crc32(col) mod n_buckets as a Spark expression: the term bucket of
    postings and term_dict, and the segment of a document key. Agrees with
    :func:`bucket_of`."""
    return F.pmod(F.crc32(F.encode(col, "utf-8")), F.lit(n_buckets)).cast("int")


def bucket_of(term: str, n_buckets: int) -> int:
    """Driver-side :func:`bucket_col`."""
    import zlib

    return zlib.crc32(term.encode("utf-8")) % n_buckets


def read_if_written(spark: SparkSession, path: str) -> DataFrame | None:
    """A small index table (tombstones): None when it was never written
    (the directory is absent or holds no ``.parquet`` file), else the read.
    Read errors propagate: an unreadable table must fail the caller, not
    pass for an empty one."""
    if not os.path.isdir(path) or not any(
        f.endswith(".parquet") for f in os.listdir(path)
    ):
        return None
    return spark.read.parquet(path)


def _layout_mismatches(
    old_meta: dict, cfg: BuildConfig, doc_key_cols, fields
) -> list[str]:
    """Config fields whose change invalidates existing segment bytes. An
    index written under another on-disk format is a mismatch too."""
    checks = [
        ("format_version", old_meta.get("format_version"), FORMAT_VERSION),
        ("fields", old_meta.get("fields"), list(fields)),
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
    import shutil

    # term_seg_df, corpus_stats and manifests: tables earlier builds wrote
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
    segments whose lineage entry in ``meta.json`` is ``committed`` with an
    unchanged input fingerprint are skipped; everything else is (re)built
    and its partitions atomically replaced via dynamic partition overwrite.
    The build commits ``meta.json`` once, after its last data write, so a
    killed build leaves the previous record (or none) and a re-run rebuilds
    whatever that record does not vouch for. The record keeps the first
    build's ``created_ts``; a ``force`` rebuild over the same layout carries
    the earlier lineage entries (append states, compaction) forward.
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
    old_meta = read_json(os.path.join(out_dir, "meta.json"))
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
            old_meta = None

    base = transcripts.withColumn(
        "seg", bucket_col(F.col(doc_key_cols[0]).cast("string"), cfg.n_segments)
    )

    # --- per-segment input fingerprints (order-independent bit_xor) ---
    src_cols = list(dict.fromkeys(s for s, _ in field_sources))
    fp_df = base.groupBy("seg").agg(
        F.bit_xor(F.xxhash64(*doc_key_cols, *src_cols)).alias("input_fingerprint"),
        F.count("*").alias("n_docs_in"),
    )
    fingerprints = {r["seg"]: (r["input_fingerprint"], r["n_docs_in"]) for r in fp_df.collect()}

    done: set[int] = set()
    if old_meta is not None and not force:
        for seg, (fp, _n) in fingerprints.items():
            entry = old_meta["lineage"].get(f"seg-{seg:05d}")
            if entry and entry["status"] == "committed" and entry["input_fingerprint"] == fp:
                done.add(seg)
    todo = sorted(set(fingerprints) - done)
    if not todo and old_meta is not None:
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
            old_meta, force=force,
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

    Each DISTINCT source column (not each field) is one encoder input
    column, so a text column indexed both standard and as a shingle
    subfield crosses Arrow exactly once and is tokenized exactly once —
    the derived fields' token streams are built from the same token lists
    inside the encoder."""
    srcs = list(dict.fromkeys(s for s, _ in field_sources))
    src_fields = [
        [(fi, ngram) for fi, (s2, ngram) in enumerate(field_sources) if s2 == s]
        for s in srcs
    ]
    enc_in = build_docs.select(
        "seg", "doc_id",
        *[F.col(f"`{s}`").alias(f"src{i}") for i, s in enumerate(srcs)],
    )
    encoded = enc_in.mapInPandas(
        _make_multi_doc_encoder(target_run, src_fields, store_positions),
        schema=POSTINGS_SCHEMA,
    )
    return encoded.withColumn("bucket", bucket_col("term", n_buckets))


def _resolve_fields(text_col, text_cols, shingle_fields):
    fields = list(text_cols) if text_cols else [text_col]
    field_sources: list[tuple[str, int | None]] = [(f, None) for f in fields]
    for src, ngram in shingle_fields:
        fields.append(f"{src}._{ngram}gram")
        field_sources.append((src, int(ngram)))
    if len(fields) > MAX_FIELDS:
        raise ValueError(f"at most {MAX_FIELDS} indexed fields, got {len(fields)}")
    return fields, field_sources


def _dl_cols(n_fields: int) -> list[str]:
    """doc_stats length-norm column of each field id."""
    return ["dl"] + [f"dl_f{i}" for i in range(1, n_fields)]


def _doc_side(docs: DataFrame, field_sources, doc_key_cols, meta_cols, columns):
    """Numbered docs -> (docs with per-field token counts, doc_stats column
    list). Shared by the full build and the append path.

    dl via expression, tokens NOT cached: materializing a 10^8-element
    array<string> column into the columnar cache costs far more than
    re-running the JVM regex at explode time (measured: caching tokens made
    the doc_stats and flat phases memory-bound and killed scaling)."""
    dls = _dl_cols(len(field_sources))
    for name, (src, ngram) in zip(dls, field_sources):
        docs = docs.withColumn(name, _field_dl_col(src, ngram))
    stats_cols = list(dict.fromkeys(
        ["doc_id", *doc_key_cols, *[c for c in meta_cols if c in columns],
         *dls, "seg"]
    ))
    return docs, stats_cols


def _write_docs_and_postings(
    spark: SparkSession, stats_w: DataFrame, encoded: DataFrame, out_dir: str,
    mode: str,
) -> None:
    """The doc_stats and postings writes of a build (``overwrite``) or an
    append (``append``). Both derive from the SAME cached ranged input and
    are independent of each other: submit them from a small thread pool so
    the second job's tasks back-fill executors freed by the first job's tail
    (guide §2.6 — actions are only sequential because driver code calls them
    sequentially)."""
    from concurrent.futures import ThreadPoolExecutor

    def _write_doc_stats():
        # cluster by seg before the partitioned write: without it every
        # write task emits a file into every seg dir (64 tasks × 8 segs
        # = ~512 tiny files at sf0.1 — measured 4.7 s for ONE doc_stats
        # agg scan afterwards, paid again by every filtered query).
        # maxRecordsPerFile keeps per-seg files bounded at scale.
        (
            stats_w.repartition("seg")
            .write.mode(mode)
            .option("maxRecordsPerFile", 8_000_000)
            .partitionBy("seg")
            .parquet(f"{out_dir}/doc_stats")
        )

    def _write_postings():
        (
            encoded.repartition(*POSTINGS_PARTS)
            .sortWithinPartitions(*POSTINGS_ORDER)
            .write.mode(mode)
            .partitionBy(*POSTINGS_PARTS)
            .parquet(f"{out_dir}/postings")
        )

    # pool threads do not inherit Spark local properties (job group,
    # scheduler pool) or session tags: the wrapper carries the caller's
    carry = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [pool.submit(carry(_write_doc_stats)),
                   pool.submit(carry(_write_postings))]
        for f in futures:
            f.result()


def _corpus(n_docs: int, totals: list[int]) -> list[dict]:
    """The commit record's per-field BM25 corpus counters."""
    return [
        {"field": i, "n_docs": int(n_docs), "total_tokens": int(tot),
         "avgdl": tot / n_docs if n_docs else 0.0}
        for i, tot in enumerate(totals)
    ]


def corpus_counters(doc_stats: DataFrame, n_fields: int) -> list[dict]:
    """Per-field (n_docs, avgdl, total_tokens) of a doc_stats table — one
    scan regardless of field count. NULL sums (empty index) count as 0."""
    dls = _dl_cols(n_fields)
    row = doc_stats.agg(
        F.count("*").alias("n"), *[F.sum(c).alias(c) for c in dls]
    ).collect()[0]
    return _corpus(row["n"], [row[c] or 0 for c in dls])


def _layout_record(cfg: BuildConfig, doc_key_cols, meta_cols, fields) -> dict:
    return {
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
    }


def _build_segments(
    spark, base, out_dir, cfg, doc_key_cols, field_sources, fields,
    meta_cols, transcripts, fingerprints, todo, done, persisted, t0,
    old_meta, force=False,
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
    # docs itself is NOT cached — the ranged input is already cached inside
    # assign_doc_ids and the numbering is deterministic given the broadcast
    # offsets, so recomputing it for the explode pass is cheaper than
    # building a second full-corpus columnar cache.
    docs, stats_cols = _doc_side(
        docs, field_sources, doc_key_cols, meta_cols, transcripts.columns
    )
    phases["assign_doc_ids"] = round(time.time() - tp, 3)
    tp = time.time()

    build_docs = docs.filter(F.col("seg").isin([int(s) for s in todo]))

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
        for table in ("doc_stats", "postings"):
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
        for table in ("doc_stats", "postings"):
            _clear_root_files(os.path.join(out_dir, table))
    stats_w = build_docs.select(*stats_cols)

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
        stats_w.repartition(1).write.mode("overwrite").parquet(
            f"{out_dir}/doc_stats"
        )
        phases["doc_stats_write"] = round(time.time() - tp, 3)
        tp = time.time()
        encoded.repartition(1).write.mode("overwrite").parquet(
            f"{out_dir}/postings"
        )
        phases["encode_write"] = round(time.time() - tp, 3)
    else:
        _write_docs_and_postings(spark, stats_w, encoded, out_dir, "overwrite")
        phases["doc_stats_and_encode_write"] = round(time.time() - tp, 3)
    tp = time.time()

    # --- global stats, three independent reads of the written tables:
    # term_dict and the rebuilt segments' lineage counts from the postings
    # (tiny: one row per run), the corpus counters from doc_stats ---
    from concurrent.futures import ThreadPoolExecutor

    post = spark.read.parquet(f"{out_dir}/postings")
    seg_counts = (
        post.filter(F.col("seg").isin([int(s) for s in todo]))
        .groupBy("seg")
        .agg(
            F.countDistinct("field", "term").alias("n_terms"),
            F.sum("n").alias("n_postings"),
        )
    )
    carry = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=3) as pool:
        f_dict = pool.submit(carry(publish_term_dict), post, out_dir, cfg.n_buckets)
        f_corpus = pool.submit(
            carry(corpus_counters),
            spark.read.parquet(f"{out_dir}/doc_stats"), len(field_sources),
        )
        f_counts = pool.submit(carry(seg_counts.collect))
        f_dict.result()
        corpus = f_corpus.result()
        seg_metrics = {
            r["seg"]: (r["n_terms"], r["n_postings"]) for r in f_counts.result()
        }
    phases["publish_stats"] = round(time.time() - tp, 3)
    tp = time.time()

    # --- commit: lineage of the rebuilt segments + corpus counters, one
    # atomic meta.json replace after the last data write ---
    lineage = dict(old_meta["lineage"]) if old_meta else {}
    for seg in todo:
        fp, ndocs = fingerprints[seg]
        nt, npost = seg_metrics.get(seg, (0, 0))
        seg_id = f"seg-{seg:05d}"
        lineage[seg_id] = lineage_entry(
            seg_id, seg, "committed", fp, ndocs, nt, npost
        )
    commit_meta(out_dir, {
        **_layout_record(cfg, doc_key_cols, meta_cols, fields),
        "created_ts": old_meta["created_ts"] if old_meta else time.time(),
        "corpus": corpus,
        "lineage": lineage,
    })
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


def publish_term_dict(postings: DataFrame, out_dir: str, n_buckets: int) -> None:
    """Derive the global per-term statistics from ``postings``, the read of
    ``out_dir``'s postings table (callers share the read with their own
    run counts), one row per (field, term): ``df`` is the sum of ``n`` over
    the term's runs (a document holds a term once per field, and runs
    never share a posting); ``max_tf`` and ``min_dl`` are the largest
    block max tf and the smallest block min dl over those runs, the
    inputs of the term's block-max upper bound idf·tfn(max_tf, min_dl).
    The one writer of term_dict, for build, resume, append and
    compaction. term_dict is directory-partitioned by the same crc32 term
    bucket as the postings, so a df lookup reads only the buckets its
    terms hash to (``InvertedIndex._legs_stats``); files are term-sorted
    (see ``POSTINGS_ORDER``)."""
    (
        postings.groupBy("field", "term")
        .agg(
            F.sum("n").alias("df"),
            F.max(F.array_max("block_max_tf")).alias("max_tf"),
            F.min(F.array_min("block_min_dl")).alias("min_dl"),
        )
        # tlen feeds the fuzzy-expansion length-band pushdown
        .withColumn("tlen", F.length("term"))
        .withColumn("bucket", bucket_col("term", n_buckets))
        .repartition("bucket")
        .sortWithinPartitions("bucket", "term")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{out_dir}/term_dict")
    )


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

    Incremental updates: the commit record's corpus counters grow by the
    batch's deltas (no corpus scan beyond one column-pruned max-key probe),
    term_dict is re-published from the postings' run counts (one row per
    run, no blob column read), and each touched
    segment's lineage fingerprint is XOR-combined (bit_xor is associative,
    so old_fp XOR batch_fp = full-input fp — a later ``build_index`` resume
    sees consistent fingerprints and skips).

    Crash safety: ``meta.json`` is committed with ``append-<batch_tag>``
    ``pending`` before any data file and replaced by the full record, the
    tag ``committed``, after everything; a pending tag marks a torn append
    for the caller to repair with ``build_index(force=True)``.
    """
    t0 = time.time()
    meta = read_meta(index_dir)
    if meta is None:
        raise FileNotFoundError(f"append_index: no index committed at {index_dir!r}")
    fields, field_sources = _resolve_fields(text_col, text_cols, shingle_fields)
    if list(meta["fields"]) != fields:
        raise ValueError(
            f"append fields {fields} != index fields {meta['fields']}"
        )
    n_segments = int(meta["n_segments"])
    n_buckets = int(meta["n_buckets"])
    target_run = int(meta["target_run"])

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

    tag = f"append-{batch_tag}"
    lineage = dict(meta["lineage"])
    lineage[tag] = lineage_entry(tag, -2, "pending", n_docs=n_batch)
    commit_meta(index_dir, {**meta, "lineage": lineage})

    src_cols = list(dict.fromkeys(s for s, _ in field_sources))
    seg_batch = batch.withColumn(
        "seg", bucket_col(F.col(doc_key_cols[0]).cast("string"), n_segments)
    )
    persisted: list = []
    try:
        docs = assign_doc_ids(
            seg_batch, key_cols=doc_key_cols, persisted=persisted, base=base_id
        )
        docs, stats_cols = _doc_side(
            docs, field_sources, doc_key_cols, meta_cols, batch.columns
        )
        encoded = _encode_postings(
            docs, field_sources, target_run, n_buckets,
            store_positions=bool(meta["store_positions"]),
        )
        _write_docs_and_postings(
            spark, docs.select(*stats_cols), encoded, index_dir, "append"
        )
        publish_term_dict(
            spark.read.parquet(f"{index_dir}/postings"), index_dir, n_buckets
        )

        # one pass over the batch: per-seg fingerprints (combined = old XOR
        # batch, order-independent) and the corpus counters' token deltas
        dls = _dl_cols(len(field_sources))
        seg_rows = docs.groupBy("seg").agg(
            F.bit_xor(F.xxhash64(*doc_key_cols, *src_cols)).alias("fp"),
            F.count("*").alias("nd"),
            *[F.sum(c).alias(c) for c in dls],
        ).collect()
    finally:
        for h in persisted:
            h.unpersist()

    totals = [
        old["total_tokens"] + sum(int(r[c] or 0) for r in seg_rows)
        for old, c in zip(meta["corpus"], dls)
    ]
    for r in seg_rows:
        seg_id = f"seg-{int(r['seg']):05d}"
        old = lineage.get(seg_id) or lineage_entry(seg_id, r["seg"], "committed")
        lineage[seg_id] = lineage_entry(
            seg_id, r["seg"], "committed", old["input_fingerprint"] ^ int(r["fp"]),
            old["n_docs"] + int(r["nd"]),
        )
    lineage[tag] = lineage_entry(tag, -2, "committed", n_docs=n_batch)
    commit_meta(index_dir, {
        **meta, "corpus": _corpus(base_n + n_batch, totals), "lineage": lineage,
    })
    return {
        "appended_docs": n_batch,
        "n_docs": base_n + n_batch,
        "segments_touched": sorted(int(r["seg"]) for r in seg_rows),
        "elapsed_sec": time.time() - t0,
    }

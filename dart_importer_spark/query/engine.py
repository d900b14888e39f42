"""Query engine: BM25 top-k + the reference's documented query surface.

The reference issues all of these against Elasticsearch (match at
Running-ELK.md:112-119,145-152; term/bool at import_dart_data.py:521-529;
range/wildcard/fuzzy/exists at Running-ELK.md:155-294; count at
import_dart_data.py:305-321; get-by-id at :229). Here each is executed
natively on the segment tables written by ``index.build``.

Scoring is Lucene-8+ BM25 (what ES 8.6.2 uses, minus Lucene's 1-byte norm
quantization — we keep exact doc lengths):

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    tfn     = tf / (tf + k1 * (1 - b + b * dl / avgdl))      k1=1.2 b=0.75
    score   = sum over query terms of idf(t) * tfn

Physical plan, per query:
  tokenize query (driver) -> partition-pruned postings scan (bucket =
  crc32(term) % n_buckets prunes directories; term predicate pushed into
  parquet row-group stats) -> block-max skipping, then the one bulk postings
  decoder (``codec.decode_runs``, one numpy pass per blob column per Arrow
  batch) and BM25 arithmetic in mapInPandas -> groupBy(doc_id).sum (partial
  agg map-side) -> TakeOrderedAndProject(score desc, doc_id asc, k). Every
  other postings read (doc-id sets, positions, per-field dl, term/doc
  pairs) is the same decoder behind ``InvertedIndex._read_postings``.

Block-max pruning (the distributed adaptation of block-max WAND): a first
cheap pass fully scores the rarest query term's postings and takes its k-th
best contribution as a lower bound θ on the final k-th score; every block
whose upper bound  idf_t·tfn(max_tf, min_dl) + Σ_{t'≠t} UB(t')  falls below
θ is skipped without decoding. Bounds are conservative, so pruned results
are rank-identical to exhaustive scoring (property-tested).
"""

from __future__ import annotations

import json
import math
import os
import re
from typing import Any, Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.codec import decode_runs
from ..functions.localrel import lit_double_array, local_df
from ..functions.tokenizer import tokenize_text
from ..index.build import B, BLOCK_SIZE, K1, bucket_of, read_if_written

SCORED_SCHEMA = "doc_id long, score double, matched int"


def _member(docs: np.ndarray, sorted_ids: np.ndarray) -> np.ndarray:
    """Membership of ``docs`` in a SORTED id array (searchsorted + clamp) —
    the shared mask primitive of the decode kernels."""
    if not sorted_ids.size:
        return np.zeros(docs.size, dtype=bool)
    idx = np.searchsorted(sorted_ids, docs)
    idx[idx == sorted_ids.size] = 0  # past-the-end can never match [0]
    return sorted_ids[idx] == docs


def _decode_masked(
    runs: pd.DataFrame,
    dead: np.ndarray | None = None,
    allowed: np.ndarray | None = None,
    keep: np.ndarray | None = None,
) -> dict[str, np.ndarray]:
    """:func:`decode_runs` with the postings masks applied right after
    decode: ``keep`` (per posting, e.g. block-max survivors), ``dead``
    (sorted tombstoned or excluded ids) and ``allowed`` (sorted ids that
    pass the filter). Positions follow their posting."""
    dec = decode_runs(runs)
    if dead is not None:
        m = ~_member(dec["doc_id"], dead)
        keep = m if keep is None else keep & m
    if allowed is not None:
        m = _member(dec["doc_id"], allowed)
        keep = m if keep is None else keep & m
    if keep is None or keep.all():
        return dec
    out = {c: v[keep] for c, v in dec.items() if c != "pos"}
    if "pos" in dec:
        pos = dec["pos"]
        out["pos"] = pos[np.repeat(keep, dec["tf"])] if pos.size else pos
    return out


def categorize_key(col: Column, max_tokens: int = 5) -> Column:
    """The deterministic ``ml_standard``-style categorization key shared
    by :meth:`InvertedIndex.categorize_text` and ES|QL ``CATEGORIZE``:
    lowercase, split on non-alphanumerics, drop digit-bearing tokens,
    join the first ``max_tokens`` stable tokens. One shared definition so
    the agg and the grouping function can never drift."""
    toks = F.filter(
        F.split(F.lower(col), "[^a-z0-9]+"),
        lambda x: (x != "") & ~x.rlike("[0-9]"),
    )
    return F.array_join(F.slice(toks, 1, max_tokens), " ")


def _wildcard_to_regexp(pattern: str) -> str:
    """ES wildcard pattern (* = any run, ? = any char) as an anchored-later
    regexp body; every other char is matched literally."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "".join(out)


def _idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _terms_order(order: tuple[str, str] | None, by: str) -> list[Column]:
    """ES terms-agg ``order`` -> sort columns. '_count' and '_key' are the
    ES builtins; any other key names a sibling metric column (facet_stats).
    The bucket key always breaks ties ascending, so output order is total
    and oracle-reproducible."""
    if order is None:
        return [F.desc("doc_count"), F.asc(by)]
    key, direction = order
    if direction not in ("asc", "desc"):
        raise ValueError(f"terms order: direction must be asc|desc, got {direction!r}")
    col = {"_count": "doc_count", "_key": by}.get(key, key)
    lead = F.asc(col) if direction == "asc" else F.desc(col)
    return [lead, F.asc(by)] if col != by else [lead]


def _betainc_cf(a: float, b: float, x: float) -> float:
    """Continued fraction for the regularized incomplete beta (modified
    Lentz evaluation of the standard even/odd coefficient recurrence
    d_{2m} = m(b-m)x / ((a+2m-1)(a+2m)),
    d_{2m+1} = -(a+m)(a+b+m)x / ((a+2m)(a+2m+1)))."""
    tiny, eps = 1e-300, 3e-14
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c = 1.0
    d = 1.0 - qab * x / qap
    if abs(d) < tiny:
        d = tiny
    d = 1.0 / d
    h = d
    for m in range(1, 300):
        m2 = 2 * m
        coef = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + coef * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + coef / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        h *= d * c
        coef = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + coef * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + coef / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < eps:
            break
    return h


def _betainc_reg(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b), the t/F-distribution CDF
    kernel. Symmetry I_x(a,b) = 1 - I_{1-x}(b,a) keeps the continued
    fraction in its fast-convergence region."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_front = (
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        + a * math.log(x) + b * math.log1p(-x)
    )
    front = math.exp(ln_front)
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betainc_cf(a, b, x) / a
    return 1.0 - front * _betainc_cf(b, a, 1.0 - x) / b


def _student_t_sf2(t: float, df: float) -> float:
    """Two-tailed Student's t p-value: P(|T_df| >= |t|) =
    I_{df/(df+t^2)}(df/2, 1/2)."""
    return _betainc_reg(df / 2.0, 0.5, df / (df + t * t))


def _tfn(tf, dl, avgdl: float):
    return tf / (tf + K1 * (1.0 - B + B * (dl / avgdl)))


def _surviving_blocks(runs, idf_map, ubs, ub_total, theta, avgdl):
    """Block-max skipping ahead of decode: a block survives when
    idf·tfn(max_tf, min_dl) + the other terms' bounds can reach θ. Returns
    the runs holding a surviving block and a per-posting keep mask over
    them; block of a posting = (position in run) // BLOCK_SIZE."""
    n = runs["n"].to_numpy(dtype=np.int64)
    nb = (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    t_idf = runs["term"].map(idf_map).to_numpy(dtype=np.float64)
    others = ub_total - runs["term"].map(lambda t: ubs.get(t, 0.0)).to_numpy(
        dtype=np.float64
    )
    bmax_tf = np.concatenate(runs["block_max_tf"].tolist()).astype(np.float64)
    bmin_dl = np.concatenate(runs["block_min_dl"].tolist()).astype(np.float64)
    block_ub = np.repeat(t_idf, nb) * _tfn(bmax_tf, bmin_dl, avgdl)
    block_keep = block_ub + np.repeat(others, nb) >= theta
    first_block = np.cumsum(nb) - nb
    in_run = np.arange(int(n.sum()), dtype=np.int64) - np.repeat(np.cumsum(n) - n, n)
    keep = block_keep[np.repeat(first_block, n) + in_run // BLOCK_SIZE]
    live = np.logical_or.reduceat(block_keep, first_block)
    return runs[live], keep[np.repeat(live, n)]


class InvertedIndex:
    """Handle over an on-disk index directory produced by ``build_index``.

    ``id_push_budget`` bounds how many doc_ids (tombstones or bool-filter
    allow-lists) are collected and broadcast into the scoring kernel; larger
    sets stay distributed (anti-/semi-join after aggregation) so the driver
    never materializes unbounded id sets.
    """

    def __init__(
        self, spark: SparkSession, index_dir: str, id_push_budget: int = 1_000_000
    ):
        self.spark = spark
        self.dir = index_dir
        self.id_push_budget = id_push_budget
        # θ-bootstrap pruning pays one extra Spark job (fully scoring the
        # rarest term) to skip decode work on the other terms' blocks; when
        # the candidate postings are smaller than this, exhaustive decode is
        # cheaper than the job itself, so the bootstrap is skipped (θ=0 —
        # pruned ≡ exhaustive, so results are unchanged either way). The
        # default is scale-adaptive by construction: big corpora exceed it.
        self.prune_min_postings = int(
            os.environ.get("DIS_PRUNE_MIN_POSTINGS", "65536")
        )
        # lazy DataFrame handles for the immutable segment tables: reusing
        # the resolved reader skips re-listing the table's files and
        # re-reading parquet footers on every query against this handle
        # (plan-level only — every action still scans parquet)
        self._df_cache: dict[str, DataFrame] = {}
        with open(os.path.join(index_dir, "meta.json")) as f:
            self.meta = json.load(f)
        self.n_buckets = int(self.meta["n_buckets"])
        self.fields: list[str] = list(self.meta.get("fields") or ["text"])
        rows = spark.read.parquet(f"{index_dir}/corpus_stats").collect()
        if "field" in rows[0].__fields__:
            self.avgdl_by_field = {int(r["field"]): float(r["avgdl"]) for r in rows}
        else:  # pre-fielded layout: one row, field 0
            self.avgdl_by_field = {0: float(rows[0]["avgdl"])}
        self.n_docs = int(rows[0]["n_docs"])
        self.avgdl = self.avgdl_by_field[0]
        # ES _profile parity: topk() records which physical plan ran (mask
        # pushdown vs distributed fallback, θ) here after every call
        self.last_profile: dict = {}

    def _fid(self, field: str | int | None) -> int:
        """Resolve a field name to its postings field id (default: field 0,
        the primary analyzed column)."""
        if field is None:
            return 0
        if isinstance(field, int):
            return field
        try:
            return self.fields.index(field)
        except ValueError:
            raise KeyError(
                f"unknown field {field!r}; indexed fields: {self.fields}"
            ) from None

    def _bounded_ids(self, df: DataFrame | None) -> np.ndarray | None:
        """Collect a doc_id column as a sorted numpy array iff it fits the
        push budget; None means 'too big, keep it distributed'."""
        if df is None:
            return None
        rows = df.select("doc_id").take(self.id_push_budget + 1)
        if len(rows) > self.id_push_budget:
            return None
        return np.sort(np.array([r["doc_id"] for r in rows], dtype=np.int64))

    # ------------------------------------------------------------------ scans
    def _tombstones(self) -> DataFrame | None:
        """Deleted doc_ids awaiting physical drop at the next compaction —
        ES-style delete semantics (deleted docs vanish from results at once;
        df/N/avgdl stay stale until merge, as in Lucene). A PIT view
        (:meth:`with_pit`) pins this to the tombstone files that existed
        when the PIT was opened, so deletes issued after the snapshot do
        not affect its results."""
        pit = getattr(self, "_pit", None)
        if pit is not None:
            if not pit:
                return None
            missing = [f for f in pit if not os.path.exists(f)]
            if missing:
                raise RuntimeError(
                    f"point-in-time expired: {len(missing)} tombstone "
                    f"file(s) were dropped by compaction since open_pit() "
                    f"(first: {missing[0]})"
                )
            return (
                self.spark.read.parquet(*pit).select("doc_id").distinct()
            )
        tomb = read_if_written(self.spark, os.path.join(self.dir, "tombstones"))
        return None if tomb is None else tomb.select("doc_id").distinct()

    def open_pit(self) -> dict:
        """ES ``open point in time``: freeze the search view. Segments are
        immutable and deletes are append-only tombstone files, so the
        whole snapshot is just the LIST of tombstone files that exist
        right now (the Iceberg-snapshot reading: a PIT pins the delete-
        file manifest). Returns an id dict for :meth:`with_pit`. The
        snapshot stays valid until ``merge.compact_index`` physically
        drops tombstones — a PIT search after that raises with an
        explicit 'expired' error (ES PITs likewise die when their
        segment refs are released)."""
        path = os.path.join(self.dir, "tombstones")
        files: list[str] = []
        if os.path.isdir(path):
            files = sorted(
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
        return {"tombstone_files": files}

    def with_pit(self, pit: dict) -> "InvertedIndex":
        """A view of this index whose live set is pinned to ``pit`` (from
        :meth:`open_pit`): deletes issued after the snapshot are invisible,
        so search_after pagination stays consistent across concurrent
        delete_by_query — the ES PIT + search_after contract."""
        import copy

        view = copy.copy(self)
        view._pit = list(pit.get("tombstone_files", []))
        return view

    def _live(self, df: DataFrame) -> DataFrame:
        tomb = self._tombstones()
        if tomb is None:
            return df
        return df.join(tomb, "doc_id", "left_anti")

    def _read_table(self, name: str) -> DataFrame:
        """Memoized reader for the index's immutable tables (postings /
        doc_stats / term_dict). Tombstones are NOT cached — they are the
        one table queries may append to between calls."""
        df = self._df_cache.get(name)
        if df is None:
            df = self.spark.read.parquet(f"{self.dir}/{name}")
            self._df_cache[name] = df
        return df

    def _doc_stats_raw(self) -> DataFrame:
        """doc_stats WITHOUT the tombstone anti-join (callers that manage
        dead docs themselves), runtime fields applied."""
        ds = self._read_table("doc_stats")
        for name, expr in getattr(self, "_runtime", {}).items():
            ds = ds.withColumn(name, F.expr(expr))
        return ds

    def doc_stats(self) -> DataFrame:
        return self._live(self._doc_stats_raw())

    # internal columns the engine's joins/scoring depend on — a runtime
    # field may shadow any USER meta column (ES runtime fields shadow
    # mapped fields of the same name) but never these
    _PROTECTED_COLS = frozenset({"doc_id", "seg", "dl"})

    def with_runtime_fields(self, mappings: dict[str, str]) -> "InvertedIndex":
        """ES ``runtime_mappings``: fields computed at query time instead of
        stored — here each script is a **Spark SQL expression** over the
        stored doc columns (the engine's scripting dialect, in place of
        Painless), compiled once with ``F.expr`` into the Catalyst plan.

        Returns a cheap VIEW of this index (same directory, same segment
        tables, nothing written): ``doc_stats()`` appends the expressions
        as projected columns, so every consumer — filter context, the
        aggregation family, ``sort``, ``exists``, ``terms_enum``,
        ``_source`` — sees runtime fields exactly like stored ones. This
        is the Spark-native reading of ES's feature: a runtime field IS a
        projection, it participates in whole-stage codegen, and filters on
        it are evaluated inside the same scan (they cannot push to parquet
        row-group stats — the honest cost, identical to ES, where runtime
        fields are computed per doc at query time).

        Expressions may reference earlier runtime fields (evaluated in
        mapping order). Shadowing a stored meta column is allowed (ES
        semantics — the runtime value wins in every consumer). Shadowing
        an engine-internal column (doc_id/seg/dl) or an INDEXED text
        field raises: scoring clauses read postings, not doc_stats, so a
        shadow of an indexed field could not win consistently — half the
        surface (aggs/filters) would see the runtime value while
        match/phrase/terms_enum kept reading the index, which is worse
        than refusing. Invalid expressions fail HERE, not at first use."""
        import copy

        bad = set(mappings) & (self._PROTECTED_COLS | set(self.fields))
        if bad:
            raise ValueError(
                f"runtime fields may not shadow engine or indexed-field "
                f"columns: {sorted(bad)}"
            )
        view = copy.copy(self)
        view._runtime = {**getattr(self, "_runtime", {}), **{
            str(k): str(v) for k, v in mappings.items()
        }}
        try:
            view.doc_stats().schema  # force parse + analysis eagerly
        except Exception as e:
            raise ValueError(f"runtime field does not compile: {e}") from e
        return view

    def term_dict(self) -> DataFrame:
        return self._read_table("term_dict")

    def postings(self) -> DataFrame:
        post = self._read_table("postings")
        if "field" not in post.columns:  # pre-fielded layout
            post = post.withColumn("field", F.lit(0))
        if "poss" not in post.columns:  # pre-positions layout
            post = post.withColumn("poss", F.lit(b""))
        return post

    def _candidate_postings(self, terms: Sequence[str], fid: int = 0) -> DataFrame:
        buckets = sorted({bucket_of(t, self.n_buckets) for t in terms})
        return self.postings().filter(
            (F.col("field") == fid)
            & F.col("bucket").isin(buckets)
            & F.col("term").isin(list(terms))
        )

    def term_stats(self, terms: Sequence[str], field=None) -> dict[str, int]:
        buckets = sorted({bucket_of(t, self.n_buckets) for t in terms})
        td = self.term_dict()
        if "bucket" in td.columns:  # bucket-partitioned dictionary: prune dirs
            td = td.filter(F.col("bucket").isin(buckets))
        if "field" in td.columns:
            td = td.filter(F.col("field") == self._fid(field))
        rows = td.filter(F.col("term").isin(list(terms))).collect()
        return {r["term"]: int(r["df"]) for r in rows}

    # ------------------------------------------------------- match / BM25 topk
    def topk(
        self,
        query: str,
        k: int | None = 10,
        mode: str = "or",
        filters: Column | None = None,
        prune: bool = True,
        with_meta: bool = False,
        round_scores: int | None = None,
        boosts: dict[str, float] | None = None,
        offset: int = 0,
        field: str | int | None = None,
        should: str | None = None,
        must_not: str | None = None,
        min_should_match: int | None = None,
        search_after: tuple | None = None,
        dfs_stats: dict | None = None,
        term_weights: dict[str, float] | None = None,
    ) -> DataFrame:
        """ES ``match`` (mode='or') / ``bool must`` (mode='and') -> top-k.

        ``term_weights`` REPLACES the idf map: a term's contribution
        becomes weight × tf-saturation (idf drops out) — the sparse
        dot-product scoring of :meth:`sparse_vector`. Terms without a
        weight are dropped. Pruning bounds (ubs, θ) derive from the
        overridden map, so pruned ≡ exhaustive is preserved exactly as
        under ``dfs_stats``.

        ``dfs_stats`` overrides the scoring statistics with global ones
        (``{"df": {term: df}, "n_docs": N, "avgdl": a}``) — the fetch
        phase of ``dfs_query_then_fetch`` (see :func:`multi_index_topk`).

        ``filters`` is a Column predicate over doc_stats columns (the
        non-scoring ``filter`` clauses of an ES bool query, e.g.
        role/tool/ts range — Q4/Q7/Q9 of the reference query surface).
        ``boosts`` multiplies a term's score contribution (ES ``term`` boost,
        Running-ELK.md:284-294). ``offset`` skips leading hits (the
        reference's page_no/page_count pagination, import_dart_data.py:73-76).
        ``field`` names the analyzed column to match against (ES
        ``match: {corp_name: ...}``, Running-ELK.md:145-152); BM25 uses that
        field's postings, df, dl and avgdl. Default: the primary field.
        ``should`` adds OPTIONAL scoring clauses (ES ``bool: {must, should}``
        with must present: should terms contribute score but never gate
        matching). Pruning is disabled with should present (θ would need the
        optional terms' bounds folded in).
        ``must_not`` EXCLUDES every document containing any of its terms (the
        third leg of the ES bool query, non-scoring). Term-level exclusion is
        a posting-scan anti-set: the excluded doc_ids ride the same mask
        machinery as tombstones (pushed below scoring when they fit the
        budget, distributed anti-join otherwise).
        ``min_should_match`` (mode='or') keeps only docs matching at least
        that many distinct query terms (ES minimum_should_match on should
        clauses). θ-pruning is disabled for msm > 1: the bootstrap bound from
        the rarest term's postings assumes a single-term match can qualify.
        ``search_after`` = (score, doc_id) from the previous page's last hit:
        keyset pagination (ES search_after), mutually exclusive with
        ``offset``. Pass the ROUNDED score when round_scores is set. Pruning
        is disabled (θ preserves only the global top ranks, and the cursor
        may sit below them).
        """
        if search_after is not None and offset:
            raise ValueError("topk: search_after and offset are exclusive")
        if k is None:
            # k=None: ALL scored matches, UNSORTED — for consumers that
            # re-partition anyway (sampler windows, rank fusion); skipping
            # the global sort+limit matters when the match set is the
            # corpus. Pruning needs a k to bound the threshold, so it is
            # meaningless here.
            if prune:
                raise ValueError("topk: k=None requires prune=False")
            if offset or search_after is not None:
                raise ValueError("topk: k=None has no pagination")
        # reset BEFORE any early return: a reader of the ES _profile-parity
        # record must never see the previous query's plan after an
        # empty-analysis / unknown-term call
        self.last_profile = {}
        fid = self._fid(field)
        avgdl = self.avgdl_by_field[fid]
        terms = sorted(set(self._analyze(query, field)))
        if not terms:
            return self._empty_scored(with_meta)
        # one job over the bucket-pruned candidate postings yields df
        # (= sum of run lengths) AND the per-term block-max upper bounds —
        # instead of a term_dict scan plus a second bounds pass
        stat_rows = (
            self._candidate_postings(terms, fid)
            .groupBy("term")
            .agg(
                F.sum("n").alias("df"),
                F.max(F.array_max("block_max_tf")).alias("mtf"),
                F.min(F.array_min("block_min_dl")).alias("mdl"),
            )
            .collect()
        )
        dfs = {r["term"]: int(r["df"]) for r in stat_rows}
        terms = [t for t in terms if t in dfs]
        if not terms:
            return self._empty_scored(with_meta)
        if dfs_stats is not None:
            # dfs_query_then_fetch: score with the caller's GLOBAL
            # statistics (cross-index df / doc count / avgdl) instead of
            # this index's local ones. Pruning bounds (ubs, θ) derive
            # from the same overridden idf/avgdl below, so pruned ≡
            # exhaustive is preserved under the override.
            avgdl = float(dfs_stats.get("avgdl", avgdl))
            g_df = dfs_stats.get("df") or {}
            g_n = int(dfs_stats.get("n_docs", self.n_docs))
            idf = {t: _idf(g_n, int(g_df.get(t, dfs[t]))) for t in terms}
        else:
            idf = {t: _idf(self.n_docs, dfs[t]) for t in terms}
        if boosts:
            idf = {t: w * float(boosts.get(t, 1.0)) for t, w in idf.items()}
        if term_weights is not None:
            idf = {t: float(term_weights[t]) for t in terms if t in term_weights}
            terms = [t for t in terms if t in idf]
            if not terms:
                return self._empty_scored(with_meta)
        ubs = {
            r["term"]: idf[r["term"]]
            * _tfn(float(r["mtf"]), float(r["mdl"]), avgdl)
            for r in stat_rows
            if r["term"] in idf
        }

        # --- doc-id masks, pushed below scoring when they fit the budget ---
        # ES applies bool filters (and deletes) BEFORE scoring; masking doc
        # ids inside the decode kernel avoids decoding+scoring postings that
        # a selective filter would discard, and keeps θ-pruning valid in the
        # presence of tombstones (dead docs must not inflate θ). must_not
        # exclusions join the same dead set: term-level exclusion needs a
        # posting scan, not a doc_stats predicate.
        dead_df = self._tombstones()
        if must_not is not None:
            mn_terms = sorted(set(self._analyze(must_not, field)))
            if mn_terms:
                excl = self._docs_for_terms(mn_terms, fid).select("doc_id")
                dead_df = (
                    excl
                    if dead_df is None
                    else dead_df.select("doc_id").unionByName(excl).distinct()
                )
        dead_ids = self._bounded_ids(dead_df)
        dead_pushed = dead_ids is not None  # None = too many, stay distributed
        allowed_df = None
        allowed_ids = None
        if filters is not None:
            allowed_df = self._doc_stats_raw().filter(filters).select("doc_id")
            allowed_ids = self._bounded_ids(allowed_df)

        # pruning must preserve ranks up to offset+k (k=None disables
        # pruning at the guard above; the sentinel is never used)
        need = (k + offset) if k is not None else 0
        msm = int(min_should_match or 0)
        theta = 0.0
        if (
            prune and should is None and mode == "or" and len(terms) > 1
            and msm <= 1 and search_after is None
        ):
            theta = self._threshold_estimate(
                terms, dfs, idf, need, dead_ids, allowed_ids, allowed_df,
                fid=fid, avgdl=avgdl, dead_df=dead_df,
            )
        # ES _profile-style plan record: which physical strategy actually ran
        # (operators can't see the budget fallback from results alone)
        self.last_profile = {
            "terms": list(terms),
            "theta": theta,
            "pruned": theta > 0.0,
            "dead_pushed": dead_pushed,
            "dead_present": dead_df is not None,
            "allowed_pushed": allowed_ids is not None,
            "filter_present": filters is not None,
        }

        scored = self._score_terms(
            terms, idf, theta=theta, ubs=ubs, dead=dead_ids, allowed=allowed_ids,
            fid=fid, avgdl=avgdl,
        )
        agg = scored.groupBy("doc_id").agg(
            F.sum("score").alias("score"), F.sum("matched").alias("n_matched")
        )
        if mode == "and":
            agg = agg.filter(F.col("n_matched") == len(terms))
        elif msm > 1:
            agg = agg.filter(F.col("n_matched") >= msm)
        agg = agg.select("doc_id", F.col("score"))
        if should is not None:
            s_terms = [
                t for t in sorted(set(self._analyze(should, field)))
                if t not in set(terms)
            ]
            s_scores = self._bm25_scores(s_terms, fid) if s_terms else None
            if s_scores is not None:
                s_scores = s_scores.withColumnRenamed("score", "s_score")
                agg = agg.join(s_scores, "doc_id", "left").select(
                    "doc_id",
                    (F.col("score") + F.coalesce(F.col("s_score"), F.lit(0.0))).alias("score"),
                )
        if not dead_pushed and dead_df is not None:
            # too many dead/excluded ids for the push budget: distributed
            # anti-join after the partial agg (covers tombstones + must_not)
            agg = agg.join(dead_df.select("doc_id"), "doc_id", "left_anti")
        if round_scores is not None:
            # stabilizes LIMIT-boundary tie-breaks against an external oracle
            # whose float summation order differs in the last ulp
            agg = agg.withColumn("score", F.round("score", round_scores))
        if filters is not None and allowed_ids is None:
            agg = agg.join(allowed_df, "doc_id", "left_semi")
        if search_after is not None:
            sa_s, sa_d = float(search_after[0]), int(search_after[1])
            agg = agg.filter(
                (F.col("score") < sa_s)
                | ((F.col("score") == sa_s) & (F.col("doc_id") > sa_d))
            )
        if k is None:
            if with_meta:
                return agg.join(self.doc_stats(), "doc_id", "inner")
            return agg
        top = agg.orderBy(F.desc("score"), F.asc("doc_id"))
        if offset:
            top = top.offset(offset)
        top = top.limit(k)
        if with_meta:
            top = top.join(self.doc_stats(), "doc_id", "inner").orderBy(
                F.desc("score"), F.asc("doc_id")
            )
        return top

    def _empty_scored(self, with_meta: bool) -> DataFrame:
        base = local_df(self.spark, [], "doc_id long, score double")
        if with_meta:
            return base.join(self.doc_stats(), "doc_id", "inner")
        return base

    def _analyze(self, query: str, field: str | int | None) -> list[str]:
        """Query-time analyzer matched to the field's index-time analyzer:
        shingle subfields (name '<src>._<n>gram') shingle the query terms,
        everything else uses the pinned standard tokenizer."""
        import re as _re

        from ..functions.tokenizer import shingle_text

        name = self.fields[self._fid(field)] if field is not None else None
        m = _re.search(r"\._(\d+)gram$", name) if name else None
        if m:
            return shingle_text(query, int(m.group(1)))
        return tokenize_text(query)

    def _threshold_estimate(
        self, terms, dfs, idf, need, dead_ids, allowed_ids, allowed_df,
        fid: int = 0, avgdl: float | None = None,
        dead_df: DataFrame | None = None,
    ) -> float:
        """Lower bound θ on the final ``need``-th score, computed
        DISTRIBUTEDLY: fully score the rarest term (fewest postings) through
        the same masked kernel, take its need-th best single-term
        contribution via orderBy/limit — at most ``need`` rows ever reach
        the driver, postings never do. Masks keep θ valid: a tombstoned or
        filtered-out doc must not inflate θ above the true need-th live
        score (which would prune blocks holding real top-k docs)."""
        # tiny candidate sets: the bootstrap job costs more than the decode
        # work it could skip — exhaustive scoring (θ=0) is rank-identical
        if sum(dfs[t] for t in terms) < self.prune_min_postings:
            return 0.0
        rarest = min(terms, key=lambda t: dfs[t])
        if dfs[rarest] < need:
            return 0.0
        scored = self._score_terms(
            [rarest], {rarest: idf[rarest]}, dead=dead_ids, allowed=allowed_ids,
            fid=fid, avgdl=avgdl,
        )
        if dead_ids is None:
            drop = dead_df if dead_df is not None else self._tombstones()
            if drop is not None:
                scored = scored.join(drop.select("doc_id"), "doc_id", "left_anti")
        if allowed_df is not None and allowed_ids is None:
            scored = scored.join(allowed_df, "doc_id", "left_semi")
        rows = scored.select("score").orderBy(F.desc("score")).limit(need).collect()
        if len(rows) < need:
            return 0.0
        return float(rows[-1]["score"])

    def _score_terms(
        self,
        terms,
        idf,
        theta: float = 0.0,
        ubs: dict[str, float] | None = None,
        dead: np.ndarray | None = None,
        allowed: np.ndarray | None = None,
        fid: int = 0,
        avgdl: float | None = None,
        extra_ub: float = 0.0,
        keep_term: bool = False,
    ) -> DataFrame:
        """Vectorized decode + BM25 partial scoring with block-max skipping.
        ``keep_term=True`` emits the contributing term per row (the batched
        multi-query path joins contributions back to per-query term sets).

        ``dead`` / ``allowed`` are sorted doc_id arrays broadcast into the
        kernel: postings for tombstoned (dead) or filtered-out (not in
        allowed) docs are dropped right after decode, before any scoring or
        shuffle — the distributed form of ES's filter-before-score.
        ``extra_ub`` folds OTHER scoring legs' summed upper bounds into the
        pruning inequality (multi_match / search_as_you_type: a block here
        survives if its bound + this field's other terms + every other
        leg's bound could still reach θ)."""
        cand = self._candidate_postings(terms, fid)
        avgdl = self.avgdl_by_field[fid] if avgdl is None else avgdl
        idf_map = dict(idf)
        # per-term global upper bounds for the pruning inequality
        ubs = dict(ubs or {})
        ub_total = (sum(ubs.values()) + extra_ub) if theta > 0.0 else 0.0
        bc_dead = self._bc_ids(dead if dead is not None and dead.size else None)
        bc_allowed = self._bc_ids(allowed)

        def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            dead_ids = bc_dead.value if bc_dead is not None else None
            allowed_ids = bc_allowed.value if bc_allowed is not None else None
            for pdf in batches:
                keep = None
                if theta > 0.0 and len(pdf):
                    pdf, keep = _surviving_blocks(
                        pdf, idf_map, ubs, ub_total, theta, avgdl
                    )
                dec = _decode_masked(pdf, dead_ids, allowed_ids, keep)
                run = dec["run"]
                if not run.size:
                    continue
                t_idf = pdf["term"].map(idf_map).to_numpy(dtype=np.float64)
                cols = {
                    "doc_id": dec["doc_id"],
                    "score": t_idf[run] * _tfn(
                        dec["tf"].astype(np.float64),
                        dec["dl"].astype(np.float64),
                        avgdl,
                    ),
                    "matched": np.ones(run.size, dtype=np.int32),
                }
                if keep_term:
                    cols = {"term": pdf["term"].to_numpy(dtype=object)[run], **cols}
                yield pd.DataFrame(cols)

        schema = ("term string, " + SCORED_SCHEMA) if keep_term else SCORED_SCHEMA
        blocks = ["block_max_tf", "block_min_dl"] if theta > 0.0 else []
        return cand.select("term", "n", "docs", "tfs", "dls", *blocks).mapInPandas(
            score_batches, schema=schema
        )

    # ------------------------------------------------- non-scoring query ops
    def match_all(self) -> DataFrame:
        """ES match_all (import_dart_data.py:320) — full doc scan."""
        return self.doc_stats()

    def count(self, filters: Column | None = None) -> int:
        """ES _count (import_dart_data.py:305-321, Running-ELK.md:214-218)."""
        ds = self.doc_stats()
        if filters is not None:
            ds = ds.filter(filters)
        return ds.count()

    def analyze(
        self, text: str, field: str | int | None = None
    ) -> DataFrame:
        """ES ``_analyze``: the (token, position) stream the field's
        analyzer emits for ``text`` — the pinned standard tokenizer, or
        the field's shingle analyzer for ``*._Ngram`` subfields."""
        toks = self._analyze(text, field)
        return local_df(self.spark, 
            [(t, i) for i, t in enumerate(toks)], "token string, position int"
        )

    def count_query(
        self,
        query: str | None,
        mode: str = "or",
        field: str | int | None = None,
        filters: Column | None = None,
        exclude: Sequence[tuple[str, str | int | None]] = (),
    ) -> int:
        """ES _count WITH a query body (the reference counts its indices
        this way: import_dart_data.py:305-321, Running-ELK.md:214-218):
        the match-set size (docs containing any/all query terms),
        optionally under a metadata filter — no scoring, no top-k, just
        the distinct-doc count. ``query=None`` is match_all (every live
        doc); ``exclude`` is the bool must_not text context — (query,
        field) pairs whose match sets are subtracted (a doc is excluded
        if it contains ANY analyzed term of ANY pair, exactly the
        constant-score exclusion _search's must_not leg applies)."""
        return self.match_docs(
            query, mode=mode, field=field, filters=filters, exclude=exclude
        ).count()

    def dfs_term_stats(
        self, query: str, field: str | int | None = None
    ) -> tuple[dict[str, int], int, float]:
        """The DFS phase of ES ``dfs_query_then_fetch``: this index's
        ``({term: df}, n_docs, avgdl)`` for the analyzed query — one
        bucket-pruned term-dictionary lookup (df is a dictionary column;
        no postings touched), O(#query terms) rows to the caller —
        exactly the payload of ES's DFS round-trip. n_docs and avgdl
        follow the engine's Lucene convention (stale under deletes until
        compaction)."""
        avgdl = self.avgdl_by_field[self._fid(field)]
        terms = sorted(set(self._analyze(query, field)))
        if not terms:
            return {}, self.n_docs, avgdl
        return self.term_stats(terms, field), self.n_docs, avgdl

    def match_docs(
        self,
        query: str | None = None,
        mode: str = "or",
        field: str | int | None = None,
        filters: Column | None = None,
        exclude: Sequence[tuple[str, str | int | None]] = (),
    ) -> DataFrame:
        """The unscored filter-context match set as a ``doc_id`` DataFrame —
        the document set ES's ``_count`` measures and ``helpers.scan``
        iterates (the reference scrolls whole indexes this way:
        import_dart_data.py:562, test.py:75). Same contract as
        :meth:`count_query` (which is this ``.count()``): ``query=None``
        is match_all, ``mode`` any/all terms, ``filters`` a doc_stats
        predicate, ``exclude`` the must_not text context."""
        if mode not in ("or", "and"):
            raise ValueError(f"match_docs: unknown mode {mode!r}")
        if query is None:
            ds = self.doc_stats()
            if filters is not None:
                ds = ds.filter(filters)
                filters = None  # applied on the scan itself, no semi-join
            docs = ds.select("doc_id")
        else:
            fid = self._fid(field)
            terms = sorted(set(self._analyze(query, field)))
            if not terms:
                return local_df(self.spark, [], "doc_id long")
            if mode == "or":
                docs = self._docs_for_terms(terms, fid)
            else:  # and: every term present
                dfs = self.term_stats(terms, field)
                if len(dfs) < len(terms):
                    return local_df(self.spark, [], "doc_id long")
                idf = {t: 1.0 for t in terms}
                scored = self._live(self._score_terms(terms, idf, fid=fid))
                docs = (
                    scored.groupBy("doc_id")
                    .agg(F.sum("matched").alias("nm"))
                    .filter(F.col("nm") == len(terms))
                    .select("doc_id")
                )
        if filters is not None:
            allowed = self.doc_stats().filter(filters).select("doc_id")
            docs = docs.join(allowed, "doc_id", "left_semi")
        for ex_query, ex_field in exclude:
            ex_terms = sorted(set(self._analyze(ex_query, ex_field)))
            if not ex_terms:
                continue
            bad = self._docs_for_terms(ex_terms, self._fid(ex_field))
            docs = docs.join(bad, "doc_id", "left_anti")
        return docs

    def get_by_key(self, *key_values) -> DataFrame:
        """Point lookup by document key — ES get-by-_id
        (import_dart_data.py:229, test.py:62-70). The first key column
        determines the segment (crc32 % n_segments), so the scan prunes to
        one seg=... directory instead of touching every segment."""
        import zlib

        key_cols = self.meta.get("doc_key_cols", ["conv_id", "turn_idx"])
        ds = self.doc_stats()
        n_segments = int(self.meta.get("n_segments", 0))
        if n_segments and "seg" in ds.columns:  # compaction preserves seg dirs
            seg = zlib.crc32(str(key_values[0]).encode("utf-8")) % n_segments
            ds = ds.filter(F.col("seg") == seg)
        for col, val in zip(key_cols, key_values):
            ds = ds.filter(F.col(col) == val)
        return ds

    def _field_dict(self, field: str | int | None) -> DataFrame:
        td = self.term_dict()
        if "field" in td.columns:
            td = td.filter(F.col("field") == self._fid(field))
        return td

    def get_by_keys(self, keys: Sequence[tuple]) -> DataFrame:
        """Multi-get by document keys — ES _mget (the batch form of the
        reference's per-id GETs, import_dart_data.py:229). One scan, pruned
        to the union of the keys' segments, semi-joined on a broadcast of
        the (small, by definition) key list."""
        import zlib

        key_cols = self.meta.get("doc_key_cols", ["conv_id", "turn_idx"])
        ds = self.doc_stats()
        keys = [tuple(k) for k in keys]
        if not keys:
            return ds.limit(0)
        arities = {len(k) for k in keys}
        if len(arities) != 1:
            raise ValueError(
                f"get_by_keys: mixed key arities {sorted(arities)}; every key "
                f"tuple must name the same prefix of {key_cols}"
            )
        arity = arities.pop()
        if not (1 <= arity <= len(key_cols)):
            raise ValueError(
                f"get_by_keys: key arity {arity} out of range for key "
                f"columns {key_cols}"
            )
        n_segments = int(self.meta.get("n_segments", 0))
        if n_segments and "seg" in ds.columns:
            segs = sorted(
                {zlib.crc32(str(k[0]).encode("utf-8")) % n_segments for k in keys}
            )
            ds = ds.filter(F.col("seg").isin(segs))
        kdf = local_df(self.spark, keys, list(key_cols[:arity]))
        return ds.join(F.broadcast(kdf), list(kdf.columns), "left_semi")

    def stats(self) -> dict:
        """Index statistics — ES _stats/_cat-indices parity: doc count,
        per-field avgdl, live segment/run/postings counts, tombstones.
        One metadata-column scan over postings + the tombstone count."""
        post = self.postings()
        agg = post.agg(
            F.count("*").alias("n_runs"),
            F.sum("n").alias("n_postings"),
            F.countDistinct("seg").alias("n_segments_live"),
        ).collect()[0]
        tomb = self._tombstones()
        return {
            "n_docs": self.n_docs,
            "fields": list(self.fields),
            "avgdl_by_field": dict(self.avgdl_by_field),
            "n_runs": int(agg["n_runs"]),
            "n_postings": int(agg["n_postings"] or 0),
            "n_segments_live": int(agg["n_segments_live"]),
            "n_tombstones": int(tomb.count()) if tomb is not None else 0,
            "store_positions": bool(self.meta.get("store_positions")),
        }

    def _cap_expansion(
        self, td: DataFrame, max_expansions: int | None
    ) -> DataFrame:
        """ES-style rewrite budget: keep the first ``max_expansions`` matching
        dictionary terms in lexicographic term order (deterministic, so the
        capped query is well-defined and oracle-checkable)."""
        cols = ["term"] + (["bucket"] if "bucket" in td.columns else [])
        td = td.select(*cols)
        if max_expansions is not None:
            td = td.orderBy("term").limit(int(max_expansions))
        return td

    def expand_prefix_df(
        self,
        prefix: str,
        field: str | int | None = None,
        max_expansions: int | None = None,
    ) -> DataFrame:
        """Term-dictionary prefix scan — ES wildcard `xyz*` rewrite
        (Running-ELK.md:155-168) and search_as_you_type prefix matching.

        Returns a DataFrame of (term[, bucket]) — the expansion NEVER lands
        on the driver: downstream it is broadcast-semi-joined against the
        postings scan, so a short prefix over a 10^8-term dictionary stays a
        distributed plan instead of a million-literal In-list."""
        td = self._field_dict(field).filter(
            F.col("term").startswith(prefix.lower())
        )
        return self._cap_expansion(td, max_expansions)

    @staticmethod
    def _dl_variants(q: str, max_dist: int) -> tuple[list[str], list[str]]:
        """Variant strings for the exact Damerau-Levenshtein <= max_dist
        Catalyst predicate (``_dl_dist``). Returns ``(t1, t0)``:

        - ``t1``: single adjacent-transposition rewrites of ``q`` (cost 1
          each — a candidate within ``lev <= max_dist-1`` of one of these
          is within DL ``max_dist`` of ``q``).
        - ``t0``: rewrites costing exactly 2 that plain levenshtein over
          ``q``/``t1`` cannot reach at budget 2 — disjoint double
          transpositions and delete-then-transpose forms (the unrestricted-DL
          path where a deletion makes the transposed pair adjacent, e.g.
          ``abc -> ca``). Candidates matching one EXACTLY are at DL 2.

        Exactness argument (DL budget <= 2, the ES fuzziness cap): every
        cost-<=2 unrestricted-DL trace is one of {}, {e}, {e,e}, {t},
        {t,e}, {t,t}. Transpositions of original adjacent chars commute
        with non-overlapping edits -> covered by ``t1`` + lev. A transpose
        involving an inserted char equals a cheaper plain insert; involving
        a substituted char equals two substitutions (lev <= 2). Overlapping
        double transposes are 3-window rotations (lev = 2). That leaves
        disjoint {t,t} and delete-then-transpose — exactly ``t0``."""
        t1 = [
            q[:i] + q[i + 1] + q[i] + q[i + 2 :]
            for i in range(len(q) - 1)
            if q[i] != q[i + 1]
        ]
        t0: set[str] = set()
        if max_dist >= 2:
            for i in range(len(q) - 1):
                if q[i] == q[i + 1]:
                    continue
                swapped = q[:i] + q[i + 1] + q[i] + q[i + 2 :]
                for j in range(i + 2, len(q) - 1):
                    if swapped[j] != swapped[j + 1]:
                        t0.add(
                            swapped[:j]
                            + swapped[j + 1]
                            + swapped[j]
                            + swapped[j + 2 :]
                        )
            for i in range(1, len(q) - 1):
                if q[i - 1] != q[i + 1]:
                    t0.add(q[: i - 1] + q[i + 1] + q[i - 1] + q[i + 2 :])
        return t1, sorted(t0)

    @classmethod
    def _dl_dist(cls, col: Column, q: str, max_dist: int) -> Column:
        """Unrestricted Damerau-Levenshtein distance between ``col`` and the
        literal ``q`` as a pure-Catalyst Column — exact for values
        <= max_dist (ES caps fuzziness at 2), ``max_dist + 1`` beyond.
        Matches DuckDB's ``damerau_levenshtein`` on the <= max_dist range,
        so value oracles stay exact. Whole-stage-codegen friendly: one
        THRESHOLDED levenshtein per adjacent transposition of ``q`` plus
        one In-list — the threshold form early-exits the DP at
        O(len·max_dist) per row instead of O(len²), and any value past
        the cap comes back as -1, which maps to the same ``max_dist + 1``
        sentinel the unthresholded construction produced."""
        t1, t0 = cls._dl_variants(q, max_dist)
        big = F.lit(max_dist + 1)

        def capped(v: str, add: int) -> Column:
            lev = F.levenshtein(col, F.lit(v), max_dist)
            out = (lev + F.lit(add)) if add else lev
            return F.when(lev < 0, big).otherwise(F.least(out, big))

        exprs = [capped(q, 0)]
        if max_dist >= 1:
            exprs += [capped(v, 1) for v in t1]
        if t0:
            exprs.append(F.when(col.isin(t0), F.lit(2)).otherwise(big))
        return F.least(*exprs) if len(exprs) > 1 else exprs[0]

    @staticmethod
    def _auto_fuzziness(term: str) -> int:
        """ES ``fuzziness: AUTO``: 0 edits for terms shorter than 3 chars,
        1 for 3-5, 2 for 6+ (the ES default length bands)."""
        n = len(term)
        return 0 if n < 3 else (1 if n <= 5 else 2)

    def expand_fuzzy_df(
        self,
        term: str,
        max_dist: int | str = 1,
        field: str | int | None = None,
        max_expansions: int | None = None,
        transpositions: bool = True,
        prefix_length: int = 0,
    ) -> DataFrame:
        """Edit-distance expansion over the term dictionary — ES fuzzy
        (Running-ELK.md:186-200). Distributed (see expand_prefix_df).

        ES parity knobs: ``transpositions`` (default true, like ES — a
        Damerau transposition counts as ONE edit, so ``tabel`` finds
        ``table`` at max_dist=1) via the exact ``_dl_dist`` construction;
        ``prefix_length`` requires the first N chars to match exactly and
        measures edits on the suffixes only (Lucene FuzzyQuery semantics).

        Pruned by the length band |len(term) - len(q)| <= max_dist before
        any edit distance runs: the band on the stored ``tlen`` column is a
        plain comparison predicate, so it pushes into the parquet scan
        (row-group min/max stats) instead of edit-distancing the whole
        dictionary; with prefix_length the prefix equality prunes further.

        ``max_dist`` accepts the ES ``"AUTO"`` sentinel: the edit budget
        follows the query term's length (0 below 3 chars, 1 for 3-5,
        2 for 6+)."""
        q = term.lower()
        if isinstance(max_dist, str):
            if max_dist.upper() != "AUTO":
                raise ValueError(
                    f"expand_fuzzy_df: fuzziness must be an int or 'AUTO', "
                    f"got {max_dist!r}"
                )
            max_dist = self._auto_fuzziness(q)
        if max_dist <= 0:  # exact-match band: no expansion beyond the term
            td = self._field_dict(field).filter(F.col("term") == q)
            return self._cap_expansion(td, max_expansions)
        td = self._field_dict(field)
        if "tlen" in td.columns:
            band = F.col("tlen").between(len(q) - max_dist, len(q) + max_dist)
        else:  # pre-tlen index layout: still prune before levenshtein
            band = F.length("term").between(len(q) - max_dist, len(q) + max_dist)
        td = td.filter(band)
        pl = max(0, int(prefix_length))
        cand, qq = F.col("term"), q
        if pl:
            td = td.filter(F.substring("term", 1, pl) == F.lit(q[:pl]))
            cand, qq = F.substring(F.col("term"), pl + 1, 1 << 30), q[pl:]
        dist = (
            self._dl_dist(cand, qq, max_dist)
            if transpositions
            else F.levenshtein(cand, F.lit(qq))
        )
        td = td.filter(dist <= max_dist)
        return self._cap_expansion(td, max_expansions)

    def expand_regexp_df(
        self,
        pattern: str,
        field: str | int | None = None,
        max_expansions: int | None = None,
    ) -> DataFrame:
        """Regex expansion over the term dictionary — ES ``regexp`` query
        rewrite. The pattern must match the WHOLE term (ES anchors
        regexp queries implicitly); distributed like expand_prefix_df."""
        anchored = f"^(?:{pattern})$"
        td = self._field_dict(field).filter(F.col("term").rlike(anchored))
        return self._cap_expansion(td, max_expansions)

    def regexp(
        self,
        pattern: str,
        k: int = 10,
        field: str | int | None = None,
        max_expansions: int | None = 50,
    ) -> DataFrame:
        """ES regexp query (constant_score rewrite, like wildcard): terms
        matching the anchored pattern, every hit scored 1.0 in doc_id
        order. Expansion stays distributed and capped ES-style."""
        fid = self._fid(field)
        docs = self._docs_for_terms_df(
            self.expand_regexp_df(pattern, fid, max_expansions), fid
        )
        return (
            docs.withColumn("score", F.lit(1.0))
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def suggest_terms(
        self,
        text: str,
        k: int = 5,
        max_dist: int = 2,
        field: str | int | None = None,
        transpositions: bool = True,
    ) -> DataFrame:
        """ES term suggester: for EACH analyzed input token, dictionary
        terms within ``max_dist`` edits (Damerau by default, like ES),
        ranked the ES way — edit distance asc, then document frequency
        desc, then term asc — with the top-k suggestions per token.

        Multi-token inputs suggest per token (ES suggests per token; the
        old single-token shortcut silently dropped the rest). The whole
        thing is ONE dictionary scan regardless of token count: per-token
        distances are stacked with explode(array(struct...)) on the scan,
        then ranked with a window partitioned by token. The OR of the
        per-token length bands still pushes into the parquet scan; only
        k rows per token reach the driver."""
        toks = list(dict.fromkeys(self._analyze(text, field) or [text.lower()]))
        td = self._field_dict(field)
        tlen = F.col("tlen") if "tlen" in td.columns else F.length("term")
        band = None
        for q in toks:
            b = tlen.between(len(q) - max_dist, len(q) + max_dist)
            band = b if band is None else (band | b)
        dist_of = (
            (lambda q: self._dl_dist(F.col("term"), q, max_dist))
            if transpositions
            else (lambda q: F.levenshtein(F.col("term"), F.lit(q)))
        )
        stacked = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("token"), dist_of(q).alias("dist")
                    )
                    for q in toks
                ]
            )
        ).alias("s")
        cand = (
            td.filter(band)
            .select("term", "df", stacked)
            .select("term", "df", F.col("s.token").alias("token"),
                    F.col("s.dist").alias("dist"))
            .filter(F.col("dist") <= max_dist)
        )
        w = Window.partitionBy("token").orderBy(
            F.asc("dist"), F.desc("df"), F.asc("term")
        )
        out = (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("token", "term", "dist", "df")
            .orderBy(F.asc("token"), F.asc("dist"), F.desc("df"), F.asc("term"))
        )
        return out

    def suggest_phrase(
        self,
        text: str,
        k: int = 3,
        max_dist: int = 2,
        per_token: int = 3,
        edit_penalty: float = 1.0,
        field: str | int | None = None,
        collate: bool = False,
    ) -> DataFrame:
        """ES phrase suggester ("did you mean") with a pinned,
        oracle-exact model: per-token candidates come from the term
        suggester ranking (dist asc, df desc, term asc — top
        ``per_token``; the token itself rides at dist 0 when indexed; an
        un-indexed token with no candidates is kept verbatim at df 0),
        composed into whole-phrase rewrites scored

            score = Σ ln(1 + df(termᵢ)) − edit_penalty · Σ distᵢ

        — the ES generator + language-model shape (candidate generator →
        unigram Stupid-Backoff-flavoured LM with an additive edit
        confidence), ranked (score desc, suggestion asc), top-k.
        ``collate=True`` drops rewrites with zero exact-phrase hits —
        ES collation runs the phrase query per surviving candidate, and
        so does this (needs ``store_positions``).

        Scale shape: candidate generation is the term suggester's ONE
        dictionary scan; composition handles ≤ per_token^n_tokens rows
        for a human-typed query on the coordinator, exactly where ES
        composes them; collation probes ≤ k phrases, each a bounded
        positional query. Returns (suggestion, score, n_edits)."""
        import itertools
        import math

        empty = local_df(self.spark, 
            [], "suggestion string, score double, n_edits int"
        )
        toks = self._analyze(text, field)
        if not toks:
            return empty
        if max(1, per_token) ** len(toks) > 4096:
            raise ValueError(
                f"suggest_phrase: {len(toks)} tokens x per_token="
                f"{per_token} exceeds the 4096-combo budget — shorten "
                "the input or lower per_token"
            )
        if collate and not self.meta.get("store_positions"):
            raise ValueError(
                "suggest_phrase(collate=True) needs an index built with "
                "store_positions=True"
            )
        cand_rows = self.suggest_terms(
            text, k=per_token, max_dist=max_dist, field=field
        ).collect()  # ≤ n_tokens · per_token rows — the suggester's cap
        by_tok: dict[str, list[tuple[str, int, int]]] = {}
        for r in cand_rows:
            by_tok.setdefault(r["token"], []).append(
                (r["term"], int(r["dist"]), int(r["df"]))
            )
        cand_lists = [by_tok.get(t) or [(t, 0, 0)] for t in toks]
        scored: dict[str, tuple[float, int]] = {}
        for combo in itertools.product(*cand_lists):
            s = sum(math.log1p(c[2]) for c in combo) - edit_penalty * sum(
                c[1] for c in combo
            )
            sug = " ".join(c[0] for c in combo)
            ned = sum(1 for c, t0 in zip(combo, toks) if c[0] != t0)
            if sug not in scored or scored[sug][0] < s:
                scored[sug] = (s, ned)
        ranked = sorted(
            ((round(s, 6), sug, ned) for sug, (s, ned) in scored.items()),
            key=lambda x: (-x[0], x[1]),
        )
        if collate:
            fid = self._fid(field)
            kept = []
            for s, sug, ned in ranked[:k]:  # <= k probes, per the contract
                if self._phrase_doc_set(sug.split(), fid).limit(1).count():
                    kept.append((s, sug, ned))
            ranked = kept
        else:
            ranked = ranked[:k]
        return local_df(self.spark, 
            [(sug, s, ned) for s, sug, ned in ranked],
            "suggestion string, score double, n_edits int",
        )

    def suggest_completion(
        self,
        prefix: str,
        on: str,
        k: int = 5,
        weight: str | None = None,
        fuzziness: int = 0,
        fuzzy_prefix_length: int = 1,
    ) -> DataFrame:
        """ES completion suggester, AD-HOC doc-valued form: suggestions
        are the live values of a stored (or runtime) string column ``on``
        — the completion-field "input" — matched case-insensitively on
        ``prefix`` (ES's completion analyzer lowercases) and ranked
        (score desc, suggestion asc), top ``k`` (the request ``size``).
        This is the zero-setup path the ``suggest`` body section drives;
        the PREBUILT scale path is
        :mod:`dart_importer_spark.index.completion` (first-char-
        partitioned weight-ordered suggestion table, contexts,
        skip_duplicates) — build that when suggestions are built once
        and queried often.
        Score = the suggestion's max ``weight`` column value when given
        (ES per-suggestion weight), else its live doc count (a pinned,
        deterministic stand-in for ES's unweighted constant score).

        ``fuzziness`` > 0 enables ES fuzzy completion: the typed prefix
        may differ from the suggestion's leading chars by up to that many
        Damerau edits, but the first ``fuzzy_prefix_length`` chars must
        match exactly (ES default prefix_length=1), and exact-prefix
        matches always survive.

        Scale shape: ES serves this from a dedicated in-memory FST per
        shard; the Spark-native reading aggregates the column to its
        DISTINCT values first (one partial-agg groupBy — suggestion
        dictionaries are tiny next to the corpus) and prefix-filters the
        reduced set, so the full text never leaves the scan stage and
        only k rows reach the driver."""
        p = str(prefix).lower()
        if not p:
            raise ValueError("suggest_completion: empty prefix")
        cols = [on] + ([weight] if weight else [])
        ds = self.doc_stats().select(*cols).filter(F.col(on).isNotNull())
        w = (
            F.max(F.col(weight)).cast("double")
            if weight
            else F.count("*").cast("double")
        )
        cand = ds.groupBy(F.col(on).alias("suggestion")).agg(w.alias("score"))
        lead = F.lower(F.substring("suggestion", 1, len(p)))
        if int(fuzziness) <= 0:
            cand = cand.filter(lead == p)
        else:
            fz = min(int(fuzziness), 2)  # ES caps completion fuzziness at 2
            # a fuzzy prefix matches ANY leading substring of the
            # suggestion — an insertion/deletion shifts the boundary, so
            # the candidate prefix lengths span len(p) +/- fz
            dists = [
                self._dl_dist(
                    F.lower(F.substring("suggestion", 1, length)), p, fz
                )
                for length in range(max(1, len(p) - fz), len(p) + fz + 1)
            ]
            best = F.least(*dists) if len(dists) > 1 else dists[0]
            cond = best <= fz
            pl = max(0, int(fuzzy_prefix_length))
            if pl:
                cond = cond & (
                    F.lower(F.substring("suggestion", 1, pl)) == p[:pl]
                )
            cand = cand.filter(cond | (lead == p))
        return cand.orderBy(F.desc("score"), F.asc("suggestion")).limit(k)

    def expand_prefix(self, prefix: str, field: str | int | None = None) -> list[str]:
        """Driver-side convenience wrapper around expand_prefix_df (NOT used
        by any query path — those stay distributed)."""
        rows = self.expand_prefix_df(prefix, field).select("term").collect()
        return sorted(r["term"] for r in rows)

    def expand_fuzzy(
        self, term: str, max_dist: int = 1, field: str | int | None = None
    ) -> list[str]:
        """Driver-side convenience wrapper around expand_fuzzy_df (NOT used
        by any query path — those stay distributed)."""
        rows = self.expand_fuzzy_df(term, max_dist, field).select("term").collect()
        return sorted(r["term"] for r in rows)

    def _candidate_postings_df(self, terms_df: DataFrame, fid: int) -> DataFrame:
        """Posting runs whose term appears in ``terms_df`` — the distributed
        form of ``_candidate_postings`` for query-expanded term sets
        (wildcard/fuzzy/sayt rewrites). The expansion is broadcast (bounded
        by max_expansions) and semi-joined on (bucket, term): joining on the
        bucket partition column lets Spark's dynamic partition pruning skip
        postings directories, the distributed analogue of the driver-side
        bucket In-list."""
        post = self.postings().filter(F.col("field") == fid)
        keys = (
            ["bucket", "term"] if "bucket" in terms_df.columns else ["term"]
        )
        return post.join(F.broadcast(terms_df), keys, "left_semi")

    _POSTING_COLS = {
        "term": ("term", "term string"),
        "doc_id": ("docs", "doc_id long"),
        "tf": ("tfs", "tf long"),
        "dl": ("dls", "dl long"),
        "pos": ("poss", "pos long"),
    }

    def _read_postings(
        self,
        cand: DataFrame,
        cols: Sequence[str],
        allowed=None,
    ) -> DataFrame:
        """The postings read: ``cols`` (of term, doc_id, tf, dl, pos)
        decoded from a candidate posting-run scan, one row per posting, or
        one per token position when ``pos`` is asked for. Only the blob
        columns ``cols`` need are scanned, and each is decoded once per
        Arrow batch (:func:`decode_runs`). ``allowed`` (a sorted doc_id
        array, or a Broadcast of one shared by a query's per-term scans)
        masks right after decode; callers drop tombstones with ``_live``."""
        cols = list(cols)
        need = {"n", "docs"} | {self._POSTING_COLS[c][0] for c in cols}
        if "pos" in cols:
            need.add("tfs")
        bc_allowed = self._bc_ids(allowed)

        def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            allowed_ids = bc_allowed.value if bc_allowed is not None else None
            for pdf in batches:
                dec = _decode_masked(pdf, allowed=allowed_ids)
                if "pos" in cols:
                    if not dec["pos"].size:
                        continue  # positionless runs carry empty poss blobs
                    tf = dec["tf"]
                    dec = {
                        c: dec[c] if c == "pos" else np.repeat(dec[c], tf)
                        for c in ("run", *cols)
                        if c in dec
                    }
                if "term" in cols:
                    dec["term"] = pdf["term"].to_numpy(dtype=object)[dec["run"]]
                if dec["run"].size:
                    yield pd.DataFrame({c: dec[c] for c in cols})

        return cand.select(*sorted(need)).mapInPandas(
            decode, schema=", ".join(self._POSTING_COLS[c][1] for c in cols)
        )

    def _decode_doc_ids(self, cand: DataFrame) -> DataFrame:
        """Distinct live doc_ids of a candidate posting-run scan."""
        return self._live(self._read_postings(cand, ["doc_id"]).distinct())

    def _docs_for_terms(self, terms: list[str], fid: int = 0) -> DataFrame:
        """Distinct doc_ids containing any of ``terms`` (constant score) —
        for DRIVER-KNOWN term lists (query tokens), never expansions."""
        if not terms:
            return local_df(self.spark, [], "doc_id long")
        return self._decode_doc_ids(self._candidate_postings(terms, fid))

    def _docs_for_terms_df(self, terms_df: DataFrame, fid: int = 0) -> DataFrame:
        """Distinct doc_ids containing any term of ``terms_df`` — the
        distributed path for dictionary expansions."""
        return self._decode_doc_ids(self._candidate_postings_df(terms_df, fid))

    def wildcard(
        self,
        prefix: str,
        k: int = 10,
        filters: Column | None = None,
        field: str | int | None = None,
        max_expansions: int | None = None,
    ) -> DataFrame:
        """ES wildcard with constant_score rewrite (Running-ELK.md:155-184):
        expand prefix -> disjunction, every hit scored 1.0, doc_id order.
        The expansion stays distributed (broadcast semi-join, never a driver
        term list); ``max_expansions`` caps the rewrite ES-style (first N
        terms lexicographically)."""
        fid = self._fid(field)
        docs = self._docs_for_terms_df(
            self.expand_prefix_df(prefix, fid, max_expansions), fid
        )
        out = docs.withColumn("score", F.lit(1.0))
        if filters is not None:
            allowed = self.doc_stats().filter(filters).select("doc_id")
            out = out.join(allowed, "doc_id", "left_semi")
        return out.orderBy(F.asc("doc_id")).limit(k)

    def fuzzy(
        self,
        term: str,
        k: int = 10,
        max_dist: int | str = 1,
        field: str | int | None = None,
        max_expansions: int | None = 50,
        transpositions: bool = True,
        prefix_length: int = 0,
    ) -> DataFrame:
        """ES fuzzy query (constant-score expansion variant). Distributed
        expansion; ``max_expansions`` defaults to 50, the ES fuzzy default;
        ``transpositions``/``prefix_length`` as in ES (Damerau by default)."""
        fid = self._fid(field)
        docs = self._docs_for_terms_df(
            self.expand_fuzzy_df(
                term, max_dist, fid, max_expansions,
                transpositions=transpositions, prefix_length=prefix_length,
            ),
            fid,
        )
        return docs.withColumn("score", F.lit(1.0)).orderBy(F.asc("doc_id")).limit(k)

    def match_fuzzy(
        self,
        query: str,
        k: int = 10,
        fuzziness: int | str = "AUTO",
        field: str | int | None = None,
        max_expansions: int | None = 50,
        prefix_length: int = 0,
        transpositions: bool = True,
        operator: str = "or",
        round_scores: int | None = None,
    ) -> DataFrame:
        """ES ``match`` with ``fuzziness`` — typo-tolerant scored match
        (the reference's analysts hand-type corp names; ES fuzzy match is
        the standard recovery, Running-ELK.md:186-200). Engine-exact
        contract, oracle-checkable:

        - each analyzed source term (deduplicated) expands to dictionary
          terms within Damerau-Levenshtein <= ``fuzziness`` (int or the
          AUTO length bands), capped at the first ``max_expansions`` in
          lexicographic order — the engine-wide rewrite budget
          (_cap_expansion), shared with wildcard/regexp/fuzzy;
        - expansion dfs BLEND to their max per source term, so a rare
          typo variant never gets a giant idf (Lucene's
          TopTermsBlendedFreqScoringRewrite blends expansion freqs);
        - per (doc, source term) the best-scoring expansion counts
          (dis_max — Lucene sums co-occurring variants of one term; this
          engine keeps the dis_max shape of its cross_fields, documented
          deviation);
        - doc score = sum over source terms; ``operator='and'`` keeps
          docs matching EVERY source term through some expansion.

        Plan: one distributed dictionary expansion per source term
        (length-banded, pushed to the dict scan), expansions collected
        (<= max_expansions each, the same driver-side list ES
        materializes per shard), ONE combined bucket-pruned stats scan,
        ONE posting-scoring kernel over the union of expansions emitting
        raw tf-norms, then a broadcast join to the tiny
        (expansion, source, blended-idf) map and two partial-aggregated
        shuffles on doc_id. No θ-pruning (fuzzy legs are few and the
        blended bounds would need rescaling, as in cross_fields AND)."""
        if operator not in ("or", "and"):
            raise ValueError(f"match_fuzzy: unknown operator {operator!r}")
        if isinstance(fuzziness, str) and fuzziness.isdigit():
            fuzziness = int(fuzziness)  # ES accepts "1" as well as 1
        fid = self._fid(field)
        empty = local_df(self.spark, [], "doc_id long, score double")
        src_terms = sorted(set(self._analyze(query, fid)))
        if not src_terms:
            return empty
        exp2src: dict[str, list[str]] = {}
        for t in src_terms:
            exp = [
                r["term"]
                for r in self.expand_fuzzy_df(
                    t, fuzziness, fid, max_expansions,
                    transpositions=transpositions,
                    prefix_length=prefix_length,
                ).select("term").collect()
            ]
            if not exp and operator == "and":
                return empty  # a source term with no expansion can't match
            for e in exp:
                exp2src.setdefault(e, []).append(t)
        if not exp2src:
            return empty
        all_exp = sorted(exp2src)
        dfs, _idf_unused, _ubs = self._leg_stats(all_exp, fid)
        all_exp = [e for e in all_exp if e in dfs]
        if not all_exp:
            return empty
        bdf: dict[str, int] = {}
        for e in all_exp:
            for t in exp2src[e]:
                bdf[t] = max(bdf.get(t, 0), dfs[e])
        if operator == "and" and set(src_terms) - set(bdf):
            return empty
        # raw tf-norms from the shared kernel (idf 1.0): one expansion can
        # serve several source terms at DIFFERENT blended idfs, so the
        # weight applies after the (expansion -> source) join
        scored = self._score_terms(
            all_exp, {e: 1.0 for e in all_exp}, fid=fid, keep_term=True
        )
        per_exp = scored.groupBy("doc_id", "term").agg(
            F.sum("score").alias("tfn")
        )
        mapping = local_df(self.spark, 
            [
                (e, t, _idf(self.n_docs, bdf[t]))
                for e in all_exp
                for t in exp2src[e]
            ],
            "term string, src string, w double",
        )
        per_src = (
            per_exp.join(F.broadcast(mapping), "term")
            .groupBy("doc_id", "src")
            .agg(F.max(F.col("tfn") * F.col("w")).alias("s"))
        )
        gb = per_src.groupBy("doc_id")
        if operator == "and":
            agg = gb.agg(
                F.sum("s").alias("score"), F.count("*").alias("_n")
            ).filter(F.col("_n") == len(src_terms)).drop("_n")
        else:
            agg = gb.agg(F.sum("s").alias("score"))
        agg = self._live(agg)
        if round_scores is not None:
            agg = agg.withColumn("score", F.round("score", round_scores))
        return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def terms_query(
        self,
        terms: Sequence[str],
        k: int = 10,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES ``terms`` query (filter context; the reference's term-level
        exact matches, import_dart_data.py:521-528): docs containing ANY
        of the given EXACT terms (no analysis beyond lowercasing — ES does
        not analyze terms-query values), constant score 1.0 in doc_id
        order."""
        fid = self._fid(field)
        vals = sorted({str(t).lower() for t in terms if str(t)})
        if not vals:
            return local_df(self.spark, [], "doc_id long, score double")
        docs = self._docs_for_terms(vals, fid)
        out = docs.withColumn("score", F.lit(1.0))
        if filters is not None:
            allowed = self.doc_stats().filter(filters).select("doc_id")
            out = out.join(allowed, "doc_id", "left_semi")
        return out.orderBy(F.asc("doc_id")).limit(k)

    def terms_enum(
        self,
        field: str,
        string: str | None = None,
        size: int = 10,
        case_insensitive: bool = False,
        search_after: str | None = None,
    ) -> DataFrame:
        """ES ``_terms_enum``: enumerate a field's terms that start with
        ``string``, sorted, first ``size`` — the keyword-field autocomplete
        API. Two paths, both the honest ES cost:

        - an INDEXED field (``self.fields``): read the term dictionary —
          bucket/field-partitioned parquet, so the scan prunes to the
          field's directories and the prefix predicate pushes into
          row-group stats. Like ES, dictionary terms may include terms
          whose only docs are deleted (the ES docs carry the same caveat).
          Terms are analyzer-lowercased, so ``case_insensitive`` only
          lowercases the prefix.
        - a doc_stats META column (ES keyword field): distinct over the
          live column values — one partial-agg shuffle of the (short)
          distinct set, column-pruned scan.

        ``search_after`` resumes strictly after a term (keyset pagination,
        same as the ES parameter). One column out: ``term``."""
        if field in self.fields:
            vals = self._field_dict(field).select("term")
        else:
            ds = self.doc_stats()
            if field not in ds.columns:
                raise ValueError(
                    f"terms_enum: {field!r} is neither an indexed field "
                    f"{self.fields} nor a doc_stats column"
                )
            vals = ds.select(
                F.col(field).cast("string").alias("term")
            ).filter(F.col("term").isNotNull()).distinct()
        if string:
            pref = string.lower() if case_insensitive else string
            col = F.lower(F.col("term")) if case_insensitive else F.col("term")
            vals = vals.filter(col.startswith(pref))
        if search_after is not None:
            vals = vals.filter(F.col("term") > F.lit(str(search_after)))
        return vals.orderBy(F.asc("term")).limit(int(size))

    def boosting(
        self,
        positive: str,
        negative: str,
        negative_boost: float = 0.5,
        k: int = 10,
        field: str | int | None = None,
        round_scores: int | None = None,
    ) -> DataFrame:
        """ES ``boosting`` query: the soft form of must_not — docs matching
        any ``negative`` term keep their positive BM25 score MULTIPLIED by
        ``negative_boost`` (demoted, not excluded). One scoring pass plus
        one anti-set join."""
        if not 0.0 <= float(negative_boost) <= 1.0:
            raise ValueError("boosting: negative_boost must be in [0, 1]")
        fid = self._fid(field)
        terms = sorted(set(self._analyze(positive, field)))
        sc = self._bm25_scores(terms, fid)
        if sc is None:
            return local_df(self.spark, [], "doc_id long, score double")
        sc = self._live(sc)
        neg_terms = sorted(set(self._analyze(negative, field)))
        neg = self._docs_for_terms(neg_terms, fid).select(
            "doc_id", F.lit(True).alias("_demote")
        )
        out = sc.join(neg, "doc_id", "left").select(
            "doc_id",
            F.when(
                F.col("_demote"), F.col("score") * F.lit(float(negative_boost))
            )
            .otherwise(F.col("score"))
            .alias("score"),
        )
        if round_scores is not None:
            out = out.withColumn("score", F.round("score", round_scores))
        return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def terms_set(
        self,
        terms: Sequence[str],
        min_match_col: str,
        k: int = 10,
        field: str | int | None = None,
    ) -> DataFrame:
        """ES ``terms_set``: docs matching at least ``doc_stats[min_match_col]``
        of the given exact terms — the per-document minimum_should_match
        (tag matching: each doc declares how many of its tags must hit).
        Constant score; returns (doc_id, n_matched) in doc_id order."""
        fid = self._fid(field)
        vals = sorted({str(t).lower() for t in terms if str(t)})
        if not vals:
            return local_df(self.spark, 
                [], "doc_id long, n_matched long"
            )
        scored = self._score_terms(vals, {t: 1.0 for t in vals}, fid=fid)
        counts = scored.groupBy("doc_id").agg(
            F.sum("matched").cast("long").alias("n_matched")
        )
        gated = counts.join(
            self.doc_stats().select("doc_id", min_match_col), "doc_id"
        ).filter(F.col("n_matched") >= F.col(min_match_col))
        return (
            self._live(gated.select("doc_id", "n_matched"))
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def _bm25_scores(
        self,
        terms: list[str],
        fid: int,
        boosts: dict[str, float] | None = None,
    ) -> DataFrame | None:
        """(doc_id, score) BM25 partials for a term set on one field — the
        unpruned building block (bool ``should`` clauses, where every
        contribution must survive). ``boosts`` multiplies a term's idf
        (the ES query-time boost model)."""
        terms = sorted(set(terms))
        if not terms:
            return None
        dfs = self.term_stats(terms, fid)
        terms = [t for t in terms if t in dfs]
        if not terms:
            return None
        idf = {t: _idf(self.n_docs, dfs[t]) for t in terms}
        if boosts:
            idf = {t: w * float(boosts.get(t, 1.0)) for t, w in idf.items()}
        scored = self._score_terms(terms, idf, fid=fid)
        return scored.groupBy("doc_id").agg(F.sum("score").alias("score"))

    def _leg_stats(
        self, terms: list[str], fid: int
    ) -> tuple[dict, dict, dict]:
        """One bucket-pruned metadata job per scoring leg: per-term df,
        idf, and block-max upper bound (same combined pass topk uses)."""
        avgdl = self.avgdl_by_field[fid]
        rows = (
            self._candidate_postings(terms, fid)
            .groupBy("term")
            .agg(
                F.sum("n").alias("df"),
                F.max(F.array_max("block_max_tf")).alias("mtf"),
                F.min(F.array_min("block_min_dl")).alias("mdl"),
            )
            .collect()
        )
        dfs = {r["term"]: int(r["df"]) for r in rows}
        idf = {t: _idf(self.n_docs, d) for t, d in dfs.items()}
        ubs = {
            r["term"]: idf[r["term"]]
            * _tfn(float(r["mtf"]), float(r["mdl"]), avgdl)
            for r in rows
        }
        return dfs, idf, ubs

    def _legs_stats(
        self, specs: list[tuple[int, list[str]]]
    ) -> list[tuple[dict, dict, dict]]:
        """Batched :meth:`_leg_stats`: ONE bucket-pruned metadata job for
        ALL scoring legs (multi_match / search_as_you_type run one leg per
        field — a per-leg collect is a per-field driver round trip). The
        scan filter is the union over legs of (field, bucket, term); rows a
        leg did not request are dropped when its dicts are built, so the
        per-leg stats are identical to the per-leg job's."""
        specs = [(int(fid), list(terms)) for fid, terms in specs]
        all_terms = sorted({t for _, ts in specs for t in ts})
        fids = sorted({fid for fid, _ in specs})
        if not all_terms:
            return [({}, {}, {}) for _ in specs]
        buckets = sorted({bucket_of(t, self.n_buckets) for t in all_terms})
        rows = (
            self.postings()
            .filter(
                F.col("field").isin(fids)
                & F.col("bucket").isin(buckets)
                & F.col("term").isin(all_terms)
            )
            .groupBy("field", "term")
            .agg(
                F.sum("n").alias("df"),
                F.max(F.array_max("block_max_tf")).alias("mtf"),
                F.min(F.array_min("block_min_dl")).alias("mdl"),
            )
            .collect()
        )
        by_key = {(int(r["field"]), r["term"]): r for r in rows}
        out = []
        for fid, terms in specs:
            avgdl = self.avgdl_by_field[fid]
            dfs: dict = {}
            idf: dict = {}
            ubs: dict = {}
            for t in terms:
                r = by_key.get((fid, t))
                if r is None:
                    continue
                dfs[t] = int(r["df"])
                idf[t] = _idf(self.n_docs, dfs[t])
                ubs[t] = idf[t] * _tfn(float(r["mtf"]), float(r["mdl"]), avgdl)
            out.append((dfs, idf, ubs))
        return out

    def _multi_leg_theta(self, legs: list[tuple], need: int) -> float:
        """θ bootstrap across scoring legs (WAND's lower bound on the
        need-th best TOTAL score): fully score the globally rarest
        (field, term) leg through the masked kernel and take its need-th
        best single-leg contribution — a per-doc partial never exceeds the
        doc's total, so the need-th best partial lower-bounds the need-th
        best total. legs = [(fid, terms, dfs, idf, ubs), ...]."""
        best = None
        total_postings = 0
        for fid, terms, dfs, idf, _ in legs:
            for t in terms:
                total_postings += dfs[t]
                if best is None or dfs[t] < best[2]:
                    best = (fid, t, dfs[t], idf[t])
        if best is None:
            return 0.0
        # tiny candidate sets: skip the bootstrap job (θ=0 ≡ exhaustive)
        if total_postings < self.prune_min_postings:
            return 0.0
        fid, t, d, w = best
        if d < need:
            return 0.0
        scored = self._live(self._score_terms([t], {t: w}, fid=fid))
        rows = scored.select("score").orderBy(F.desc("score")).limit(need).collect()
        if len(rows) < need:
            return 0.0
        return float(rows[-1]["score"])

    def _positions_for_terms(
        self, terms: list[str], fid: int, allowed=None
    ) -> DataFrame:
        """Exploded (term, doc_id, pos) rows for the given terms — the
        positional scan backing match_phrase. Decode is Arrow-batched; only
        the phrase terms' postings (bucket-pruned) are touched, and the
        `poss` column is read only here (column pruning keeps every other
        query free of position bytes).

        ``allowed`` (sorted doc_id array, broadcast) masks postings right
        after decode: a phrase containing a stopword must not explode the
        stopword's full positional postings — only positions inside docs that
        contain the rarest phrase term survive (ES's doc-at-a-time phrase
        intersection starts from the rarest term for the same reason)."""
        return self._read_postings(
            self._candidate_postings(terms, fid), ["term", "doc_id", "pos"],
            allowed=allowed,
        )

    def _positions_for_terms_df(
        self, terms_df: DataFrame, fid: int, allowed=None
    ) -> DataFrame:
        """Positional scan for an EXPANDED term set (match_phrase_prefix's
        last-term rewrite): the expansion stays a broadcast semi-join, same
        as wildcard/fuzzy."""
        return self._read_postings(
            self._candidate_postings_df(terms_df, fid), ["term", "doc_id", "pos"],
            allowed=allowed,
        )

    def _phrase_candidate_ids(
        self, terms: list[str], fid: int
    ) -> tuple[np.ndarray | None, bool, dict[str, int]]:
        """Rarest-first bootstrap for match_phrase: per-term df from one
        bucket-pruned metadata scan, then the rarest term's doc_ids as the
        candidate mask (a phrase hit must contain EVERY term, so the rarest
        term's doc set bounds the result). Returns (sorted ids | None,
        any_term_missing, per-term dfs): None ids means the rarest df
        exceeded the push budget (stay distributed — decode everything,
        joins intersect). The dfs ride along so scoring callers
        (match_phrase_scored) don't pay a second metadata scan."""
        uniq = sorted(set(terms))
        stat_rows = (
            self._candidate_postings(uniq, fid)
            .groupBy("term")
            .agg(F.sum("n").alias("df"))
            .collect()
        )
        dfs = {r["term"]: int(r["df"]) for r in stat_rows}
        if len(dfs) < len(uniq):
            return None, True, dfs  # some phrase term absent -> no hits
        rarest = min(uniq, key=lambda t: dfs[t])
        if dfs[rarest] > self.id_push_budget:
            return None, False, dfs
        ids = self._bounded_ids(self._docs_for_terms([rarest], fid))
        return ids, False, dfs

    def _bc_ids(self, ids):
        """Broadcast a sorted id mask ONCE for reuse across the per-term
        scans of one query (None and an existing Broadcast pass through)."""
        from pyspark.broadcast import Broadcast

        if ids is None or isinstance(ids, Broadcast):
            return ids
        return self.spark.sparkContext.broadcast(ids)

    def _phrase_starts(self, terms, fid, bc_cand) -> DataFrame:
        """(doc_id, pos) of every EXACT-phrase match start — the shared
        slop-0 kernel: per-term single-term positional scans (term + its
        bucket pushed into each branch's parquet scan) chained with
        left-semi joins on (doc_id, pos − slot). _phrase_doc_set reduces
        this with distinct(); match_phrase_scored group-counts it (the
        phrase tf)."""
        rows_by_term = {
            t: self._positions_for_terms([t], fid, allowed=bc_cand)
            for t in set(terms)
        }
        starts = rows_by_term[terms[0]].select("doc_id", "pos")
        for i, t in enumerate(terms[1:], start=1):
            nxt = rows_by_term[t].select(
                "doc_id", (F.col("pos") - i).alias("pos")
            )
            starts = starts.join(nxt, ["doc_id", "pos"], "left_semi")
        return starts

    def _phrase_doc_set(
        self, terms: list[str], fid: int, slop: int = 0,
        allowed: np.ndarray | None = None,
    ) -> DataFrame:
        """Distinct doc_ids containing the phrase ``terms`` (in order,
        duplicates kept) — the shared filter-context phrase kernel behind
        match_phrase, simple_query_string and rescore. Empty if any term
        is absent. ``allowed`` (sorted ids) further restricts the decode —
        rescore pushes its window's ids so the positional decode touches
        only window docs.

        Plan: decode (term, doc_id, pos) for the phrase terms only, masked
        rarest-first by the candidate docs, then chain joins — equi hash
        joins on (doc_id, pos) at slop 0, equi on doc_id + a position-band
        filter otherwise; no all-positions materialization beyond the
        phrase terms' postings."""
        if not self.meta.get("store_positions"):
            raise ValueError(
                "phrase matching needs an index built with store_positions=True"
            )
        empty = local_df(self.spark, [], "doc_id long")
        if not terms:
            return empty
        cand_ids, missing, _ = self._phrase_candidate_ids(terms, fid)
        if missing:
            return empty
        if allowed is not None:
            cand_ids = (
                allowed
                if cand_ids is None
                else np.intersect1d(cand_ids, allowed)
            )
        # one single-term positional scan per phrase slot (see span_near:
        # per-term scans push term+bucket into each branch's parquet scan —
        # n decodes total instead of n²)
        bc_cand = self._bc_ids(cand_ids)
        if slop == 0:
            base = self._phrase_starts(terms, fid, bc_cand)
        else:
            rows_by_term = {
                t: self._positions_for_terms([t], fid, allowed=bc_cand)
                for t in set(terms)
            }
            base = rows_by_term[terms[0]].select(
                "doc_id", F.col("pos").alias("p0")
            )
            for i, t in enumerate(terms[1:], start=1):
                nxt = rows_by_term[t].select(
                    F.col("doc_id").alias("d2"), F.col("pos").alias("p2")
                )
                cond = (
                    (F.col("doc_id") == F.col("d2"))
                    & (F.col("p2") - i >= F.col("p0") - slop)
                    & (F.col("p2") - i <= F.col("p0") + slop)
                )
                base = base.join(nxt, cond, "left_semi")
        return base.select("doc_id").distinct()

    def match_phrase(
        self,
        query: str,
        k: int = 10,
        field: str | int | None = None,
        slop: int = 0,
    ) -> DataFrame:
        """ES match_phrase. Requires an index built with
        ``BuildConfig(store_positions=True)``. Hits are constant-score 1.0
        in doc_id order (ES filter-context phrase).

        ``slop=0`` is the exact phrase: the query's tokens at strictly
        consecutive positions. ``slop>0`` uses ANCHORED window semantics —
        token i may sit within ±slop of its expected position (p0 + i)
        relative to a matched first-term occurrence. This agrees with
        Lucene's sloppy phrase for the common cases (a 1-gap insertion
        matches at slop 1; an adjacent transposition matches at slop 2) and
        is documented as this engine's exact semantic."""
        fid = self._fid(field)
        terms = self._analyze(query, field)  # keep order and duplicates
        if not terms:
            return local_df(self.spark, [], "doc_id long, score double")
        docs = self._live(self._phrase_doc_set(terms, fid, slop))
        return (
            docs.withColumn("score", F.lit(1.0))
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def _dls_for_term(self, term: str, fid: int, allowed=None) -> DataFrame:
        """(doc_id, dl) decoded from ONE term's postings — the per-field
        document length stored next to each tf in the posting runs
        (index/build.py pack_runs_bulk). Backs phrase scoring on
        non-primary fields, whose per-doc dl is not in doc_stats; the
        caller picks a term every result doc is guaranteed to contain
        (for a phrase: any of its terms). ``allowed`` masks right after
        decode, same contract as _positions_for_terms."""
        return self._read_postings(
            self._candidate_postings([term], fid), ["doc_id", "dl"],
            allowed=allowed,
        )

    def _phrase_scores(
        self, query: str, fid: int, slop: int = 0
    ) -> DataFrame | None:
        """Full (doc_id, score) Lucene-PhraseQuery-BM25 frame for ONE
        field — unlimited and live-filtered, the shared kernel under
        match_phrase_scored and multi_match(type=phrase). Returns None
        when the query analyzes to nothing or a term is absent from the
        field's dictionary (no doc can match the phrase).

        Plan: the same rarest-first masked per-term positional chain as
        match_phrase, keeping one row per matching START position — the
        group-count is the phrase tf. dl: fid 0 broadcast-joins
        doc_stats; other fields decode (doc_id, dl) from the rarest
        phrase term's postings (every phrase hit contains it), so no
        per-field dl table is ever materialized.

        ``slop>0`` scores the ANCHORED-window sloppy phrase (same window
        semantics as match_phrase's documented matcher): an anchor is a
        first-term occurrence p0 where every later slot i has some
        position within ±slop of p0+i; its cost is the sum over slots of
        the minimal |p_i − (p0+i)|, and it contributes weight
        1/(1+cost) — Lucene's SloppyPhraseScorer shape (matches weighted
        by 1/(1+matchLength)), applied to this engine's documented
        window semantics. The weighted anchor sum replaces the integer
        phrase tf in the same BM25 formula; an exact match costs 0 and
        weighs 1, so slop=0 and slop>0 agree on exact-only docs
        (property-tested). One inner join + one (doc, anchor) min-agg
        per later slot — same join count as the filter-context matcher,
        aggregation keyed on (doc_id, p0) so no cross-anchor blowup."""
        if not self.meta.get("store_positions"):
            raise ValueError(
                "phrase scoring needs an index built with "
                "store_positions=True"
            )
        terms = self._analyze(query, fid)
        if not terms:
            return None
        # ONE metadata scan: the bootstrap's dfs double as the idf source
        cand_ids, missing, dfs = self._phrase_candidate_ids(terms, fid)
        if missing:
            return None
        idf_sum = sum(_idf(self.n_docs, dfs[t]) for t in terms)
        bc_cand = self._bc_ids(cand_ids)
        if slop == 0:
            starts = self._phrase_starts(terms, fid, bc_cand)
            ptf = starts.groupBy("doc_id").agg(
                F.count("*").cast("double").alias("ptf")
            )
        else:
            rows_by_term = {
                t: self._positions_for_terms([t], fid, allowed=bc_cand)
                for t in set(terms)
            }
            anchors = rows_by_term[terms[0]].select(
                "doc_id", F.col("pos").alias("p0")
            ).withColumn("cost", F.lit(0))
            for i, t in enumerate(terms[1:], start=1):
                nxt = rows_by_term[t].select(
                    F.col("doc_id").alias("d2"), F.col("pos").alias("p2")
                )
                disp = F.abs(F.col("p2") - (F.col("p0") + i))
                anchors = (
                    anchors.join(
                        nxt,
                        (F.col("doc_id") == F.col("d2")) & (disp <= slop),
                        "inner",
                    )
                    .groupBy("doc_id", "p0")
                    .agg(
                        F.first("cost").alias("cost"),
                        F.min(disp).alias("d"),
                    )
                    .select(
                        "doc_id", "p0",
                        (F.col("cost") + F.col("d")).alias("cost"),
                    )
                )
            ptf = anchors.groupBy("doc_id").agg(
                F.sum(1.0 / (1.0 + F.col("cost"))).alias("ptf")
            )
        avgdl = self.avgdl_by_field[fid]
        if fid == 0:
            dl = self.doc_stats().select("doc_id", "dl")
        else:
            rarest = min(set(terms), key=lambda t: dfs[t])
            dl = self._dls_for_term(rarest, fid, allowed=bc_cand)
        joined = self._live(ptf).join(dl, "doc_id")
        score = (
            F.lit(float(idf_sum))
            * F.col("ptf")
            / (
                F.col("ptf")
                + F.lit(K1)
                * (
                    F.lit(1.0 - B)
                    + F.lit(B) * F.col("dl").cast("double") / F.lit(avgdl)
                )
            )
        )
        return joined.select("doc_id", score.alias("score"))

    def match_phrase_scored(
        self,
        query: str,
        k: int = 10,
        field: str | int | None = None,
        round_scores: int | None = None,
        slop: int = 0,
    ) -> DataFrame:
        """ES match_phrase in QUERY context — Lucene PhraseQuery BM25:
        tf is the document's exact-phrase occurrence count (overlapping
        matches counted, as ExactPhraseMatcher does), idf is the SUM of
        the phrase terms' idfs (each instance of a duplicated term
        counted), score = idf_sum · tf / (tf + k1·(1−b+b·dl/avgdl)).
        ``match_phrase()`` remains the filter-context constant-score
        variant (ES scores phrases only when the clause sits in query
        context). Any analyzed field: non-primary dl comes from the
        rarest phrase term's posting runs (see _phrase_scores).
        ``slop>0`` scores the anchored-window sloppy phrase with
        1/(1+cost)-weighted anchors (see _phrase_scores)."""
        out = self._phrase_scores(query, self._fid(field), slop=slop)
        if out is None:
            return local_df(self.spark, [], "doc_id long, score double")
        if round_scores is not None:
            out = out.withColumn("score", F.round("score", round_scores))
        return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def match_phrase_prefix(
        self,
        query: str,
        k: int = 10,
        field: str | int | None = None,
        max_expansions: int | None = 50,
    ) -> DataFrame:
        """ES match_phrase_prefix: the query's last term matches as a PREFIX
        at the position right after the preceding exact phrase ("merge so"
        hits "merge sort" and "merge some"). Constant-score hits in doc_id
        order (filter context), like match_phrase.

        The prefix rewrite stays distributed (expand_prefix_df broadcast
        semi-join into the positional scan) and is capped at
        ``max_expansions`` (ES default 50, first terms lexicographically).
        Complete terms bootstrap rarest-first exactly like match_phrase; a
        single-term query degenerates to a prefix-presence check."""
        fid = self._fid(field)
        docs = self._phrase_prefix_docs(query, fid, max_expansions)
        if docs is None:
            return local_df(self.spark, [], "doc_id long, score double")
        return (
            docs.withColumn("score", F.lit(1.0))
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def _phrase_prefix_docs(
        self, query: str, fid: int, max_expansions: int | None = 50
    ) -> DataFrame | None:
        """Unlimited live doc_id frame of match_phrase_prefix hits for ONE
        field — the shared kernel under match_phrase_prefix and
        multi_match(type=phrase_prefix). None when the query analyzes to
        nothing or a complete (non-last) term is absent from the field's
        dictionary."""
        if not self.meta.get("store_positions"):
            raise ValueError(
                "match_phrase_prefix needs an index built with "
                "store_positions=True"
            )
        terms = self._analyze(query, fid)
        if not terms:
            return None
        complete, last = terms[:-1], terms[-1]
        pref_df = self.expand_prefix_df(last, fid, max_expansions)
        if not complete:
            return self._docs_for_terms_df(pref_df, fid)
        cand_ids, missing, _ = self._phrase_candidate_ids(complete, fid)
        if missing:
            return None
        # per-term scans (see span_near): n decodes total instead of n²
        bc_cand = self._bc_ids(cand_ids)
        rows_by_term = {
            t: self._positions_for_terms([t], fid, allowed=bc_cand)
            for t in set(complete)
        }
        base = rows_by_term[complete[0]].select("doc_id", "pos")
        for i, t in enumerate(complete[1:], start=1):
            nxt = rows_by_term[t].select(
                "doc_id", (F.col("pos") - i).alias("pos")
            )
            base = base.join(nxt, ["doc_id", "pos"], "left_semi")
        # any expanded term at the slot after the exact prefix of the phrase
        tail = self._positions_for_terms_df(pref_df, fid, allowed=bc_cand).select(
            "doc_id", (F.col("pos") - len(complete)).alias("pos")
        )
        base = base.join(tail, ["doc_id", "pos"], "left_semi")
        return self._live(base.select("doc_id").distinct())

    def span_near(
        self,
        clauses: Sequence[str],
        slop: int = 0,
        in_order: bool = True,
        k: int = 10,
        field: str | int | None = None,
    ) -> DataFrame:
        """ES span_near over span_term clauses (each clause one term).
        With unit-width spans Lucene's match condition reduces to: one
        position per clause can be chosen such that
        ``(max - min + 1) - n <= slop``, with strictly increasing
        positions when ``in_order=True`` (duplicated clause terms must
        therefore use distinct occurrences, matching SpanNearQuery).
        Constant-score hits in doc_id order (filter context), like
        match_phrase. The reference composes its transcript queries from
        bool/phrase blocks (Running-ELK.md:230-247); span_near is the
        proximity primitive under Lucene's sloppy phrase.

        Plan: positional decode of ONLY the clause terms, masked
        rarest-first (same bootstrap as match_phrase), then a chain of
        n-1 hash joins on doc_id with position-band predicates — each
        join is bounded by the window width ``slop + n - 1``, never an
        all-positions cartesian. Scale shape == match_phrase."""
        if not self.meta.get("store_positions"):
            raise ValueError(
                "span_near needs an index built with store_positions=True"
            )
        empty = local_df(self.spark, [], "doc_id long, score double")
        terms: list[str] = []
        for c in clauses:
            toks = self._analyze(c, field)
            if len(toks) != 1:
                raise ValueError(
                    f"span_near: clause {c!r} must analyze to exactly one "
                    f"term (got {toks!r})"
                )
            terms.append(toks[0])
        if not terms:
            return empty
        fid = self._fid(field)
        wins = self._span_windows(terms, slop, in_order, fid)
        if wins is None:
            return empty
        docs = self._live(wins.select("doc_id").distinct())
        return (
            docs.withColumn("score", F.lit(1.0))
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def span_near_slots(
        self,
        slots: Sequence[Sequence[str] | str | tuple],
        slop: int = 0,
        in_order: bool = True,
        k: int = 10,
        field: str | int | None = None,
    ) -> DataFrame:
        """span_near where each clause slot may carry ALTERNATIVES and its
        own field — the engine form under ES ``span_multi`` clauses inside
        ``span_near`` (a slot = the multi-term expansion) and
        ``field_masking_span`` (a slot = a clause read from another
        positional field; Lucene compares the masked positions as-is).
        Slot forms: ``"term"`` (analyzed), ``["t1", "t2", ...]``
        (pre-analyzed alternatives), or ``(terms, field)``. Constant-score
        hits in doc_id order, like span_near."""
        if not self.meta.get("store_positions"):
            raise ValueError(
                "span_near_slots needs an index built with "
                "store_positions=True"
            )
        empty = local_df(self.spark, [], "doc_id long, score double")
        base_fid = self._fid(field)
        norm: list[tuple[list[str], int]] = []
        for s in slots:
            sfid = base_fid
            if isinstance(s, tuple):
                s, sf = s
                sfid = self._fid(sf)
            if isinstance(s, str):
                toks = self._analyze(s, sfid)
                if len(toks) != 1:
                    raise ValueError(
                        f"span_near_slots: clause {s!r} must analyze to "
                        f"exactly one term (got {toks!r})"
                    )
                norm.append((toks, sfid))
            else:
                alts = sorted({str(t) for t in s})
                if not alts:
                    return empty
                norm.append((alts, sfid))
        if not norm:
            return empty
        wins = self._span_windows_slots(norm, slop, in_order)
        if wins is None:
            return empty
        docs = self._live(wins.select("doc_id").distinct())
        return (
            docs.withColumn("score", F.lit(1.0))
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def expand_span_multi(
        self, match: dict, max_expansions: int = 128
    ) -> list[str]:
        """Expand a span_multi inner multi-term query (prefix / wildcard /
        regexp / fuzzy) to its capped dictionary terms, ES
        ``top_terms_N``-style (lexicographic-first, deterministic). The
        cap is MANDATORY here (default 128 like Lucene's span rewrite
        budget) because span composition needs the term list driver-side
        for the per-slot positional scans — unlike the standalone
        multi-term queries, whose expansions stay distributed."""
        td, _ = self._span_multi_td(match, max_expansions)
        return sorted(r["term"] for r in td.select("term").collect())

    def _span_multi_td(
        self, match: dict, max_expansions: int
    ) -> tuple[DataFrame, int]:
        """The expansion DataFrame (term[, bucket]) + fid for a span_multi
        inner query — shared by the collected (span composition) and
        distributed (standalone) forms."""
        if len(match) != 1:
            raise ValueError(
                f"span_multi: exactly one inner query, got {sorted(match)}"
            )
        typ, spec = next(iter(match.items()))
        f, v = next(iter(spec.items()))
        fuzziness: int | str | None = None
        prefix_length = 0
        if isinstance(v, dict):
            fuzziness = v.get("fuzziness")
            prefix_length = int(v.get("prefix_length", 0))
            v = v.get("value", v.get("wildcard"))
        v = str(v)
        fid = self._fid(f)
        cap = int(max_expansions)
        if typ == "prefix":
            td = self.expand_prefix_df(v, fid, cap)
        elif typ == "wildcard":
            pat = re.escape(v).replace(r"\*", ".*").replace(r"\?", ".")
            td = self.expand_regexp_df(pat, fid, cap)
        elif typ == "regexp":
            td = self.expand_regexp_df(v, fid, cap)
        elif typ == "fuzzy":
            toks = self._analyze(v, fid)
            if len(toks) != 1:
                raise ValueError(
                    f"span_multi fuzzy: {v!r} must analyze to one term"
                )
            # honor an explicit fuzziness/prefix_length from the inner
            # spec (previously silently narrowed to AUTO)
            if fuzziness is None or str(fuzziness).upper() == "AUTO":
                dist: int = self._auto_fuzziness(toks[0])
            else:
                dist = int(fuzziness)
            td = self.expand_fuzzy_df(
                toks[0], dist, fid, cap, prefix_length=prefix_length
            )
        else:
            raise ValueError(
                f"span_multi: unsupported inner query {typ!r} "
                f"(prefix/wildcard/regexp/fuzzy)"
            )
        return td, fid

    def span_multi(
        self, match: dict, k: int = 10, max_expansions: int = 128
    ) -> DataFrame:
        """ES ``span_multi`` standalone: wrap a multi-term query in span
        context. Alone it matches exactly the docs the inner query matches
        (constant score, doc_id order); its value is as a CLAUSE inside
        span_near / span_first / span_not — see :meth:`span_near_slots`.

        The standalone form keeps the expansion DISTRIBUTED (broadcast
        semi-join like wildcard); only span composition collects the
        capped term list."""
        td, fid = self._span_multi_td(match, max_expansions)
        docs = self._live(self._docs_for_terms_df(td, fid).distinct())
        return (
            docs.withColumn("score", F.lit(1.0))
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def _span_windows(
        self, terms: list[str], slop: int, in_order: bool, fid: int
    ) -> DataFrame | None:
        """Every matching span_near window as (doc_id, start, end) token
        positions — the shared span-composition primitive (span_near takes
        distinct docs; span_containing/span_within join further spans
        against the window bounds). None when a clause term is absent from
        the dictionary (no window can match)."""
        return self._span_windows_slots(
            [([t], fid) for t in terms], slop, in_order
        )

    def _span_windows_slots(
        self,
        slots: list[tuple[list[str], int]],
        slop: int,
        in_order: bool,
    ) -> DataFrame | None:
        """Generalized span_near windows where each SLOT matches any of a
        set of alternative single terms read from its own field id — the
        primitive under span_multi-in-span_near (a slot is the capped
        multi-term expansion) and field_masking_span (a slot carries a
        different fid; Lucene compares the masked field's positions as-is,
        and so does the join chain here). ``slots`` items are
        (alternative_terms, fid); a slot none of whose terms exist in its
        field's dictionary can never match -> None.

        Plan: per-slot positional decode (union of that slot's terms, its
        OWN field's buckets pruned into the scan), masked by the rarest
        slot's doc set (a window needs one hit from EVERY slot, so the
        slot with the fewest total postings bounds the result), then the
        same n-1 position-band join chain as single-term span_near."""
        n = len(slots)
        # per-fid metadata scan: total df per slot; any empty slot -> None
        by_fid: dict[int, set[str]] = {}
        for terms, fid in slots:
            by_fid.setdefault(fid, set()).update(terms)
        df_by: dict[tuple[int, str], int] = {}
        for fid, ts in by_fid.items():
            rows = (
                self._candidate_postings(sorted(ts), fid)
                .groupBy("term")
                .agg(F.sum("n").alias("df"))
                .collect()
            )
            for r in rows:
                df_by[(fid, r["term"])] = int(r["df"])
        live_slots: list[tuple[list[str], int]] = []
        totals: list[int] = []
        for terms, fid in slots:
            live = [t for t in terms if df_by.get((fid, t))]
            if not live:
                return None
            live_slots.append((live, fid))
            totals.append(sum(df_by[(fid, t)] for t in live))
        # rarest-slot bootstrap: its ANY-of-terms doc set masks every decode
        ri = min(range(n), key=totals.__getitem__)
        bc_cand = None
        if totals[ri] <= self.id_push_budget:
            r_terms, r_fid = live_slots[ri]
            bc_cand = self._bc_ids(
                self._bounded_ids(self._docs_for_terms(r_terms, r_fid))
            )
        # one positional scan PER slot: each join branch re-executes its
        # subtree anyway, so per-slot scans cost no extra reads but push
        # term IN (...) (hence exact buckets) into that branch's parquet
        # scan — n decodes total instead of n² for a shared scan
        rows_by_slot: dict[tuple[int, tuple[str, ...]], DataFrame] = {}
        for terms, fid in live_slots:
            key = (fid, tuple(terms))
            if key not in rows_by_slot:
                rows_by_slot[key] = self._positions_for_terms(
                    terms, fid, allowed=bc_cand
                )

        def slot_rows(i: int) -> DataFrame:
            terms, fid = live_slots[i]
            return rows_by_slot[(fid, tuple(terms))]

        width = slop + n - 1  # max (last - first) inside a matching window
        base = slot_rows(0).select("doc_id", F.col("pos").alias("p0"))
        for i in range(1, n):
            nxt = slot_rows(i).select(
                F.col("doc_id").alias("_d"), F.col("pos").alias(f"p{i}")
            )
            if in_order:
                cond = (
                    (F.col("doc_id") == F.col("_d"))
                    & (F.col(f"p{i}") > F.col(f"p{i - 1}"))
                    & (F.col(f"p{i}") <= F.col("p0") + F.lit(width))
                )
            else:
                cond = (F.col("doc_id") == F.col("_d")) & (
                    F.abs(F.col(f"p{i}") - F.col("p0")) <= F.lit(width)
                )
            base = base.join(nxt, cond, "inner").drop("_d")
        pos_cols = [F.col(f"p{i}") for i in range(n)]
        if in_order:
            # the chain already enforced increase + band; nothing left
            fit = F.lit(True)
        else:
            fit = (
                F.size(F.array_distinct(F.array(*pos_cols))) == F.lit(n)
            ) & (
                F.greatest(*pos_cols) - F.least(*pos_cols) <= F.lit(width)
            ) if n > 1 else F.lit(True)
        return base.filter(fit).select(
            "doc_id",
            F.least(*pos_cols).alias("start") if n > 1
            else F.col("p0").alias("start"),
            F.greatest(*pos_cols).alias("end") if n > 1
            else F.col("p0").alias("end"),
        )

    def span_or(
        self,
        clauses: Sequence[str],
        k: int = 10,
        field: str | int | None = None,
    ) -> DataFrame:
        """ES span_or: docs where ANY clause span matches. A clause that
        analyzes to one term is a span_term; a multi-token clause is the
        exact-phrase span (span_near slop 0 in order). Constant-score hits
        in doc_id order (filter context).

        Plan: per-clause doc sets (term decode or phrase-start chain),
        unioned then distinct — each leg bucket-pruned to its own terms."""
        if not clauses:
            raise ValueError("span_or: at least one clause")
        fid = self._fid(field)
        legs = []
        for c in clauses:
            toks = self._analyze(c, field)
            if not toks:
                continue
            if len(toks) == 1:
                legs.append(self._docs_for_terms(toks, fid))
            else:
                legs.append(self._phrase_doc_set(toks, fid))
        empty = local_df(self.spark, [], "doc_id long, score double")
        if not legs:
            return empty
        union = legs[0]
        for leg in legs[1:]:
            union = union.unionByName(leg)
        docs = self._live(union.distinct())
        return (
            docs.withColumn("score", F.lit(1.0))
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def span_containing(
        self,
        big: Sequence[str],
        little: str,
        slop: int = 0,
        in_order: bool = True,
        k: int = 10,
        field: str | int | None = None,
    ) -> DataFrame:
        """ES span_containing: matches of the ``big`` span (a span_near
        over single-term clauses) that CONTAIN a match of ``little`` (a
        span_term) — i.e. some little occurrence lies within the big
        window's [start, end]. In filter context this doc set equals
        span_within's (the two differ in WHICH spans they emit, which
        only matters for span scoring/highlighting). Constant-score hits
        in doc_id order.

        Plan: the span_near window chain keeps (start, end); one extra
        banded hash join against the little term's positional decode."""
        if not self.meta.get("store_positions"):
            raise ValueError(
                "span_containing needs an index built with "
                "store_positions=True"
            )
        empty = local_df(self.spark, [], "doc_id long, score double")
        big_terms: list[str] = []
        for c in big:
            toks = self._analyze(c, field)
            if len(toks) != 1:
                raise ValueError(
                    f"span_containing: big clause {c!r} must analyze to "
                    f"exactly one term (got {toks!r})"
                )
            big_terms.append(toks[0])
        lt = self._analyze(little, field)
        if len(lt) != 1:
            raise ValueError(
                f"span_containing: little must analyze to exactly one "
                f"term (got {lt!r})"
            )
        if not big_terms:
            return empty
        fid = self._fid(field)
        wins = self._span_windows(big_terms, slop, in_order, fid)
        if wins is None:
            return empty
        lp = self._positions_for_terms(lt, fid).select(
            F.col("doc_id").alias("_d"), F.col("pos").alias("lp")
        )
        cond = (
            (F.col("doc_id") == F.col("_d"))
            & (F.col("lp") >= F.col("start"))
            & (F.col("lp") <= F.col("end"))
        )
        docs = self._live(
            wins.join(lp, cond, "left_semi").select("doc_id").distinct()
        )
        return (
            docs.withColumn("score", F.lit(1.0))
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def span_within(
        self,
        little: str,
        big: Sequence[str],
        slop: int = 0,
        in_order: bool = True,
        k: int = 10,
        field: str | int | None = None,
    ) -> DataFrame:
        """ES span_within: matches of ``little`` that lie within a ``big``
        span. Doc-for-doc this is span_containing with the roles stated
        from the little span's side — the emitted DOC SET is identical
        (only the returned spans differ in ES, which affects span scoring
        we don't model in filter context)."""
        return self.span_containing(
            big, little, slop=slop, in_order=in_order, k=k, field=field
        )

    def span_first(
        self,
        query: str,
        end: int,
        k: int = 10,
        field: str | int | None = None,
    ) -> DataFrame:
        """ES span_first: the term must occur within the first ``end``
        token positions of the field (0-based position < end — a span's
        end offset is pos+1 and Lucene requires end(span) <= end).
        Constant-score hits in doc_id order (filter context).

        Plan: one positional decode of the single query term (bucket-
        pruned), position filter, distinct — no joins at all."""
        if not self.meta.get("store_positions"):
            raise ValueError(
                "span_first needs an index built with store_positions=True"
            )
        empty = local_df(self.spark, [], "doc_id long, score double")
        terms = self._analyze(query, field)
        if len(terms) != 1:
            raise ValueError(
                f"span_first: query must analyze to exactly one term "
                f"(got {terms!r})"
            )
        fid = self._fid(field)
        rows = self._positions_for_terms(terms, fid)
        docs = self._live(
            rows.filter(F.col("pos") < F.lit(int(end)))
            .select("doc_id")
            .distinct()
        )
        return (
            docs.withColumn("score", F.lit(1.0))
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def span_not(
        self,
        include: str,
        exclude: str,
        pre: int = 0,
        post: int = 0,
        k: int = 10,
        field: str | int | None = None,
    ) -> DataFrame:
        """ES span_not: match ``include`` occurrences NOT within ``pre``
        positions before / ``post`` positions after any ``exclude``
        occurrence — negative proximity ("apple but not near pie"). For
        unit-width spans an include position p is killed iff an exclude
        position q exists with p − pre ≤ q ≤ p + post; the doc matches if
        ANY include position survives. Constant-score hits in doc_id
        order (filter context).

        Plan: two single-term positional decodes, one banded LEFT ANTI
        hash join on doc_id (residual position-band condition), distinct.
        Docs without the exclude term never decode exclude positions
        (bucket-pruned scan of just the two terms)."""
        if not self.meta.get("store_positions"):
            raise ValueError(
                "span_not needs an index built with store_positions=True"
            )
        inc_t = self._analyze(include, field)
        exc_t = self._analyze(exclude, field)
        if len(inc_t) != 1 or len(exc_t) != 1:
            raise ValueError(
                "span_not: include and exclude must each analyze to "
                f"exactly one term (got {inc_t!r}, {exc_t!r})"
            )
        fid = self._fid(field)
        inc = self._positions_for_terms(inc_t, fid).alias("i")
        exc = self._positions_for_terms(exc_t, fid).alias("e")
        cond = (
            (F.col("i.doc_id") == F.col("e.doc_id"))
            & (F.col("e.pos") >= F.col("i.pos") - F.lit(int(pre)))
            & (F.col("e.pos") <= F.col("i.pos") + F.lit(int(post)))
        )
        docs = self._live(
            inc.join(exc, cond, "left_anti").select("doc_id").distinct()
        )
        return (
            docs.withColumn("score", F.lit(1.0))
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def intervals_query(
        self,
        source: dict,
        k: int = 10,
        field: str | int | None = None,
    ) -> DataFrame:
        """ES ``intervals`` query — the structured proximity algebra that
        subsumes span queries. Supported sources (each a one-key dict):

        - ``{"match": {"query": str, "max_gaps": int, "ordered": bool}}`` —
          the analyzed tokens within a window of at most ``len + max_gaps``
          positions (``ordered`` forces increasing positions). Multi-term
          match REQUIRES ``max_gaps >= 0`` (the unbounded default would be
          an all-positions product; ES bodies in the wild always bound it —
          use a plain ``match`` query for unbounded co-occurrence).
        - ``{"prefix": str}`` / ``{"wildcard": str}`` /
          ``{"fuzzy": {"term": str, "fuzziness": int}}`` — dictionary
          expansion (capped, distributed — the same broadcast-semi-join
          rewrite as the wildcard/fuzzy queries), each occurrence a
          unit-width interval.
        - ``{"any_of": {"intervals": [...]}}`` — union of child windows.
        - ``{"all_of": {"intervals": [...], "ordered": bool,
          "max_gaps": int}}`` — every child matches; ``ordered`` chains
          children strictly after one another (non-overlapping, in order);
          ``max_gaps >= 0`` bounds the positions inside the combined window
          not covered by children (ordered children are disjoint, so
          gaps = combined_width - sum(child widths); the unordered form
          follows Lucene's overlap-permitting UNORDERED source, where that
          same expression can go negative and the bound still applies).

        Doc-level equivalence with Lucene's minimal-interval semantics: our
        window sets contain every satisfying window (minimal ones
        included), and all constraints are monotone under shrinking, so a
        doc matches here iff some minimal-interval assignment matches.
        Constant-score hits in doc_id order (filter context), like the
        span family.

        Plan: one bucket-pruned positional decode per leaf term set,
        banded hash joins per all_of/match composition, distinct windows
        per child to bound join width."""
        if not self.meta.get("store_positions"):
            raise ValueError(
                "intervals_query needs an index built with "
                "store_positions=True"
            )
        fid = self._fid(field)
        wins = self._intervals_windows(source, field, fid)
        empty = local_df(self.spark, [], "doc_id long, score double")
        if wins is None:
            return empty
        docs = self._live(wins.select("doc_id").distinct())
        return (
            docs.withColumn("score", F.lit(1.0))
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def _intervals_windows(
        self, src: dict, field, fid: int
    ) -> DataFrame | None:
        """Window set (doc_id, start, end) for one intervals source — the
        recursive compiler behind intervals_query. None = provably empty
        (a leaf term missing from the dictionary)."""
        if not isinstance(src, dict) or len(src) != 1:
            raise ValueError(
                f"intervals source must be a one-key dict, got {src!r}"
            )
        kind, body = next(iter(src.items()))
        if kind == "match":
            terms = self._analyze(body["query"], field)
            if not terms:
                return None
            if len(terms) == 1:
                return self._unit_windows_for_terms(terms, fid)
            max_gaps = int(body.get("max_gaps", -1))
            if max_gaps < 0:
                raise ValueError(
                    "intervals match with multiple terms requires "
                    "max_gaps >= 0 (unbounded would be an all-positions "
                    "product; use a match query for plain co-occurrence)"
                )
            return self._span_windows(
                terms, max_gaps, bool(body.get("ordered", False)), fid
            )
        if kind in ("prefix", "wildcard", "fuzzy"):
            # Lucene's IntervalsSource expansion budget is 128 terms; an
            # explicit {"...", "max_expansions": N} in the source overrides
            cap = 128
            if isinstance(body, dict) and "max_expansions" in body:
                cap = int(body["max_expansions"])
            if kind == "prefix":
                pat = body["prefix"] if isinstance(body, dict) else body
                tdf = self.expand_prefix_df(str(pat), field, cap)
            elif kind == "wildcard":
                pat = body["wildcard"] if isinstance(body, dict) else body
                tdf = self.expand_regexp_df(
                    _wildcard_to_regexp(str(pat)), field, cap
                )
            else:
                tdf = self.expand_fuzzy_df(
                    body["term"], int(body.get("fuzziness", 1)), field, cap
                )
            pos = self._positions_for_terms_df(tdf, fid)
            return pos.select(
                "doc_id", F.col("pos").alias("start"), F.col("pos").alias("end")
            )
        if kind == "any_of":
            kids = [
                self._intervals_windows(s, field, fid)
                for s in body["intervals"]
            ]
            kids = [w for w in kids if w is not None]
            if not kids:
                return None
            out = kids[0]
            for w in kids[1:]:
                out = out.unionByName(w)
            return out
        if kind == "all_of":
            kids = [
                self._intervals_windows(s, field, fid)
                for s in body["intervals"]
            ]
            if any(w is None for w in kids) or not kids:
                return None
            ordered = bool(body.get("ordered", False))
            max_gaps = int(body.get("max_gaps", -1))
            base = kids[0].select(
                "doc_id",
                F.col("start").alias("s0"),
                F.col("end").alias("e0"),
            ).distinct()
            for i, w in enumerate(kids[1:], start=1):
                nxt = w.select(
                    F.col("doc_id").alias("_d"),
                    F.col("start").alias(f"s{i}"),
                    F.col("end").alias(f"e{i}"),
                ).distinct()
                cond = F.col("doc_id") == F.col("_d")
                if ordered:
                    cond = cond & (F.col(f"s{i}") > F.col(f"e{i - 1}"))
                base = base.join(nxt, cond, "inner").drop("_d")
            n = len(kids)
            starts = [F.col(f"s{i}") for i in range(n)]
            ends = [F.col(f"e{i}") for i in range(n)]
            lo = F.least(*starts) if n > 1 else starts[0]
            hi = F.greatest(*ends) if n > 1 else ends[0]
            if max_gaps >= 0:
                covered = sum(
                    (F.col(f"e{i}") - F.col(f"s{i}") + F.lit(1))
                    for i in range(n)
                )
                base = base.filter(
                    (hi - lo + F.lit(1)) - covered <= F.lit(max_gaps)
                )
            return base.select(
                "doc_id", lo.alias("start"), hi.alias("end")
            ).distinct()
        raise ValueError(f"unsupported intervals source kind: {kind!r}")

    def _unit_windows_for_terms(
        self, terms: list[str], fid: int
    ) -> DataFrame | None:
        """Unit-width windows (doc_id, pos, pos) for literal terms; None if
        none are in the dictionary."""
        known = self.term_stats(terms, fid)
        live = [t for t in terms if known.get(t)]
        if not live:
            return None
        pos = self._positions_for_terms(live, fid)
        return pos.select(
            "doc_id", F.col("pos").alias("start"), F.col("pos").alias("end")
        )

    def termvectors(
        self, *key_values, field: str | int | None = None
    ) -> DataFrame:
        """ES _termvectors: the analyzed term -> frequency vector of ONE
        document, recomputed from the stored source field (the ES
        ``_source``-backed path — this engine's postings are term-major,
        so per-doc vectors come from the stored text, exactly like ES
        regenerates them when term vectors aren't indexed). Requires the
        text column in ``meta_cols``. Rows (term, tf) ordered by term.

        Plan: one get-by-key point lookup (broadcast), tokenize that one
        row JVM-side, explode + count — O(1) documents touched."""
        from ..functions.tokenizer import tokenize_col

        col = self.fields[self._fid(field)]
        if "._" in col:
            raise ValueError(
                "termvectors: use the base field, not a shingle subfield"
            )
        key_cols = list(self.meta.get("doc_key_cols") or [])
        if key_cols and len(key_values) != len(key_cols):
            raise ValueError(
                f"termvectors is strictly per-document: need the full key "
                f"{key_cols}, got {len(key_values)} value(s) — a partial "
                f"key would silently merge several documents' vectors"
            )
        doc = self.get_by_key(*key_values)
        if col not in doc.columns:
            raise ValueError(
                f"termvectors needs {col!r} stored in meta_cols"
            )
        return (
            doc.select(F.explode(tokenize_col(F.col(col))).alias("term"))
            .groupBy("term")
            .agg(F.count("*").alias("tf"))
            .orderBy(F.asc("term"))
        )

    def mtermvectors(
        self, keys: Sequence[tuple], field: str | int | None = None
    ) -> DataFrame:
        """ES _mtermvectors: term vectors for SEVERAL documents in one
        pass — one multi-key broadcast lookup (get_by_keys) + one
        tokenize/explode/count, instead of len(keys) point jobs. Rows
        (key cols..., term, tf), term-ascending within a document."""
        from ..functions.tokenizer import tokenize_col

        col = self.fields[self._fid(field)]
        if "._" in col:
            raise ValueError(
                "mtermvectors: use the base field, not a shingle subfield"
            )
        key_cols = list(self.meta.get("doc_key_cols") or [])
        docs = self.get_by_keys(list(keys))
        if col not in docs.columns:
            raise ValueError(
                f"mtermvectors needs {col!r} stored in meta_cols"
            )
        return (
            docs.select(
                *key_cols, F.explode(tokenize_col(F.col(col))).alias("term")
            )
            .groupBy(*key_cols, "term")
            .agg(F.count("*").alias("tf"))
            .orderBy(*[F.asc(c) for c in key_cols], F.asc("term"))
        )

    def _match_meta(self, query, field, cols, filters=None):
        """Match-set doc_ids (docs containing ANY analyzed query term)
        joined with the named doc_stats columns — the shared preamble of
        the aggregation family. ``query=None`` is ES match_all (every
        live doc); ``filters`` is a Column predicate over doc_stats
        columns — the bool filter context an ES search body applies to
        its aggregations as well as its hits."""
        ds = self.doc_stats()
        if filters is not None:
            ds = ds.filter(filters)
        ds = ds.select("doc_id", *cols)
        if query is None:
            return ds
        fid = self._fid(field)
        terms = sorted(set(self._analyze(query, field)))
        docs = self._docs_for_terms(terms, fid)
        return docs.join(ds, "doc_id")

    def facet(
        self,
        query: str,
        by: str,
        k: int = 10,
        field: str | int | None = None,
        filters: Column | None = None,
        order: tuple[str, str] | None = None,
        missing=None,
        min_doc_count: int = 1,
    ) -> DataFrame:
        """ES terms aggregation over the match set: docs containing ANY query
        term (constant-score match), bucketed by a doc_stats column, count
        desc. The ES `aggs: {terms: {field: ...}}` shape the reference's
        Kibana dashboards use over these indexes.

        ES knobs: ``order`` = (key, 'asc'|'desc') where key is '_count'
        or '_key' (sub-metric ordering lives on facet_stats); ``missing``
        buckets null values under the given stand-in instead of dropping
        them; ``min_doc_count`` hides buckets below the threshold (both
        applied BEFORE the top-k cut, like ES)."""
        joined = self._match_meta(query, field, [by], filters)
        col = F.col(by)
        if missing is not None:
            col = F.coalesce(col, F.lit(missing))
        grouped = joined.groupBy(col.alias(by)).agg(
            F.count("*").alias("doc_count")
        )
        if min_doc_count > 1:
            grouped = grouped.filter(F.col("doc_count") >= min_doc_count)
        return grouped.orderBy(*_terms_order(order, by)).limit(k)

    def _nested_path(self, path: str):
        """Validate that ``path`` is an array<struct> doc_stats column (the
        engine's nested-field representation) and return its element
        StructType."""
        from pyspark.sql.types import ArrayType, StructType

        schema = self.doc_stats().schema
        if path not in schema.names:
            raise ValueError(
                f"nested: {path!r} is not a doc_stats column "
                f"(columns: {sorted(schema.names)})"
            )
        dt = schema[path].dataType
        if not (isinstance(dt, ArrayType) and isinstance(dt.elementType, StructType)):
            raise ValueError(
                f"nested: {path!r} is not an array<struct> column "
                f"(got {dt.simpleString()}) — nested fields are stored as "
                f"array<struct> meta columns"
            )
        return dt.elementType

    def nested_terms(
        self,
        path: str,
        by: str,
        query: str | None = None,
        k: int = 10,
        field: str | int | None = None,
        filters: Column | None = None,
        nested_filter=None,
        reverse: bool = False,
    ) -> DataFrame:
        """ES ``nested`` aggregation with a ``terms`` sub-agg: bucket the
        ELEMENTS of an array<struct> meta column over the match set.
        ``doc_count`` counts nested sub-documents (ES nested-agg
        semantics — each array element is a hidden doc); ``reverse=True``
        adds ``parent_doc_count`` = distinct parent docs per bucket (the
        ``reverse_nested`` sub-agg, which is how ES climbs back to parent
        counts). ``nested_filter`` is an element-level predicate
        ``Callable[[Column], Column]`` applied before bucketing (the
        ``nested`` query-inside-agg filter).

        Plan: match set -> one explode (narrow generator) -> one hash
        aggregate on the element key; ``parent_doc_count`` rides the same
        aggregate as a count(distinct doc_id). No child-table join — the
        nested column lives in the parent's row group, exactly why ES/
        Lucene co-locate nested docs with their parent block."""
        elem = self._nested_path(path)
        if by not in elem.names:
            raise ValueError(
                f"nested_terms: {by!r} is not a field of {path!r} "
                f"(fields: {sorted(elem.names)})"
            )
        joined = self._match_meta(query, field, [path], filters)
        arr = F.col(path)
        if nested_filter is not None:
            arr = F.filter(arr, nested_filter)
        ex = joined.select("doc_id", F.explode(arr).alias("_e"))
        out_aggs = [F.count("*").alias("doc_count")]
        if reverse:
            out_aggs.append(
                F.countDistinct("doc_id").alias("parent_doc_count")
            )
        return (
            ex.groupBy(F.col(f"_e.{by}").alias(by))
            .agg(*out_aggs)
            .orderBy(F.desc("doc_count"), F.asc(by))
            .limit(k)
        )

    def histogram(
        self,
        query: str,
        by: str,
        interval: float,
        k: int = 1000,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES histogram aggregation over the match set: docs containing ANY
        query term, bucketed by floor(doc_stats.by / interval) * interval,
        bucket ascending (the numeric sibling of facet/terms-agg that the
        reference's Kibana dashboards chart). ES supports double intervals:
        integral intervals keep long bucket keys; fractional ones keep
        double keys (casting those to long would merge e.g. the 0.0 and
        0.5 buckets)."""
        if not interval > 0:
            raise ValueError(f"histogram: interval must be > 0, got {interval}")
        joined = self._match_meta(query, field, [by], filters)
        bucket = F.floor(F.col(by) / F.lit(interval)) * F.lit(interval)
        bucket = (
            bucket.cast("long")
            if float(interval) == int(interval)
            else bucket.cast("double")
        )
        return (
            joined.groupBy(bucket.alias("bucket"))
            .agg(F.count("*").alias("doc_count"))
            .orderBy(F.asc("bucket"))
            .limit(k)
        )

    def stats_agg(
        self, query: str, on: str, field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES stats aggregation (count/min/max/sum/avg of a doc_stats column
        over the match set) — one row."""
        joined = self._match_meta(query, field, [on], filters)
        return joined.agg(
            F.count("*").alias("count"),
            F.min(on).alias("min"),
            F.max(on).alias("max"),
            F.sum(on).alias("sum"),
            F.avg(on).alias("avg"),
        )

    def extended_stats_agg(
        self, query: str, on: str, field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES extended_stats: stats plus sum_of_squares, variance (population,
        like ES), std_deviation, and the +/- 2-sigma std_deviation_bounds —
        one row, one aggregation pass."""
        joined = self._match_meta(query, field, [on], filters)
        row = joined.agg(
            F.count("*").alias("count"),
            F.min(on).alias("min"),
            F.max(on).alias("max"),
            F.sum(on).alias("sum"),
            F.avg(on).alias("avg"),
            F.sum(F.col(on) * F.col(on)).alias("sum_of_squares"),
            F.var_pop(on).alias("variance"),
            F.stddev_pop(on).alias("std_deviation"),
        )
        return row.select(
            "*",
            (F.col("avg") + 2 * F.col("std_deviation")).alias("std_upper"),
            (F.col("avg") - 2 * F.col("std_deviation")).alias("std_lower"),
        )

    def scripted_metric(
        self,
        query: str | None,
        cols: Sequence[str],
        init_fn: Callable[[], Any],
        map_fn: Callable[[Any, pd.DataFrame], Any],
        combine_fn: Callable[[Any], Any] | None = None,
        reduce_fn: Callable[[list[Any]], Any] | None = None,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> Any:
        """ES scripted_metric aggregation, Spark-first: the user supplies the
        same four-phase contract ES expresses in Painless
        (init/map/combine/reduce — Running-ELK.md's ES 8.6.2 supports it as
        the escape-hatch agg), as Python callables instead of scripts:

          init_fn()                 -> state         (per partition ≙ shard)
          map_fn(state, batch_pdf)  -> state         (per ARROW BATCH)
          combine_fn(state)         -> partial       (per partition ≙ shard)
          reduce_fn([partials])     -> result        (driver ≙ coordinator)

        The one deliberate deviation from ES: map runs per Arrow batch
        (a pandas.DataFrame of match-set rows with the requested doc_stats
        ``cols``), not per document — the vectorized form is the reason to
        run this on Spark at all, and any per-doc map is expressible as a
        batch fold. Execution is a single ``mapInPandas`` over the match
        set; each partition emits ONE pickled partial, so the driver
        collects O(n_partitions) small blobs (exactly the coordinating
        node's burden in ES) and never sees match-set rows. Empty
        partitions still contribute combine(init()) — same as empty ES
        shards. State/partials must be picklable; the callables travel in
        the task closure via Spark's cloudpickle (lambdas fine).

        Returns reduce_fn's value, or the raw list of partials when no
        reduce_fn is given (ES's default reduce is also "hand back the
        shard states")."""
        import pickle

        joined = self._match_meta(query, field, list(cols), filters)

        def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            state = init_fn()
            for pdf in batches:
                state = map_fn(state, pdf)
            partial = combine_fn(state) if combine_fn is not None else state
            yield pd.DataFrame({"partial": [pickle.dumps(partial)]})

        rows = joined.mapInPandas(fold, schema="partial binary").collect()
        partials = [pickle.loads(r["partial"]) for r in rows]
        if reduce_fn is not None:
            return reduce_fn(partials)
        return partials

    def range_agg(
        self,
        query: str,
        on: str,
        ranges: Sequence[tuple[float | None, float | None]],
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES range aggregation: one bucket per (from, to) pair — from
        inclusive, to exclusive, None = unbounded, buckets may overlap
        (a doc counts in every range it falls in, like ES). One match-set
        pass; each bucket is a conditional count in a single aggregation,
        not a scan per range."""
        if not ranges:
            raise ValueError("range_agg: at least one (from, to) range")
        joined = self._match_meta(query, field, [on], filters)
        aggs = []
        keys = []
        for i, (lo, hi) in enumerate(ranges):
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (F.col(on) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(on) < F.lit(hi))
            key = f"{'*' if lo is None else lo}-{'*' if hi is None else hi}"
            keys.append(key)
            aggs.append(
                F.sum(F.when(cond, 1).otherwise(0)).alias(f"_b{i}")
            )
        row = joined.agg(*aggs)
        buckets = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("key"),
                        F.col(f"_b{i}").cast("long").alias("doc_count"),
                    )
                    for i, k in enumerate(keys)
                ]
            )
        ).alias("b")
        return row.select(buckets).select("b.key", "b.doc_count")

    def filters_agg(
        self,
        query: str,
        filters: dict[str, Column],
        cols: Sequence[str],
        field: str | int | None = None,
        doc_filters: Column | None = None,
    ) -> DataFrame:
        """ES filters aggregation: a named bucket per filter expression over
        the match set (buckets overlap freely). ``cols`` names the
        doc_stats columns the filter expressions reference (kept explicit
        so the scan stays column-pruned). All buckets are conditional
        counts in ONE aggregation over one match-set pass."""
        if not filters:
            raise ValueError("filters_agg: at least one named filter")
        joined = self._match_meta(query, field, list(cols), doc_filters)
        names = sorted(filters)
        row = joined.agg(
            *[
                F.sum(F.when(filters[n], 1).otherwise(0)).alias(f"_f{i}")
                for i, n in enumerate(names)
            ]
        )
        buckets = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("key"),
                        F.col(f"_f{i}").cast("long").alias("doc_count"),
                    )
                    for i, n in enumerate(names)
                ]
            )
        ).alias("b")
        return row.select(buckets).select("b.key", "b.doc_count")

    def missing_agg(
        self, query: str, on: str, field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES missing aggregation: how many match-set docs lack a value in
        the given doc_stats column — one row."""
        joined = self._match_meta(query, field, [on], filters)
        return joined.agg(
            F.sum(F.when(F.col(on).isNull(), 1).otherwise(0))
            .cast("long")
            .alias("doc_count")
        )

    def percentile_ranks(
        self,
        query: str,
        on: str,
        values: Sequence[float],
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES percentile_ranks aggregation: for each probe value, the percent
        of match-set observations at or below it. Exact (ES approximates via
        TDigest): rank(v) = 100 * (count(x < v) + 0.5 * count(x == v)) / n —
        the midpoint-at-ties convention TDigest's cdf converges to. One
        conditional aggregation pass, one row per probe value."""
        if not values:
            raise ValueError("percentile_ranks: at least one probe value")
        joined = self._match_meta(query, field, [on], filters)
        aggs = [F.count("*").alias("_n")]
        for i, v in enumerate(values):
            aggs.append(
                (
                    F.sum(F.when(F.col(on) < F.lit(float(v)), 1.0).otherwise(0.0))
                    + 0.5
                    * F.sum(F.when(F.col(on) == F.lit(float(v)), 1.0).otherwise(0.0))
                ).alias(f"_r{i}")
            )
        row = joined.agg(*aggs)
        out = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(float(v)).alias("value"),
                        (100.0 * F.col(f"_r{i}") / F.col("_n")).alias("rank"),
                    )
                    for i, v in enumerate(values)
                ]
            )
        ).alias("b")
        return row.select(out).select(
            "b.value", F.round("b.rank", 6).alias("rank")
        )

    def string_stats(
        self, query: str, on: str, field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES string_stats aggregation over a stored string column of the
        match set: count, min_length, max_length, avg_length, and Shannon
        entropy (bits) of the character distribution across all values.
        Two partial-agg passes (length stats + char counts) joined as
        single-row frames — no driver-side iteration."""
        joined = self._match_meta(query, field, [on], filters)
        vals = joined.filter(F.col(on).isNotNull())
        lstats = vals.agg(
            F.count("*").alias("count"),
            F.min(F.length(on)).alias("min_length"),
            F.max(F.length(on)).alias("max_length"),
            F.round(F.avg(F.length(on)), 6).alias("avg_length"),
        )
        chars = (
            vals.select(F.explode(F.split(F.col(on), "(?!^)")).alias("ch"))
            .filter(F.length("ch") > 0)
            .groupBy("ch")
            .agg(F.count("*").cast("double").alias("cnt"))
        )
        total = chars.agg(F.sum("cnt").alias("tot"))
        ent = (
            chars.crossJoin(F.broadcast(total))
            .select(
                (
                    -(F.col("cnt") / F.col("tot"))
                    * F.log2(F.col("cnt") / F.col("tot"))
                ).alias("h")
            )
            .agg(F.round(F.coalesce(F.sum("h"), F.lit(0.0)), 6).alias("entropy"))
        )
        return lstats.crossJoin(F.broadcast(ent))

    def categorize_text(
        self,
        query: str | None,
        on: str,
        k: int = 10,
        max_tokens: int = 5,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES ``categorize_text`` aggregation (the ML log-categorization
        agg, Running-ELK.md's dashboard family) over a stored text column
        of the match set, in its deterministic form: lowercase, split on
        non-alphanumerics, DROP tokens containing digits (ES's ml_standard
        analyzer discards numbers / hex / ids as variable parts), keep the
        first ``max_tokens`` stable tokens as the category key, then count
        docs per category. This is the agg at similarity_threshold=100 —
        the agglomerative sub-100 merge is a coordinator-side refinement
        ES also applies after the exact grouping; the exact grouping is
        the distributed part and what we verify.

        Scale shape: one JVM-side projection (split/filter/slice — no
        Python) + one groupBy on a short string key; the category key is
        bounded by ``max_tokens`` words so shuffle rows are tiny. Returns
        (category, doc_count) ordered doc_count desc, category asc."""
        if max_tokens < 1:
            raise ValueError(f"categorize_text: max_tokens >= 1, got {max_tokens}")
        joined = self._match_meta(query, field, [on], filters)
        cat = categorize_key(F.col(on), max_tokens)
        return (
            joined.filter(F.col(on).isNotNull())
            .select(cat.alias("category"))
            .filter(F.col("category") != "")
            .groupBy("category")
            .agg(F.count("*").alias("doc_count"))
            .orderBy(F.desc("doc_count"), F.asc("category"))
            .limit(k)
        )

    def variable_width_histogram(
        self,
        query: str | None,
        on: str,
        buckets: int = 5,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES ``variable_width_histogram`` in a deterministic variant:
        ES's native agg is an order-dependent online clustering (docs
        arrive per shard; results are explicitly approximate and
        non-reproducible across runs), which can never be oracle-verified.
        This implements the reproducible equivalent — equal-count
        (quantile) bucketing: rank the match-set values with ``ntile``
        under a total order (value, doc_id), then report per-bucket min,
        max, centroid (avg) and doc_count, the exact fields ES returns.

        Scale shape: a global sort (rangepartition) + one partial agg —
        the same cost profile as ES's reduce phase; no driver collect."""
        if buckets < 1:
            raise ValueError(f"variable_width_histogram: buckets >= 1, got {buckets}")
        from pyspark.sql.window import Window

        joined = self._match_meta(query, field, [on], filters)
        vals = joined.filter(F.col(on).isNotNull())
        w = Window.orderBy(F.asc(on), F.asc("doc_id"))
        return (
            vals.withColumn("b", F.ntile(buckets).over(w))
            .groupBy("b")
            .agg(
                F.min(on).alias("min"),
                F.max(on).alias("max"),
                F.round(F.avg(on), 6).alias("centroid"),
                F.count("*").alias("doc_count"),
            )
            .orderBy("b")
            .drop("b")
        )

    def normalize_pipeline(
        self,
        query: str,
        on: str,
        interval: str = "day",
        method: str = "percent_of_sum",
        k: int = 10000,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES ``normalize`` pipeline aggregation over a date_histogram's
        buckets: rescale each bucket's doc_count by ``method`` —
        ``percent_of_sum`` (share of total, ×100), ``mean`` normalization
        ((x - avg) / (max - min)), or ``rescale_0_1``. Like the other
        pipeline aggs this reduces the already-aggregated ≤k-row bucket
        table (the ES coordinator phase), not per-doc data; the window
        spans one tiny partition by construction."""
        if method not in ("percent_of_sum", "mean", "rescale_0_1"):
            raise ValueError(f"normalize: unknown method {method!r}")
        from pyspark.sql.window import Window

        buckets = self.date_histogram(
            query, on, interval, k=k, field=field, filters=filters
        )
        w = Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        x = F.col("doc_count").cast("double")
        if method == "percent_of_sum":
            norm = x * 100.0 / F.sum("doc_count").over(w)
        elif method == "mean":
            norm = (x - F.avg("doc_count").over(w)) / (
                F.max("doc_count").over(w) - F.min("doc_count").over(w)
            )
        else:
            norm = (x - F.min("doc_count").over(w)) / (
                F.max("doc_count").over(w) - F.min("doc_count").over(w)
            )
        return buckets.withColumn("normalized", F.round(norm, 6)).orderBy(
            "bucket"
        )

    def change_point(
        self,
        query: str,
        on: str,
        interval: str = "day",
        k: int = 10000,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES ``change_point`` aggregation (step-change detection over a
        date_histogram's bucket counts) in its deterministic core: the
        first split of binary segmentation — choose the boundary that
        maximizes the between-segment sum-of-squares reduction
        (equivalently, the two-segment fit with minimal residual SSE).
        Returns ONE row: the first bucket of the right segment plus
        left/right means and the SSE gain. ES layers a p-value on the same
        statistic; the split selection is the distributed part.

        All window arithmetic over the ≤k-row bucket table: cumulative
        integer sums give every candidate split's left/right means exactly
        — no driver loop, no per-doc pass beyond the histogram itself.
        Ties break toward the earliest bucket."""
        from pyspark.sql.window import Window

        buckets = self.date_histogram(
            query, on, interval, k=k, field=field, filters=filters
        )
        w = Window.orderBy("bucket")
        wall = Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        # candidate split BEFORE each row i (i = first right-segment row):
        # left = rows [0, i), right = rows [i, n)
        cand = (
            buckets.withColumn("i", F.row_number().over(w))
            .withColumn("cum", F.sum("doc_count").over(w))
            .withColumn("n", F.count("*").over(wall))
            .withColumn("tot", F.sum("doc_count").over(wall))
        )
        nl = F.col("i") - 1
        nr = F.col("n") - nl
        suml = (F.col("cum") - F.col("doc_count")).cast("double")
        sumr = (F.col("tot") - F.col("cum") + F.col("doc_count")).cast("double")
        # between-segment SSE gain vs the single-mean fit:
        #   gain = suml^2/nl + sumr^2/nr - tot^2/n   (integer sums -> exact)
        gain = (
            suml * suml / nl
            + sumr * sumr / nr
            - F.col("tot").cast("double") * F.col("tot") / F.col("n")
        )
        scored = cand.filter((nl >= 1) & (nr >= 1)).select(
            F.col("bucket"),
            F.round(suml / nl, 6).alias("left_mean"),
            F.round(sumr / nr, 6).alias("right_mean"),
            F.round(gain, 6).alias("gain"),
        )
        return scored.orderBy(F.desc("gain"), F.asc("bucket")).limit(1)

    def children_agg(
        self,
        query: str,
        join_field: str = "source",
        on: str = "lang",
        k: int = 10,
        field: str | int | None = None,
    ) -> DataFrame:
        """ES ``children`` aggregation (the join-field bucket switch): the
        query selects parents — here, parents with at least one matching
        child, the derived-parent model of :meth:`has_child` — and the
        aggregation then buckets over ALL children of those parents,
        grouped by child column ``on``. Returns (key, doc_count) ordered
        doc_count desc, key asc.

        Physical shape: match set → distinct parent keys (tiny: parent
        cardinality ≪ doc count) → BROADCAST semi-join back onto
        doc_stats → one hash aggregate. The corpus-side scan is the same
        doc_stats pass every agg performs; nothing is shuffled by child
        row."""
        terms = sorted(set(self._analyze(query, field)))
        fid = self._fid(field)
        ds = self.doc_stats()
        empty = local_df(self.spark, [], "key string, doc_count long")
        if not terms:
            return empty
        matched = self._docs_for_terms(terms, fid)
        if matched is None:
            return empty
        parents = (
            self._live(matched.select("doc_id"))
            .join(ds.select("doc_id", F.col(join_field).alias("_p")), "doc_id")
            .select("_p")
            .distinct()
        )
        return (
            ds.join(
                F.broadcast(parents),
                ds[join_field] == F.col("_p"),
                "left_semi",
            )
            .groupBy(F.col(on).alias("key"))
            .agg(F.count("*").alias("doc_count"))
            .orderBy(F.desc("doc_count"), F.asc("key"))
            .limit(k)
        )

    def percentiles_bucket(
        self,
        query: str,
        on: str,
        interval: str = "day",
        percents: Sequence[float] = (25.0, 50.0, 75.0),
        k: int = 10000,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES ``percentiles_bucket`` pipeline aggregation: exact linearly-
        interpolated percentiles OVER the date_histogram's bucket
        doc_counts (sibling pipeline — the input is the ≤k-row bucket
        table, the ES coordinator reduction, not per-doc data). Returns
        (percent, value) ordered by percent."""
        if not percents:
            raise ValueError("percentiles_bucket: need at least one percent")
        for p in percents:
            if not 0.0 <= float(p) <= 100.0:
                raise ValueError(f"percentiles_bucket: bad percent {p}")
        buckets = self.date_histogram(
            query, on, interval, k=k, field=field, filters=filters
        )
        fracs = ", ".join(str(float(p) / 100.0) for p in percents)
        plist = ", ".join(str(float(p)) for p in percents)
        return (
            buckets.agg(
                F.expr(
                    f"percentile(doc_count, array({fracs}))"
                ).alias("_v")
            )
            .select(
                F.explode(
                    F.arrays_zip(
                        F.expr(f"array({plist})").alias("percent"),
                        F.col("_v").alias("value"),
                    )
                ).alias("z")
            )
            .select(
                F.col("z.percent").alias("percent"),
                F.round(F.col("z.value"), 6).alias("value"),
            )
            .orderBy("percent")
        )

    def multi_terms(
        self,
        query: str,
        by: Sequence[str],
        k: int = 10,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES multi_terms aggregation: buckets keyed by a TUPLE of doc_stats
        columns over the match set, doc_count desc then keys asc (the ES
        order). Docs with a null in any key column are dropped, like ES
        (missing-bucket handling is opt-in there). One groupBy pass."""
        if not by:
            raise ValueError("multi_terms: at least one key column")
        joined = self._match_meta(query, field, list(by), filters)
        for c in by:
            joined = joined.filter(F.col(c).isNotNull())
        return (
            joined.groupBy(*by)
            .agg(F.count("*").alias("doc_count"))
            .orderBy(F.desc("doc_count"), *[F.asc(c) for c in by])
            .limit(k)
        )

    def global_agg(
        self, query: str, on: str, field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES global bucket: metrics over ALL live docs alongside the same
        metrics over the query's match set (the global agg escapes the
        query scope — the classic 'category share vs whole catalog'
        pattern). Two single-row aggregations, broadcast-joined."""
        scoped = self._match_meta(query, field, [on], filters).agg(
            F.count("*").alias("query_count"),
            F.round(F.avg(on), 6).alias("query_avg"),
        )
        everything = self.doc_stats().select("doc_id", on).agg(
            F.count("*").alias("global_count"),
            F.round(F.avg(on), 6).alias("global_avg"),
        )
        return scoped.crossJoin(F.broadcast(everything))

    def date_histogram(
        self,
        query: str,
        on: str,
        interval: str = "month",
        k: int = 10000,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES date_histogram (calendar_interval) over the match set — the
        date axis of the reference's Kibana dashboards over its time_frame
        field (import_dart_data.py:436-440, 628-641): docs
        containing ANY query term, bucketed by date_trunc(interval) of a
        doc_stats timestamp column, bucket ascending. Bucket emitted as a
        'yyyy-MM-dd HH:mm:ss' string (oracle-portable across timestamp
        dialects)."""
        joined = self._match_meta(query, field, [on], filters)
        bucket = F.date_format(
            F.date_trunc(interval, F.col(on)), "yyyy-MM-dd HH:mm:ss"
        )
        return (
            joined.groupBy(bucket.alias("bucket"))
            .agg(F.count("*").alias("doc_count"))
            .orderBy(F.asc("bucket"))
            .limit(k)
        )

    def weighted_avg(
        self, query: str, value: str, weight: str,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES weighted_avg aggregation: Σ(value·weight)/Σ(weight) over the
        match set — one row, one partial-aggregated pass."""
        j = self._match_meta(query, field, [value, weight], filters)
        return j.agg(
            F.round(
                F.sum(F.col(value) * F.col(weight)) / F.sum(F.col(weight)), 6
            ).alias("value")
        )

    def value_count(
        self, query: str, on: str, field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES value_count aggregation: number of NON-NULL values of a
        field across the match set (≠ doc count when the field is sparse,
        e.g. the optional-tag column)."""
        j = self._match_meta(query, field, [on], filters)
        return j.agg(F.count(F.col(on)).alias("value"))

    def boxplot(
        self, query: str, on: str, field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES boxplot aggregation: min / q1 / median / q3 / max of a
        numeric field over the match set. Exact linearly-interpolated
        quantiles (the same contract as percentiles(exact=True); ES's
        TDigest converges to this). One row."""
        j = self._match_meta(query, field, [on], filters)
        c = F.col(on).cast("double")
        return j.agg(
            F.min(c).alias("min"),
            F.round(F.percentile(c, F.lit(0.25)), 6).alias("q1"),
            F.round(F.percentile(c, F.lit(0.5)), 6).alias("q2"),
            F.round(F.percentile(c, F.lit(0.75)), 6).alias("q3"),
            F.max(c).alias("max"),
        )

    def median_absolute_deviation(
        self, query: str, on: str, field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES median_absolute_deviation: median(|x − median(x)|) — EXACT
        here (ES approximates with TDigest). Two aggregation passes over
        the match set with the 1-row median broadcast into the second —
        never a per-doc self-join."""
        j = self._match_meta(query, field, [on], filters)
        c = F.col(on).cast("double")
        med = j.agg(F.percentile(c, F.lit(0.5)).alias("_med"))
        return (
            j.crossJoin(F.broadcast(med))
            .agg(
                F.round(
                    F.percentile(F.abs(c - F.col("_med")), F.lit(0.5)), 6
                ).alias("value")
            )
        )

    def top_metrics(
        self, query: str, metric: str, sort: str,
        ascending: bool = False, field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES top_metrics (size=1): the ``metric`` value carried by the
        match-set row with the extreme ``sort`` value — max_by/min_by, a
        single partial-aggregated pass (no global sort). Deterministic
        only when ``sort`` is tie-free on the match set (doc_id, a
        keyset); ES has the same caveat."""
        j = self._match_meta(query, field, ([metric, sort] if metric != sort
                                            else [metric]), filters)
        agg = F.min_by(metric, sort) if ascending else F.max_by(metric, sort)
        srt = F.min(sort) if ascending else F.max(sort)
        return j.agg(agg.alias("metric"), srt.alias("sort"))

    def matrix_stats(
        self, query: str, col_a: str, col_b: str,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES matrix_stats (two-field case): correlation and sample
        covariance between two numeric fields over the match set — one
        partial-aggregated pass (Spark's corr/covar_samp are the same
        streaming co-moment update ES computes per shard and merges)."""
        j = self._match_meta(query, field, [col_a, col_b], filters)
        a, b = F.col(col_a).cast("double"), F.col(col_b).cast("double")
        return j.agg(
            F.round(F.corr(a, b), 6).alias("correlation"),
            F.round(F.covar_samp(a, b), 6).alias("covariance"),
            F.count("*").alias("doc_count"),
        )

    def t_test(
        self,
        query: str,
        on: str,
        by: str | None = None,
        group_a: str | None = None,
        group_b: str | None = None,
        on_b: str | None = None,
        test_type: str = "heteroscedastic",
        field: str | int | None = None,
        filters: Column | None = None,
        round_to: int | None = 6,
    ) -> DataFrame:
        """ES ``t_test`` metric aggregation: two-sample Student's t over a
        numeric doc column across the match set. Unpaired forms split the
        population by a categorical column (``by`` + ``group_a``/
        ``group_b`` — the ES body's per-side ``filter`` terms):
        ``heteroscedastic`` (Welch, the ES default) and ``homoscedastic``
        (pooled variance). ``paired`` compares two numeric columns on the
        SAME docs (``on`` vs ``on_b`` — the ES body's two ``field``\\ s
        with no filters). One row: t_stat, deg_f, p_value (two-tailed),
        n_a, n_b.

        Scale shape: ONE distributed partial-aggregated pass computes the
        per-group moments (count/avg/var_samp — the same streaming
        updates ES runs per shard); only the ≤2-row moment table reaches
        the driver, where t/df are closed-form scalars and the p-value is
        the regularized incomplete beta ``I_x(df/2, 1/2)`` at
        ``x = df/(df+t²)`` (pure-Python continued fraction — no SciPy).

        Oracle note: t_stat/deg_f/n are exactly replayable in SQL
        (var_samp is standard); p_value needs the special function, so
        gate rows compare the former and pytest pins p against an
        independent numeric integration of the t-density."""
        if test_type == "paired":
            if on_b is None:
                raise ValueError("t_test paired: need the second column on_b")
            j = self._match_meta(query, field, [on, on_b], filters)
            d = (F.col(on).cast("double") - F.col(on_b).cast("double"))
            m = j.agg(
                F.count("*").alias("n"),
                F.avg(d).alias("mean"),
                F.var_samp(d).alias("var"),
            ).first()
            n, mean_d, var_d = m["n"], m["mean"], m["var"]
            if n < 2 or not var_d or var_d <= 0.0:
                raise ValueError(
                    "t_test paired: need >= 2 docs and non-zero difference "
                    f"variance (n={n})"
                )
            t = mean_d / math.sqrt(var_d / n)
            df = float(n - 1)
            n_a = n_b = n
        elif test_type in ("heteroscedastic", "homoscedastic"):
            if by is None or group_a is None or group_b is None:
                raise ValueError(
                    "t_test unpaired: need by= and group_a=/group_b= "
                    "(the ES body's per-side filter terms)"
                )
            j = self._match_meta(query, field, [by, on], filters)
            rows = {
                r[by]: r
                for r in (
                    j.filter(F.col(by).isin(group_a, group_b))
                    .groupBy(by)
                    .agg(
                        F.count("*").alias("n"),
                        F.avg(F.col(on).cast("double")).alias("mean"),
                        F.var_samp(F.col(on).cast("double")).alias("var"),
                    )
                    .collect()
                )
            }
            if group_a not in rows or group_b not in rows:
                missing = [g for g in (group_a, group_b) if g not in rows]
                raise ValueError(f"t_test: empty population(s) {missing}")
            ra, rb = rows[group_a], rows[group_b]
            n_a, n_b = ra["n"], rb["n"]
            if n_a < 2 or n_b < 2:
                raise ValueError(
                    f"t_test: both sides need >= 2 docs (n_a={n_a}, n_b={n_b})"
                )
            va, vb = ra["var"] or 0.0, rb["var"] or 0.0
            if test_type == "heteroscedastic":
                se2 = va / n_a + vb / n_b
                if se2 <= 0.0:
                    raise ValueError("t_test: zero variance on both sides")
                t = (ra["mean"] - rb["mean"]) / math.sqrt(se2)
                # Welch–Satterthwaite effective degrees of freedom
                df = se2 * se2 / (
                    (va / n_a) ** 2 / (n_a - 1) + (vb / n_b) ** 2 / (n_b - 1)
                )
            else:
                sp2 = ((n_a - 1) * va + (n_b - 1) * vb) / (n_a + n_b - 2)
                if sp2 <= 0.0:
                    raise ValueError("t_test: zero pooled variance")
                t = (ra["mean"] - rb["mean"]) / math.sqrt(
                    sp2 * (1.0 / n_a + 1.0 / n_b)
                )
                df = float(n_a + n_b - 2)
        else:
            raise ValueError(
                f"t_test type {test_type!r}: heteroscedastic / "
                "homoscedastic / paired"
            )
        p = _student_t_sf2(t, df)
        rnd = (lambda v: round(v, round_to)) if round_to is not None else (
            lambda v: v
        )
        return local_df(self.spark, 
            [(rnd(float(t)), rnd(float(df)), rnd(float(p)), n_a, n_b)],
            "t_stat double, deg_f double, p_value double, n_a long, n_b long",
        )

    def date_histogram_pipeline(
        self,
        query: str,
        on: str,
        interval: str = "day",
        window: int = 3,
        k: int = 10000,
        field: str | int | None = None,
        filters: Column | None = None,
        value: str | None = None,
    ) -> DataFrame:
        """ES pipeline aggregations over a date_histogram's buckets:
        ``cumulative_sum`` (running doc_count), ``derivative``
        (parent-bucket difference; NULL for the first bucket — ES omits
        the value there), and ``moving_fn`` avg over a trailing
        ``window`` buckets including the current one (partial leading
        windows included, the MovingFunctions.unweightedAvg default).
        The Kibana time-series shapes (rate-of-change, running total,
        smoothing) over the reference's time axis
        (import_dart_data.py:436-440).

        ``value``: pipeline over a METRIC series instead of doc_count —
        ES's buckets_path to a sum sibling: each bucket carries
        sum(value) as ``metric`` and the pipelines read that column
        (cum_count stays the running metric total).

        Scale note: pipeline aggs reduce the ALREADY-AGGREGATED bucket
        table (≤k rows by construction) — the single-partition window
        here is the same coordinator-side reduction ES performs after
        shard aggs merge, not a per-doc shuffle. derivative/moving_avg
        are emitted as DOUBLE on purpose: a nullable integer column
        would round-trip through pandas as float anyway (the HUGEINT
        rendering-drift lesson), so both engine and oracle pin double."""
        if window < 1:
            raise ValueError(f"pipeline: window must be >= 1, got {window}")
        from pyspark.sql.window import Window

        if value is None:
            buckets = self.date_histogram(
                query, on, interval, k=k, field=field, filters=filters
            )
            series = "doc_count"
        else:
            joined = self._match_meta(query, field, [on, value], filters)
            bucket = F.date_format(
                F.date_trunc(interval, F.col(on)), "yyyy-MM-dd HH:mm:ss"
            )
            buckets = (
                joined.groupBy(bucket.alias("bucket"))
                .agg(
                    F.count("*").alias("doc_count"),
                    F.sum(value).alias("metric"),
                )
                .orderBy(F.asc("bucket"))
                .limit(k)
            )
            series = "metric"
        w = Window.orderBy("bucket")
        wmov = w.rowsBetween(-(window - 1), 0)
        return (
            buckets.withColumn("cum_count", F.sum(series).over(w))
            .withColumn(
                "derivative",
                (F.col(series) - F.lag(series).over(w)).cast("double"),
            )
            .withColumn(
                "moving_avg",
                F.round(
                    F.avg(F.col(series).cast("double")).over(wmov), 6
                ),
            )
            .orderBy(F.asc("bucket"))
        )

    def facet_nested(
        self,
        query: str | None,
        by: str,
        then_by: str,
        k: int = 10,
        k_inner: int = 5,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES terms-inside-terms drill-down (the two-level Kibana table):
        top-``k`` outer buckets by doc_count, each holding its own
        top-``k_inner`` inner buckets — both levels ordered count desc /
        key asc, inner counts scoped to their outer bucket.

        Plan: ONE two-key hash aggregate (partial map-side), the outer
        totals recovered from the pair counts with a window sum instead
        of a second scan; the per-parent inner cut is a row_number window
        over the ≤(outer×inner) reduced pair table. Never a second pass
        over the match set."""
        joined = self._match_meta(query, field, [by, then_by], filters)
        return self._nested_pairs(joined, F.col(by).alias(by), by, then_by, k, k_inner)

    def date_terms_nested(
        self,
        query: str | None,
        on: str,
        then_by: str,
        interval: str = "day",
        k: int = 10000,
        k_inner: int = 5,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """date_histogram with a terms sub-aggregation — the stacked-bar
        Kibana chart (per time bucket, the top ``k_inner`` terms with
        counts). Same single two-key aggregate as facet_nested, the outer
        key being the calendar bucket; outer ordering is the time axis
        (bucket asc), inner is count desc / key asc like ES."""
        joined = self._match_meta(query, field, [on, then_by], filters)
        bucket = F.date_format(
            F.date_trunc(interval, F.col(on)), "yyyy-MM-dd HH:mm:ss"
        ).alias("bucket")
        out = self._nested_pairs(
            joined, bucket, "bucket", then_by, k, k_inner, outer_by_key=True
        )
        return out.orderBy(
            F.asc("bucket"), F.desc("doc_count"), F.asc(then_by)
        )

    def _nested_pairs(
        self, joined, outer_expr, outer_name, then_by, k, k_inner,
        outer_by_key: bool = False,
    ) -> DataFrame:
        by = outer_name
        pairs = joined.groupBy(outer_expr, then_by).agg(
            F.count("*").alias("doc_count")
        )
        wtot = Window.partitionBy(by)
        pairs = pairs.withColumn(
            "outer_count", F.sum("doc_count").over(wtot)
        )
        wout = (
            Window.orderBy(F.asc(by)) if outer_by_key
            else Window.orderBy(F.desc("outer_count"), F.asc(by))
        )
        win = Window.partitionBy(by).orderBy(
            F.desc("doc_count"), F.asc(then_by)
        )
        ranked = (
            pairs.withColumn("_ri", F.row_number().over(win))
            .filter(F.col("_ri") <= int(k_inner))
            .withColumn("_ro", F.dense_rank().over(wout))
            .filter(F.col("_ro") <= int(k))
        )
        return ranked.select(
            by, "outer_count", then_by, "doc_count"
        ).orderBy(
            F.desc("outer_count"), F.asc(by),
            F.desc("doc_count"), F.asc(then_by),
        )

    def facet_percentiles(
        self,
        query: str | None,
        by: str,
        on: str,
        percents: Sequence[float] = (25.0, 50.0, 75.0),
        k: int = 10,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES terms aggregation with a percentiles sub-aggregation (the
        per-category latency-distribution dashboard): top-``k`` buckets
        by doc_count, each with EXACT linearly-interpolated percentiles
        of ``on`` (the same exact-beats-t-digest call percentiles()
        makes). One hash aggregate computing all percents per bucket,
        exploded to (bucket, doc_count, percent, value) rows."""
        if not percents:
            raise ValueError("facet_percentiles: need at least one percent")
        for p in percents:
            if not 0.0 <= float(p) <= 100.0:
                raise ValueError(f"facet_percentiles: bad percent {p}")
        joined = self._match_meta(query, field, [by, on], filters)
        fracs = ", ".join(str(float(p) / 100.0) for p in percents)
        plist = ", ".join(str(float(p)) for p in percents)
        buckets = (
            joined.groupBy(by)
            .agg(
                F.count("*").alias("doc_count"),
                F.expr(f"percentile({on}, array({fracs}))").alias("_q"),
            )
            .orderBy(F.desc("doc_count"), F.asc(by))
            .limit(k)
        )
        # a bucket whose metric is all-NULL gets percentile() = NULL;
        # arrays_zip(NULL) is NULL and explode(NULL) would DROP the bucket
        # from the top-k — ES keeps it with null values, so coalesce to an
        # array of nulls first
        null_arr = F.expr(
            "array(" + ", ".join(["CAST(NULL AS DOUBLE)"] * len(percents)) + ")"
        )
        pair = F.explode(
            F.arrays_zip(
                F.expr(f"array({plist})").alias("percent"),
                F.transform(
                    F.coalesce(F.col("_q"), null_arr),
                    lambda v: F.round(v, 6),
                ).alias("value"),
            )
        )
        return (
            buckets.select(by, "doc_count", pair.alias("_p"))
            .select(
                by, "doc_count",
                F.col("_p.percent").alias("percent"),
                F.col("_p.value").alias("value"),
            )
            .orderBy(F.desc("doc_count"), F.asc(by), F.asc("percent"))
        )

    def bucket_correlation(
        self,
        query: str | None,
        on: str,
        value: str,
        interval: str = "day",
        k: int = 10000,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES ``bucket_correlation`` pipeline agg (the useful core):
        Pearson correlation between the date_histogram's doc_count
        series and a per-bucket metric (sum of ``value``) — "does volume
        track the metric over time". One two-metric bucket aggregate,
        then corr() over the ≤k-row reduced table. Returns one row."""
        joined = self._match_meta(query, field, [on, value], filters)
        bucket = F.date_format(
            F.date_trunc(interval, F.col(on)), "yyyy-MM-dd HH:mm:ss"
        )
        buckets = (
            joined.groupBy(bucket.alias("bucket"))
            .agg(
                F.count("*").alias("doc_count"),
                F.sum(value).alias("_m"),
            )
            .limit(k)
        )
        return buckets.agg(
            F.round(
                F.corr(
                    F.col("doc_count").cast("double"),
                    F.col("_m").cast("double"),
                ),
                6,
            ).alias("correlation"),
            F.count("*").alias("n_buckets"),
        )

    def bucket_count_ks_test(
        self,
        query: str | None,
        on: str,
        fractions: Sequence[float] | None = None,
        interval: str = "day",
        alternative: str = "two_sided",
        k: int = 10000,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES ``bucket_count_ks_test`` sibling pipeline agg, with a
        PINNED deterministic model (ES's is Monte-Carlo-flavored; this
        one is the classic Kolmogorov-Smirnov so the value oracle is an
        equality): compare the date_histogram's per-bucket doc_count
        distribution against ``fractions`` (expected per-bucket weights,
        normalized; None = uniform, the ES default).

        statistic: with e_i = cumulative doc_count share and f_i =
        cumulative expected share over the bucket-ascending series,
        ``two_sided`` D = max|e-f|, ``greater`` D = max(e-f),
        ``less`` D = max(f-e). p_value: two_sided uses the asymptotic
        Kolmogorov series 2·Σ_{j≥1}(-1)^{j-1}·exp(-2j²λ²) (λ =
        (√n+0.12+0.11/√n)·D, n = total docs, 100 terms, clamped to
        [0,1]); one-sided uses exp(-2nD²).

        Scale shape: the per-doc work is ONE bucket aggregation; the
        K-S fold runs on the ≤k-row reduced series at the coordinator —
        where ES computes it too. Returns one row
        (statistic, p_value, n_buckets, n)."""
        if alternative not in ("two_sided", "less", "greater"):
            raise ValueError(
                f"bucket_count_ks_test: alternative must be two_sided/"
                f"less/greater, got {alternative!r}"
            )
        joined = self._match_meta(query, field, [on], filters)
        bucket = F.date_format(
            F.date_trunc(interval, F.col(on)), "yyyy-MM-dd HH:mm:ss"
        )
        rows = (
            joined.groupBy(bucket.alias("bucket"))
            .agg(F.count("*").alias("doc_count"))
            .orderBy(F.asc("bucket"))
            .limit(k)
            .collect()  # <= k reduced buckets — the pipeline-agg series
        )
        if not rows:
            raise ValueError("bucket_count_ks_test: empty bucket series")
        counts = [int(r["doc_count"]) for r in rows]
        nb, n = len(counts), sum(counts)
        if fractions is None:
            fr = [1.0 / nb] * nb
        else:
            fr = [float(x) for x in fractions]
            if len(fr) != nb:
                raise ValueError(
                    f"bucket_count_ks_test: {len(fr)} fractions for "
                    f"{nb} buckets"
                )
            s = sum(fr)
            if s <= 0 or any(x < 0 for x in fr):
                raise ValueError(
                    "bucket_count_ks_test: fractions must be >= 0 with a "
                    "positive sum"
                )
            fr = [x / s for x in fr]
        d = 0.0
        ci, cf = 0, 0.0
        for i, (c, f_) in enumerate(zip(counts, fr)):
            ci += c
            # uniform expected-cum = (i+1)/nb computed as ONE division (and
            # empirical as cumulative-int / n): the float path the SQL
            # oracle takes, so round-6 equality is exact, not ulp-lucky
            cf = (i + 1) / nb if fractions is None else cf + f_
            diff = ci / n - cf
            if alternative == "two_sided":
                d = max(d, abs(diff))
            elif alternative == "greater":
                d = max(d, diff)
            else:
                d = max(d, -diff)
        d = max(d, 0.0)
        if alternative == "two_sided":
            lam = (math.sqrt(n) + 0.12 + 0.11 / math.sqrt(n)) * d
            if lam <= 1e-9:  # the series alternates to 0 at λ=0; a perfect
                p = 1.0      # fit must report p=1, not 0
            else:
                p = 2.0 * sum(
                    (-1.0) ** (j - 1) * math.exp(-2.0 * j * j * lam * lam)
                    for j in range(1, 101)
                )
                p = min(1.0, max(0.0, p))
        else:
            p = math.exp(-2.0 * n * d * d)
        return local_df(self.spark, 
            [(round(d, 6), round(p, 6), nb, n)],
            "statistic double, p_value double, n_buckets int, n long",
        )

    def bucket_script(
        self,
        query: str | None,
        by: str,
        aggs: dict[str, tuple[str, str]],
        scripts: dict[str, str] | None = None,
        having: str | None = None,
        k: int = 10,
        field: str | int | None = None,
        filters: Column | None = None,
        round_script: int | None = 6,
    ) -> DataFrame:
        """ES ``bucket_script`` + ``bucket_selector`` pipeline aggs over a
        terms parent: buckets of a doc_stats column with named metric
        sub-aggs (``aggs``: name -> (fn, col), fn in count/sum/avg/min/
        max), then per-bucket computed columns (``scripts``: name -> Spark
        SQL expression over the sibling agg names — the engine's scripting
        dialect, same as runtime fields) and an optional boolean
        ``having`` expression that drops buckets (bucket_selector). ES
        order of operations preserved: the terms agg selects its top-k
        buckets FIRST (doc_count desc, key asc), pipelines run on that
        reduced table — so a selector never promotes bucket k+1.

        Scale note: scripts/selector are projections/filters over the
        ≤k-row reduced bucket table (coordinator-side in ES terms); the
        one distributed pass is the partial-aggregated groupBy."""
        fns = {
            "count": lambda c: F.count("*"),
            "sum": lambda c: F.sum(c),
            "avg": lambda c: F.avg(c),
            "min": lambda c: F.min(c),
            "max": lambda c: F.max(c),
        }
        bad = [f for f, _ in aggs.values() if f not in fns]
        if bad:
            raise ValueError(f"bucket_script: unsupported agg fns {bad}")
        cols = sorted({c for f, c in aggs.values() if f != "count"})
        joined = self._match_meta(query, field, [by, *cols], filters)
        buckets = (
            joined.groupBy(by)
            .agg(
                F.count("*").alias("doc_count"),
                *[fns[f](c).alias(name) for name, (f, c) in aggs.items()],
            )
            .orderBy(F.desc("doc_count"), F.asc(by))
            .limit(k)
        )
        for name, expr in (scripts or {}).items():
            col = F.expr(expr).cast("double")
            if round_script is not None:
                col = F.round(col, round_script)
            buckets = buckets.withColumn(name, col)
        if having is not None:
            buckets = buckets.filter(F.expr(having))
        return buckets.orderBy(F.desc("doc_count"), F.asc(by))

    def rate_agg(
        self,
        query: str | None,
        on: str,
        interval: str = "day",
        unit: str = "hour",
        value: str | None = None,
        k: int = 10000,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES ``rate`` aggregation inside a date_histogram: per-bucket
        document (or ``value``-sum) rate normalized to ``unit`` — rate =
        bucket_total / (bucket length in units). Fixed conversions for
        fixed-length pairs (day->hour 24, week->day 7, hour->minute 60);
        calendar-aware for month->day (the actual day count of THAT
        month, what the calendar bucket really spans). Unit must not
        exceed the interval, as in ES."""
        factors: dict[tuple[str, str], Column] = {
            ("day", "hour"): F.lit(24.0),
            ("day", "day"): F.lit(1.0),
            ("week", "day"): F.lit(7.0),
            ("hour", "minute"): F.lit(60.0),
            ("hour", "hour"): F.lit(1.0),
            ("week", "week"): F.lit(1.0),
            ("month", "month"): F.lit(1.0),
            ("month", "day"): F.dayofmonth(
                F.last_day(F.col("bucket").cast("timestamp"))
            ).cast("double"),
        }
        key = (interval, unit)
        if key not in factors:
            raise ValueError(
                f"rate_agg: unsupported interval/unit pair {key}; "
                f"supported: {sorted(factors)}"
            )
        joined = self._match_meta(
            query, field, [on, value] if value else [on], filters
        )
        bucket = F.date_format(
            F.date_trunc(interval, F.col(on)), "yyyy-MM-dd HH:mm:ss"
        )
        total = F.sum(value) if value else F.count("*")
        buckets = (
            joined.groupBy(bucket.alias("bucket"))
            .agg(
                F.count("*").alias("doc_count"),
                total.cast("double").alias("_total"),
            )
            .limit(k)
        )
        return (
            buckets.select(
                "bucket",
                "doc_count",
                F.round(F.col("_total") / factors[key], 6).alias("rate"),
            )
            .orderBy(F.asc("bucket"))
        )

    def cumulative_cardinality(
        self,
        query: str | None,
        on: str,
        entity: str,
        interval: str = "day",
        k: int = 10000,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES ``cumulative_cardinality`` pipeline agg: for each
        date_histogram bucket, the number of DISTINCT ``entity`` values
        seen in all buckets up to and including it (the "new users over
        time" Kibana chart). Exact, not HLL.

        Scale shape: ONE distributed aggregate assigns every entity its
        first bucket (min over the bucketed axis, partial agg map-side);
        the per-bucket first-appearance counts and the running sum are
        windows over the ≤k-row reduced table — never a per-doc shuffle,
        and no cross-bucket distinct blowup (each entity is counted in
        exactly one bucket's partial)."""
        from pyspark.sql.window import Window

        joined = self._match_meta(query, field, [on, entity], filters)
        bucket = F.date_format(
            F.date_trunc(interval, F.col(on)), "yyyy-MM-dd HH:mm:ss"
        )
        axis = (
            joined.groupBy(bucket.alias("bucket"))
            .agg(F.count("*").alias("doc_count"))
            .limit(k)
        )
        firsts = (
            joined.select(bucket.alias("bucket"), F.col(entity).alias("_e"))
            .groupBy("_e")
            .agg(F.min("bucket").alias("bucket"))
            .groupBy("bucket")
            .agg(F.count("*").alias("_new"))
        )
        w = Window.orderBy("bucket")
        return (
            axis.join(firsts, "bucket", "left")
            .withColumn(
                "cum_cardinality",
                F.sum(F.coalesce("_new", F.lit(0))).over(w),
            )
            .select("bucket", "doc_count", "cum_cardinality")
            .orderBy(F.asc("bucket"))
        )

    # -- geo family ----------------------------------------------------
    # ES geo_point fields map to two numeric doc_stats columns (lat, lon)
    # — stored meta columns or runtime fields (the gate rows derive them
    # from src_id via with_runtime_fields, so the family composes with
    # the runtime-field machinery). All four are filter-context doc_stats
    # work: predicate/projection inside the pruned scan, never a UDF.

    @staticmethod
    def _haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
        """Great-circle distance, R=6371.0 km — the asin form, written
        with the same primitive calls the DuckDB oracles use so both
        sides agree to float ulps (gate rows additionally round)."""
        dphi = F.radians(lat2 - lat1) / 2
        dlmb = F.radians(lon2 - lon1) / 2
        a = (
            F.sin(dphi) * F.sin(dphi)
            + F.cos(F.radians(lat1))
            * F.cos(F.radians(lat2))
            * F.sin(dlmb) * F.sin(dlmb)
        )
        return F.lit(2.0 * 6371.0) * F.asin(F.sqrt(a))

    def geo_distance(
        self,
        origin: tuple[float, float],
        distance_km: float,
        lat: str = "lat",
        lon: str = "lon",
        query: str | None = None,
        k: int | None = None,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES ``geo_distance`` query: docs whose geo_point lies within
        ``distance_km`` of ``origin`` (lat, lon). Returns (doc_id,
        distance_km) sorted nearest-first — the geo_distance sort ES
        pairs with the filter. Membership tests the ROUNDED (6 dp)
        distance so engine and oracle agree at the boundary regardless
        of libm ulps."""
        j = self._match_meta(query, field, [lat, lon], filters)
        d = F.round(
            self._haversine_km(
                F.lit(float(origin[0])), F.lit(float(origin[1])),
                F.col(lat), F.col(lon),
            ),
            6,
        )
        out = (
            j.select("doc_id", d.alias("distance_km"))
            .filter(F.col("distance_km") <= float(distance_km))
            .orderBy(F.asc("distance_km"), F.asc("doc_id"))
        )
        return out.limit(k) if k is not None else out

    def geo_bounding_box(
        self,
        top_left: tuple[float, float],
        bottom_right: tuple[float, float],
        lat: str = "lat",
        lon: str = "lon",
        query: str | None = None,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES ``geo_bounding_box`` query: docs inside the box (edges
        inclusive, like ES). No dateline wrap — a box whose left edge is
        east of its right edge raises rather than silently matching
        nothing."""
        top, left = float(top_left[0]), float(top_left[1])
        bottom, right = float(bottom_right[0]), float(bottom_right[1])
        if left > right:
            raise ValueError(
                "geo_bounding_box: dateline-crossing boxes unsupported "
                f"(left {left} > right {right}); split into two boxes"
            )
        if bottom > top:
            raise ValueError(f"geo_bounding_box: bottom {bottom} > top {top}")
        j = self._match_meta(query, field, [lat, lon], filters)
        return (
            j.filter(
                F.col(lat).between(bottom, top)
                & F.col(lon).between(left, right)
            )
            .select("doc_id", F.col(lat).alias("lat"), F.col(lon).alias("lon"))
            .orderBy(F.asc("doc_id"))
        )

    def geotile_grid(
        self,
        zoom: int,
        lat: str = "lat",
        lon: str = "lon",
        k: int = 10,
        query: str | None = None,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES ``geotile_grid`` aggregation: bucket the match set by Web
        Mercator map tile at ``zoom`` (keys "z/x/y", the slippy-map
        scheme Kibana maps request), count desc. Points outside the
        Mercator latitude range (|lat| > 85.05112878) are excluded, as
        ES's geotile cells cannot represent them."""
        if not (0 <= zoom <= 29):
            raise ValueError(f"geotile_grid: zoom must be 0..29, got {zoom}")
        n = float(2 ** zoom)
        j = self._match_meta(query, field, [lat, lon], filters)
        j = j.filter(F.abs(F.col(lat)) <= 85.05112878)
        phi = F.radians(F.col(lat))
        x = F.floor((F.col(lon) + 180.0) / 360.0 * n)
        y = F.floor(
            (1.0 - F.log(F.tan(phi) + 1.0 / F.cos(phi)) / math.pi) / 2.0 * n
        )
        clamp = lambda c: F.greatest(  # noqa: E731 — tile indexes clamp to the edge cells
            F.lit(0).cast("long"),
            F.least(F.lit(int(n) - 1).cast("long"), c.cast("long")),
        )
        key = F.concat_ws(
            "/", F.lit(str(zoom)), clamp(x).cast("string"), clamp(y).cast("string")
        )
        return (
            j.groupBy(key.alias("tile"))
            .agg(F.count("*").alias("doc_count"))
            .orderBy(F.desc("doc_count"), F.asc("tile"))
            .limit(k)
        )

    def geo_centroid(
        self,
        lat: str = "lat",
        lon: str = "lon",
        query: str | None = None,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES ``geo_centroid`` aggregation: arithmetic mean of lat/lon
        over the match set (ES's own centroid is the same planar mean of
        the stored coordinates). One partial-aggregated pass."""
        j = self._match_meta(query, field, [lat, lon], filters)
        return j.agg(
            F.round(F.avg(lat), 6).alias("lat"),
            F.round(F.avg(lon), 6).alias("lon"),
            F.count("*").alias("doc_count"),
        )

    def geo_bounds(
        self,
        lat: str = "lat",
        lon: str = "lon",
        query: str | None = None,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES ``geo_bounds`` aggregation: the tight bounding box of the
        match set's points — top_left = (max lat, min lon), bottom_right
        = (min lat, max lon). One partial-aggregated pass (four
        min/max accumulators); ``wrap_longitude`` (dateline-crossing
        minimal boxes) is not supported — refuse rather than return a
        different box than ES would."""
        j = self._match_meta(query, field, [lat, lon], filters)
        return j.agg(
            F.max(lat).alias("top_left_lat"),
            F.min(lon).alias("top_left_lon"),
            F.min(lat).alias("bottom_right_lat"),
            F.max(lon).alias("bottom_right_lon"),
            F.count("*").alias("doc_count"),
        )

    _GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"

    def geo_line(
        self,
        sort: str,
        lat: str = "lat",
        lon: str = "lon",
        query: str | None = None,
        by: str | None = None,
        size: int = 10000,
        sort_order: str = "asc",
        include_sort: bool = False,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES ``geo_line`` aggregation: the match set's points as ONE
        LineString per group (``by`` — ES's geo_line-under-terms shape;
        None = one global line), ordered by the ``sort`` column
        (``sort_order`` asc/desc, doc_id tie-break), truncated to
        ``size`` points (ES cap 10000, keeping the points FIRST in sort
        order). Returns ``line`` = array of [lon, lat] pairs (GeoJSON
        coordinate order), ``point_count`` = TOTAL matched points before
        truncation, ``complete`` = ES's truncation flag
        (point_count <= size); ``include_sort`` adds the kept points'
        sort values (ES include_sort).

        Scale shape: points are RANKED per group first (one window) and
        everything past ``size`` is dropped BEFORE the collect, so the
        per-group aggregation state is bounded by the ES cap, never by
        group size; window and groupBy share the same key, so the plan
        carries one shuffle. A GLOBAL line (``by=None``) funnels the
        whole match set through one partition to rank it — the same
        single-coordinator reduction ES pays; pass ``by`` (the ES
        geo_line-under-terms shape) for fleet-scale track building."""
        if not 1 <= int(size) <= 10000:
            raise ValueError(
                f"geo_line: size must be 1..10000 (the ES cap), got {size}"
            )
        if sort_order not in ("asc", "desc"):
            raise ValueError(
                f"geo_line: sort_order must be 'asc' or 'desc', "
                f"got {sort_order!r}"
            )
        part = [by] if by else []
        cols = list(dict.fromkeys([sort, lat, lon, *part]))
        j = self._match_meta(query, field, cols, filters).filter(
            F.col(lat).isNotNull()
            & F.col(lon).isNotNull()
            & F.col(sort).isNotNull()
        )
        order = F.asc(sort) if sort_order == "asc" else F.desc(sort)
        w = Window.partitionBy(*part).orderBy(order, F.asc("doc_id"))
        wc = Window.partitionBy(*part)
        ranked = (
            j.withColumn("_rn", F.row_number().over(w))
            .withColumn("_total", F.count("*").over(wc))
            .filter(F.col("_rn") <= size)
        )
        grouped = ranked.groupBy(*part).agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("_rn").alias("i"),
                        F.col(lon).cast("double").alias("x"),
                        F.col(lat).cast("double").alias("y"),
                        F.col(sort).alias("s"),
                    )
                )
            ).alias("_pts"),
            F.max("_total").alias("point_count"),
        )
        out = part + [
            F.transform("_pts", lambda p: F.array(p["x"], p["y"])).alias(
                "line"
            ),
            F.col("point_count"),
            (F.col("point_count") <= F.lit(int(size))).alias("complete"),
        ]
        if include_sort:
            out.append(
                F.transform("_pts", lambda p: p["s"]).alias("sort_values")
            )
        return grouped.select(*out)

    @classmethod
    def geohash_col(cls, lat_col: Column, lon_col: Column, precision: int) -> Column:
        """Geohash of (lat, lon) at ``precision`` chars as a pure Catalyst
        expression: quantize lon/lat to ceil(5p/2)/floor(5p/2)-bit cells,
        interleave the bits (lon first, MSB first) into one long, then
        emit base32 chars by 5-bit groups. No UDF — the whole encode is
        shifts/masks/substrings inside codegen. p<=12 keeps the
        interleaved key in 60 bits."""
        if not (1 <= precision <= 12):
            raise ValueError(f"geohash: precision must be 1..12, got {precision}")
        n = 5 * precision
        lonbits = (n + 1) // 2
        latbits = n // 2
        x = F.floor((lon_col + 180.0) / 360.0 * float(1 << lonbits)).cast("long")
        y = F.floor((lat_col + 90.0) / 180.0 * float(1 << latbits)).cast("long")
        # lon=180 / lat=90 land exactly on the upper edge — clamp into the
        # last cell (standard geohash behavior)
        x = F.least(x, F.lit((1 << lonbits) - 1))
        y = F.least(y, F.lit((1 << latbits) - 1))
        h = F.lit(0).cast("long")
        for j in range(lonbits):  # stream position 2j (even) = lon bit j
            bit = F.shiftright(x, lonbits - 1 - j).bitwiseAND(F.lit(1))
            h = h + bit * F.lit(1 << (n - 1 - 2 * j))
        for j in range(latbits):  # stream position 2j+1 (odd) = lat bit j
            bit = F.shiftright(y, latbits - 1 - j).bitwiseAND(F.lit(1))
            h = h + bit * F.lit(1 << (n - 2 - 2 * j))
        chars = [
            F.substring(
                F.lit(cls._GEOHASH_ALPHABET),
                F.shiftright(h, 5 * (precision - 1 - c))
                .bitwiseAND(F.lit(31))
                .cast("int")
                + F.lit(1),
                F.lit(1),
            )
            for c in range(precision)
        ]
        return F.concat(*chars)

    def geohash_grid(
        self,
        precision: int,
        lat: str = "lat",
        lon: str = "lon",
        k: int = 10,
        query: str | None = None,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES ``geohash_grid`` aggregation: bucket the match set by
        geohash cell at ``precision`` (1..12 chars), count desc. The
        encode is :meth:`geohash_col` — one JVM-side expression, so the
        whole agg is one scan + one hash aggregate."""
        j = self._match_meta(query, field, [lat, lon], filters)
        key = self.geohash_col(F.col(lat), F.col(lon), precision)
        return (
            j.groupBy(key.alias("geohash"))
            .agg(F.count("*").alias("doc_count"))
            .orderBy(F.desc("doc_count"), F.asc("geohash"))
            .limit(k)
        )

    def date_range_agg(
        self,
        query: str | None,
        on: str,
        ranges: Sequence[tuple[str | None, str | None]],
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES ``date_range`` aggregation: like :meth:`range_agg` but the
        bounds are timestamp literals ('yyyy-MM-dd[ HH:mm:ss]'), from
        inclusive / to exclusive, None unbounded, overlap allowed. One
        pass, one conditional-count aggregation row, exploded to the ES
        bucket shape."""
        if not ranges:
            raise ValueError("date_range_agg: at least one (from, to) range")
        # validate every bound with Spark's OWN parser up front (via the
        # non-throwing try_ variant — ANSI mode makes to_timestamp THROW
        # mid-plan otherwise): an unparseable bound (ES date-math
        # 'now-1d/d', epoch millis, ...) must be a clear refusal, not a
        # NULL condition silently counting 0 / an opaque ANSI cast error
        bounds = sorted(
            {b for lo, hi in ranges for b in (lo, hi) if b is not None}
        )
        if bounds:
            parsed = (
                self.spark.range(1)
                .select(
                    *[
                        F.try_to_timestamp(F.lit(b)).alias(f"_c{i}")
                        for i, b in enumerate(bounds)
                    ]
                )
                .first()
            )
            bad = [b for i, b in enumerate(bounds) if parsed[i] is None]
            if bad:
                raise ValueError(
                    f"date_range_agg: unparseable bound(s) {bad} — use "
                    f"'yyyy-MM-dd[ HH:mm:ss]' literals (ES date-math is "
                    f"not supported; resolve it client-side)"
                )
        joined = self._match_meta(query, field, [on], filters)
        aggs = []
        keys = []
        for i, (lo, hi) in enumerate(ranges):
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (F.col(on) >= F.to_timestamp(F.lit(lo)))
            if hi is not None:
                cond = cond & (F.col(on) < F.to_timestamp(F.lit(hi)))
            keys.append(f"{lo or '*'}-{hi or '*'}")
            aggs.append(F.sum(F.when(cond, 1).otherwise(0)).alias(f"_b{i}"))
        row = joined.agg(*aggs)
        buckets = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(kk).alias("key"),
                        F.col(f"_b{i}").cast("long").alias("doc_count"),
                    )
                    for i, kk in enumerate(keys)
                ]
            )
        ).alias("b")
        return row.select(buckets).select("b.key", "b.doc_count")

    def ip_range_agg(
        self,
        query: str | None,
        on: str,
        ranges: Sequence[dict],
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES ``ip_range`` aggregation over an IPv4-string metadata column:
        each range is ``{"from": ip?, "to": ip?}`` (from inclusive, to
        exclusive, None unbounded, overlap allowed — ES semantics) or
        ``{"mask": "a.b.c.d/len"}`` (the CIDR's network span); optional
        ``key`` names the bucket. Docs whose column is not a valid dotted
        quad fall outside every range, like ES's unmapped ips.

        Plan: one pass — the ip column casts to a 32-bit long INSIDE
        Catalyst (split + digit arithmetic, no UDF), one conditional-count
        aggregation row, exploded to the ES bucket shape."""
        from .esql import _ipv4_long

        if not ranges:
            raise ValueError("ip_range_agg: at least one range")

        def aton(ip: str) -> int:
            parts = ip.split(".")
            if len(parts) != 4:
                raise ValueError(f"ip_range_agg: bad IPv4 {ip!r}")
            val = 0
            for p in parts:
                o = int(p)
                if not 0 <= o <= 255:
                    raise ValueError(f"ip_range_agg: bad IPv4 {ip!r}")
                val = val * 256 + o
            return val

        bounds: list[tuple[str, int | None, int | None]] = []
        for r in ranges:
            if "mask" in r:
                net, _, plen = str(r["mask"]).partition("/")
                bits = int(plen)
                if not 0 <= bits <= 32:
                    raise ValueError(
                        f"ip_range_agg: bad mask length /{plen}"
                    )
                span = 1 << (32 - bits)
                lo = aton(net) & ~(span - 1)
                key = r.get("key", str(r["mask"]))
                bounds.append((key, lo, lo + span))
            else:
                lo = aton(str(r["from"])) if r.get("from") else None
                hi = aton(str(r["to"])) if r.get("to") else None
                key = r.get(
                    "key", f"{r.get('from') or '*'}-{r.get('to') or '*'}"
                )
                bounds.append((key, lo, hi))
        joined = self._match_meta(query, field, [on], filters)
        ipnum = _ipv4_long(F.col(on))
        aggs = []
        for i, (_, lo, hi) in enumerate(bounds):
            cond = ipnum.isNotNull()
            if lo is not None:
                cond = cond & (ipnum >= F.lit(lo))
            if hi is not None:
                cond = cond & (ipnum < F.lit(hi))
            aggs.append(F.sum(F.when(cond, 1).otherwise(0)).alias(f"_b{i}"))
        row = joined.agg(*aggs)
        buckets = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(kk).alias("key"),
                        F.col(f"_b{i}").cast("long").alias("doc_count"),
                    )
                    for i, (kk, _, _) in enumerate(bounds)
                ]
            )
        ).alias("b")
        return row.select(buckets).select("b.key", "b.doc_count")

    def ip_prefix_agg(
        self,
        query: str | None,
        on: str,
        prefix_length: int,
        field: str | int | None = None,
        filters: Column | None = None,
        min_doc_count: int = 1,
        append_prefix_length: bool = False,
        k: int = 10000,
    ) -> DataFrame:
        """ES ``ip_prefix`` aggregation (IPv4): bucket docs by the
        network address of their ip column at ``prefix_length`` bits,
        key ascending in ADDRESS order (ES sorts buckets by the netmasked
        value, not the string). ``append_prefix_length`` suffixes
        ``/len`` to the key like ES's option; buckets under
        ``min_doc_count`` are hidden (ES default 1 drops empty buckets —
        non-IPv4/null values fall outside every bucket).

        Plan: ip -> 32-bit long inside Catalyst, mask to the prefix with
        integer shifts, ONE groupBy on the masked long (a numeric shuffle
        key), key string rendered after the aggregation — at 100 TB the
        shuffle carries an 8-byte key and a count, nothing else."""
        from .esql import _ipv4_long

        plen = int(prefix_length)
        if not 0 <= plen <= 32:
            raise ValueError(
                f"ip_prefix_agg: prefix_length in [0, 32], got {prefix_length}"
            )
        joined = self._match_meta(query, field, [on], filters)
        shift = 32 - plen
        net = F.shiftleft(
            F.shiftright(_ipv4_long(F.col(on)), shift), shift
        ).alias("_net")
        grouped = (
            joined.select(net)
            .filter(F.col("_net").isNotNull())
            .groupBy("_net")
            .agg(F.count("*").alias("doc_count"))
        )
        if min_doc_count > 1:
            grouped = grouped.filter(F.col("doc_count") >= min_doc_count)
        key = F.concat_ws(
            ".",
            F.shiftright(F.col("_net"), 24) % 256,
            F.shiftright(F.col("_net"), 16) % 256,
            F.shiftright(F.col("_net"), 8) % 256,
            F.col("_net") % 256,
        )
        if append_prefix_length:
            key = F.concat(key, F.lit(f"/{plen}"))
        return (
            grouped.orderBy(F.asc("_net"))
            .select(key.alias("key"), "doc_count")
            .limit(k)
        )

    def moving_percentiles(
        self,
        query: str | None,
        on: str,
        value: str,
        percent: float = 50.0,
        interval: str = "day",
        window: int = 3,
        k: int = 10000,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES ``moving_percentiles`` pipeline agg, EXACT: for each
        date_histogram bucket, the linearly-interpolated ``percent``-ile
        of ``value`` over the trailing ``window`` buckets (current
        included; partial leading windows included, like moving_fn). ES
        moves merged t-digests; this recomputes exactly over the window's
        raw values — the same exact-beats-sketch call percentiles() makes.

        Scale shape: the axis is the reduced ≤k-row bucket table; each
        value row joins to at most ``window`` axis rows via a BROADCAST
        range join on bucket index (the axis is tiny by construction), so
        the one real shuffle is the final per-(axis-bucket) aggregate of
        O(matchset × window) rows — the honest cost of exact windowed
        percentiles."""
        if window < 1:
            raise ValueError(f"moving_percentiles: window >= 1, got {window}")
        if not 0.0 <= float(percent) <= 100.0:
            raise ValueError(f"moving_percentiles: bad percent {percent}")
        joined = self._match_meta(query, field, [on, value], filters)
        bucket = F.date_format(
            F.date_trunc(interval, F.col(on)), "yyyy-MM-dd HH:mm:ss"
        )
        rows = joined.select(bucket.alias("bucket"), F.col(value).alias("_v"))
        axis = (
            rows.groupBy("bucket")
            .agg(F.count("*").alias("doc_count"))
            .limit(k)
        )
        w = Window.orderBy("bucket")
        axis_idx = axis.withColumn("_i", F.row_number().over(w))
        val_idx = rows.join(
            F.broadcast(axis_idx.select("bucket", F.col("_i").alias("_vi"))),
            "bucket",
        ).select("_vi", "_v")
        windowed = val_idx.join(
            F.broadcast(
                axis_idx.select(
                    F.col("bucket").alias("_b"),
                    F.col("doc_count"),
                    F.col("_i"),
                )
            ),
            (F.col("_vi") <= F.col("_i"))
            & (F.col("_vi") > F.col("_i") - window),
        )
        frac = float(percent) / 100.0
        return (
            windowed.groupBy("_b", "doc_count")
            .agg(
                F.round(
                    F.expr(f"percentile(_v, {frac!r})"), 6
                ).alias("value")
            )
            .select(F.col("_b").alias("bucket"), "doc_count", "value")
            .orderBy(F.asc("bucket"))
        )

    def histogram_filled(
        self,
        query: str,
        by: str,
        interval: int,
        k: int = 1000,
        field: str | int | None = None,
        bounds: tuple | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """Numeric histogram with ES ``min_doc_count=0`` (+ optional
        ``extended_bounds``): empty buckets between the observed (or
        extended) min and max appear with doc_count 0. Integral intervals
        only (the dense axis is a `sequence()` of bucket keys — ES's
        float-interval zero-fill has no exact integer axis). Same
        O(buckets) axis-generation note as date_histogram_filled."""
        if int(interval) != interval or interval <= 0:
            raise ValueError(
                f"histogram_filled: interval must be a positive integer, "
                f"got {interval}"
            )
        import math

        step = int(interval)
        got = self.histogram(
            query, by, step, k=k, field=field, filters=filters
        )
        span = got.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
        if bounds is not None:
            # floor (not int(): truncation-toward-zero mis-buckets
            # negative fractional bounds, e.g. -0.5 -> 0 instead of -100)
            blo = F.lit(int(math.floor(bounds[0] / step)) * step).cast("long")
            bhi = F.lit(int(math.floor(bounds[1] / step)) * step).cast("long")
            span = span.select(
                F.least(blo, F.coalesce(F.col("lo"), blo)).alias("lo"),
                F.greatest(bhi, F.coalesce(F.col("hi"), bhi)).alias("hi"),
            )
        axis = span.where(F.col("lo").isNotNull()).select(
            F.explode(F.sequence("lo", "hi", F.lit(step))).alias("bucket")
        )
        return (
            axis.join(got, "bucket", "left")
            .select(
                "bucket", F.coalesce("doc_count", F.lit(0)).alias("doc_count")
            )
            .orderBy(F.asc("bucket"))
            .limit(k)
        )

    def date_histogram_filled(
        self,
        query: str,
        on: str,
        interval: str = "day",
        k: int = 10000,
        field: str | int | None = None,
        bounds: tuple | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES date_histogram with ``min_doc_count=0``: calendar buckets
        with no matching docs appear with doc_count 0 — the shape every
        Kibana time chart actually requests (gaps render as zeroes, not
        missing points). ``bounds=(lo, hi)`` is ES ``extended_bounds``:
        force the axis out to [lo, hi] even where no data exists (both
        timestamps or 'yyyy-MM-dd HH:mm:ss' strings; they are truncated
        to the interval). Without bounds, the axis spans the observed
        min..max bucket.

        Plan: the non-empty buckets come from the normal date_histogram
        reduction; the dense axis is one `sequence()` over the (tiny)
        min/max of that already-reduced table, exploded and left-joined —
        axis generation costs O(buckets), never O(docs)."""
        if interval not in ("hour", "day", "week", "month", "quarter", "year"):
            raise ValueError(
                f"date_histogram_filled: unsupported interval {interval!r}"
            )
        got = self.date_histogram(
            query, on, interval, k=k, field=field, filters=filters
        )
        got_ts = got.select(
            F.to_timestamp("bucket").alias("b"), "doc_count"
        )
        span = got_ts.agg(F.min("b").alias("lo"), F.max("b").alias("hi"))
        if bounds is not None:
            # ES extended_bounds EXTENDS the axis, never clips data
            blo = F.date_trunc(interval, F.lit(bounds[0]).cast("timestamp"))
            bhi = F.date_trunc(interval, F.lit(bounds[1]).cast("timestamp"))
            span = span.select(
                F.least(blo, F.coalesce(F.col("lo"), blo)).alias("lo"),
                F.greatest(bhi, F.coalesce(F.col("hi"), bhi)).alias("hi"),
            )
        # Spark's interval parser has no 'quarter' unit; 1 quarter = 3 months
        step = (
            F.expr("interval 3 month")
            if interval == "quarter"
            else F.expr(f"interval 1 {interval}")
        )
        axis = span.where(F.col("lo").isNotNull()).select(
            F.explode(F.sequence("lo", "hi", step)).alias("b")
        )
        return (
            axis.join(got_ts, "b", "left")
            .select(
                F.date_format("b", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
                F.coalesce("doc_count", F.lit(0)).alias("doc_count"),
            )
            .orderBy(F.asc("bucket"))
            .limit(k)
        )

    def bucket_stats_pipeline(
        self,
        query: str,
        on: str,
        interval: str = "day",
        k: int = 10000,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES avg_bucket / min_bucket / max_bucket / sum_bucket sibling
        pipeline aggs in one row: statistics OF a date_histogram's
        doc_counts (not of documents). Same coordinator-side-reduction
        scale note as date_histogram_pipeline — this aggregates the
        already-reduced bucket table."""
        buckets = self.date_histogram(
            query, on, interval, k=k, field=field, filters=filters
        )
        return buckets.agg(
            F.round(F.avg("doc_count"), 6).alias("avg_bucket"),
            F.min("doc_count").alias("min_bucket"),
            F.max("doc_count").alias("max_bucket"),
            F.sum("doc_count").alias("sum_bucket"),
            F.count("*").alias("n_buckets"),
        )

    def extended_stats_bucket(
        self,
        query: str,
        on: str,
        interval: str = "day",
        sigma: float = 2.0,
        k: int = 10000,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES ``extended_stats_bucket`` sibling pipeline agg: the extended
        statistics OF a date_histogram's doc_counts — count / min / max /
        avg / sum / sum_of_squares / POPULATION variance+std_deviation
        (ES's extended_stats default) and the ±``sigma`` std-deviation
        bounds. Aggregates the already-reduced bucket table, one row out."""
        if sigma < 0:
            raise ValueError(f"extended_stats_bucket: sigma >= 0, got {sigma}")
        buckets = self.date_histogram(
            query, on, interval, k=k, field=field, filters=filters
        )
        row = buckets.agg(
            F.count("*").alias("count"),
            F.min("doc_count").alias("min"),
            F.max("doc_count").alias("max"),
            F.avg("doc_count").alias("_avg"),
            F.sum("doc_count").alias("sum"),
            F.sum(F.col("doc_count") * F.col("doc_count")).alias(
                "sum_of_squares"
            ),
            F.var_pop("doc_count").alias("_var"),
        )
        return row.select(
            "count", "min", "max",
            F.round("_avg", 6).alias("avg"),
            "sum", "sum_of_squares",
            F.round("_var", 6).alias("variance"),
            F.round(F.sqrt("_var"), 6).alias("std_deviation"),
            F.round(
                F.col("_avg") + F.lit(float(sigma)) * F.sqrt("_var"), 6
            ).alias("std_upper"),
            F.round(
                F.col("_avg") - F.lit(float(sigma)) * F.sqrt("_var"), 6
            ).alias("std_lower"),
        )

    def sort_by(
        self,
        query: str,
        by: str,
        k: int = 10,
        ascending: bool = False,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES ``sort`` clause: rank the match set by a stored field
        instead of relevance (``sort: [{by: desc}, {_id: asc}]``); ES
        skips scoring entirely in this mode (track_scores=false), so hits
        carry the sort value, not a score.

        Plan: constant-score match set (ANY analyzed term, the same
        doc-set path every agg uses) joined to doc_stats, then
        TakeOrderedAndProject on (by, doc_id) — top-k per partition then
        merge, no global sort materialization."""
        joined = self._live(self._match_meta(query, field, [by], filters))
        order = F.asc(by) if ascending else F.desc(by)
        return joined.select("doc_id", by).orderBy(order, F.asc("doc_id")).limit(k)

    def auto_date_histogram(
        self,
        query: str,
        on: str,
        target_buckets: int = 10,
        k: int = 10000,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES auto_date_histogram: pick the FINEST calendar interval
        whose AXIS-SPAN bucket count stays ≤ ``target_buckets`` (hour →
        day → week → month → quarter → year; year is the floor even when
        it still exceeds the target). The count is the DENSE calendar
        axis between the match set's min and max — NOT the number of
        non-empty buckets: sparse data scattered over years must coarsen
        to year grain even though few buckets hold docs (ES sizes from
        the rounded span the same way). Output is the dense zero-filled
        histogram at the chosen interval (ES emits empty buckets), with
        the interval as a column.

        Plan: one min/max aggregation, six `sequence()` sizes on that
        1-row result, a 1-row driver pick, then date_histogram_filled at
        the chosen interval — two data jobs total, no per-interval
        re-scan loop."""
        cal = ["hour", "day", "week", "month", "quarter", "year"]
        j = self._match_meta(query, field, [on], filters)
        span = j.agg(F.min(F.col(on)).alias("lo"), F.max(F.col(on)).alias("hi"))
        sizes = span.select(
            *[
                F.size(
                    F.sequence(
                        F.date_trunc(iv, F.col("lo")),
                        F.date_trunc(iv, F.col("hi")),
                        F.expr(
                            "interval 3 month"
                            if iv == "quarter"
                            else f"interval 1 {iv}"
                        ),
                    )
                ).alias(iv)
                for iv in cal
            ]
        ).collect()[0]
        if sizes["year"] is None:  # empty match set
            return local_df(self.spark, 
                [], "bucket string, doc_count long, interval string"
            )
        pick = next(
            (iv for iv in cal if int(sizes[iv]) <= target_buckets), "year"
        )
        return self.date_histogram_filled(
            query, on, pick, k=k, field=field
        ).select("bucket", "doc_count", F.lit(pick).alias("interval"))

    def serial_diff(
        self,
        query: str,
        on: str,
        interval: str = "day",
        lag: int = 1,
        k: int = 10000,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES serial_diff pipeline: doc_count minus the value ``lag``
        buckets earlier (lag=1 is the derivative; lag=7 on a day axis is
        week-over-week seasonality removal). The axis is the DENSE
        zero-filled calendar axis (date_histogram_filled): ES
        date_histogram emits empty buckets (min_doc_count=0 default), so
        the lag counts CALENDAR buckets — lagging over non-empty rows
        would compare the wrong week whenever a day had no matches.
        NULL for the first ``lag`` buckets, as ES omits them; emitted
        DOUBLE (nullable-int pandas drift lesson). Same
        coordinator-side bucket-table reduction as the other pipeline
        aggs."""
        if lag < 1:
            raise ValueError(f"serial_diff: lag must be >= 1, got {lag}")
        buckets = self.date_histogram_filled(
            query, on, interval, k=k, field=field
        )
        w = Window.orderBy("bucket")
        return (
            buckets.withColumn(
                "diff",
                (
                    F.col("doc_count") - F.lag("doc_count", lag).over(w)
                ).cast("double"),
            )
            .orderBy(F.asc("bucket"))
        )

    def rare_terms(
        self,
        query: str,
        by: str,
        max_doc_count: int = 1,
        k: int = 1000,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES rare_terms aggregation: the long-tail buckets a terms agg
        hides — values of ``by`` matched by at most ``max_doc_count``
        docs, rarest first. One full (untruncated) group-count over the
        match set, then the ≤max filter; the result is small by
        definition even when the bucket space is huge (ES uses a CuckooFilter
        for the same reason — only the tail survives the reduce)."""
        parent = (
            self._match_meta(query, field, [by], filters)
            .groupBy(by)
            .agg(F.count("*").alias("doc_count"))
        )
        return (
            parent.filter(F.col("doc_count") <= F.lit(int(max_doc_count)))
            .orderBy(F.asc("doc_count"), F.asc(by))
            .limit(k)
        )

    def adjacency_matrix(
        self,
        filters: dict[str, Sequence[str]],
        field: str | int | None = None,
    ) -> DataFrame:
        """ES adjacency_matrix aggregation: named term-set filters →
        doc_count per filter AND per pairwise intersection ("A&B", ES's
        separator), the co-occurrence matrix behind graph dashboards.

        Plan: one constant-score doc-set per filter (bucket-pruned
        postings scans), unioned with the filter name; singles are one
        group-count, pairs one self-equi-join on doc_id with name1 <
        name2 (n filters is user-bounded and tiny; the join is on doc_id
        — never a cartesian over docs)."""
        if not filters:
            raise ValueError("adjacency_matrix: need at least one filter")
        fid = self._fid(field)
        parts = []
        for name, terms in sorted(filters.items()):
            if "&" in name:
                raise ValueError(
                    f"adjacency_matrix: filter name {name!r} may not "
                    "contain '&' (ES reserves it for intersections)"
                )
            docs = self._docs_for_terms(
                sorted({t for q in terms for t in self._analyze(q, field)}),
                fid,
            )
            parts.append(docs.withColumn("name", F.lit(name)))
        allsets = parts[0]
        for p in parts[1:]:
            allsets = allsets.unionByName(p)
        # per-filter doc sets are already tombstone-filtered (_decode_doc_ids)
        singles = allsets.groupBy("name").agg(
            F.count("*").alias("doc_count")
        )
        a = allsets.alias("a")
        b = allsets.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.doc_id") == F.col("b.doc_id"))
                & (F.col("a.name") < F.col("b.name")),
            )
            .select(
                F.concat_ws("&", F.col("a.name"), F.col("b.name")).alias(
                    "name"
                )
            )
            .groupBy("name")
            .agg(F.count("*").alias("doc_count"))
        )
        return singles.unionByName(pairs).orderBy(F.asc("name"))

    def bucket_sort(
        self,
        query: str,
        by: str,
        k: int = 10000,
        field: str | int | None = None,
        sort_on: str = "doc_count",
        ascending: bool = False,
        size: int = 10,
        offset: int = 0,
        interval: str | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES bucket_sort pipeline: re-sort the parent aggregation's
        buckets on a metric and truncate (from/size) — "top N buckets by
        metric" without returning the full bucket list. Parent is a terms
        agg on ``by`` (or a date_histogram when ``interval`` is given).
        Same coordinator-side reduction note as date_histogram_pipeline:
        the sort runs on the reduced bucket table, not on documents."""
        if interval is not None:
            parent = self.date_histogram(query, by, interval, k=k, field=field)
            key = "bucket"
        else:
            # terms-agg parent WITHOUT truncation: facet's top-k-by-count
            # cut would silently drop exactly the low-count buckets an
            # ascending bucket_sort must return
            parent = (
                self._match_meta(query, field, [by], filters)
                .groupBy(by)
                .agg(F.count("*").alias("doc_count"))
            )
            key = by
        order = F.asc(sort_on) if ascending else F.desc(sort_on)
        return (
            parent.orderBy(order, F.asc(key))
            .offset(offset)
            .limit(size)
        )

    def cardinality(
        self,
        query: str,
        on: str,
        field: str | int | None = None,
        exact: bool = True,
        rsd: float = 0.05,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES cardinality aggregation: distinct values of a doc_stats
        column over the match set. ``exact=False`` uses HyperLogLog++
        (approx_count_distinct, relative error ``rsd``) — ES's actual
        algorithm and the only shape that scales to high-cardinality
        columns at 100 TB (the exact path shuffles every distinct value)."""
        joined = self._match_meta(query, field, [on], filters)
        agg = (
            F.countDistinct(on)
            if exact
            else F.approx_count_distinct(on, rsd)
        )
        return joined.agg(agg.alias("value"))

    def percentiles(
        self,
        query: str,
        on: str,
        percents: Sequence[float] = (25.0, 50.0, 75.0, 95.0),
        field: str | int | None = None,
        exact: bool = True,
        round_values: int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES percentiles aggregation over the match set — one row per
        requested percent, linear interpolation (Spark ``percentile`` ≡
        DuckDB ``quantile_cont``). ``exact=False`` switches to
        ``approx_percentile`` (t-digest-style sketch, ES's TDigest
        analogue) for the 100-TB path where the exact sort-based
        percentile would shuffle the full column."""
        joined = self._match_meta(query, field, [on], filters)
        fracs = [float(p) / 100.0 for p in percents]
        fn = F.percentile if exact else F.approx_percentile
        row = joined.agg(
            *[
                fn(F.col(on), F.lit(fr)).alias(f"p{i}")
                for i, fr in enumerate(fracs)
            ]
        )
        pairs = F.array(
            *[
                F.struct(
                    F.lit(float(p)).alias("percent"),
                    F.col(f"p{i}").cast("double").alias("value"),
                )
                for i, p in enumerate(percents)
            ]
        )
        out = row.select(F.explode(pairs).alias("pv")).select(
            "pv.percent", "pv.value"
        )
        if round_values is not None:
            out = out.withColumn("value", F.round("value", round_values))
        return out.orderBy("percent")

    def facet_stats(
        self,
        query: str,
        by: str,
        on: str,
        k: int = 10,
        field: str | int | None = None,
        round_avg: int | None = 6,
        filters: Column | None = None,
        order: tuple[str, str] | None = None,
    ) -> DataFrame:
        """ES terms aggregation WITH a stats sub-aggregation: buckets of a
        doc_stats column over the match set, each carrying count/min/max/
        sum/avg of a numeric column — the nested-agg shape Kibana builds
        (terms: {field: by, aggs: {stats: {field: on}}}). ``order`` may
        name a sub-metric ('min'/'max'/'sum'/'avg') as well as the
        '_count'/'_key' builtins — ES's order-by-sub-aggregation, the
        top-k cut applied AFTER that ordering like ES."""
        joined = self._match_meta(query, field, [by, on], filters)
        avg = F.avg(on)
        if round_avg is not None:
            avg = F.round(avg, round_avg)
        return (
            joined.groupBy(by)
            .agg(
                F.count("*").alias("doc_count"),
                F.min(on).alias("min"),
                F.max(on).alias("max"),
                F.sum(on).alias("sum"),
                avg.alias("avg"),
            )
            .orderBy(*_terms_order(order, by))
            .limit(k)
        )

    def function_score(
        self,
        query: str,
        k: int = 10,
        factor_col: str = "dl",
        modifier: str = "log1p",
        factor: float = 1.0,
        boost_mode: str = "multiply",
        field: str | int | None = None,
        round_scores: int | None = None,
    ) -> DataFrame:
        """ES function_score with a field_value_factor function:
        final = bm25 ∘ modifier(factor · doc_stats[factor_col]), combined
        per ``boost_mode`` ('multiply' or 'sum'). Re-ranking by a stored
        field invalidates θ-pruning (a low-BM25 doc can out-rank after the
        boost), so this scores the full match set unpruned — the honest
        ES cost too (function_score rescores every hit)."""
        mods = {
            "none": lambda c: c,
            "log1p": F.log1p,
            "sqrt": F.sqrt,
        }
        if modifier not in mods:
            raise ValueError(f"function_score: unknown modifier {modifier!r}")
        if boost_mode not in ("multiply", "sum"):
            raise ValueError(f"function_score: unknown boost_mode {boost_mode!r}")
        fid = self._fid(field)
        terms = sorted(set(self._analyze(query, field)))
        sc = self._bm25_scores(terms, fid)
        if sc is None:
            return local_df(self.spark, [], "doc_id long, score double")
        sc = self._live(sc)
        joined = sc.join(
            self.doc_stats().select("doc_id", factor_col), "doc_id"
        )
        boost = mods[modifier](F.col(factor_col) * F.lit(float(factor)))
        combined = (
            F.col("score") * boost
            if boost_mode == "multiply"
            else F.col("score") + boost
        )
        out = joined.select("doc_id", combined.alias("score"))
        if round_scores is not None:
            out = out.withColumn("score", F.round("score", round_scores))
        return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def script_score(
        self,
        query: str,
        source: str,
        params: dict | None = None,
        k: int = 10,
        min_score: float | None = None,
        field: str | int | None = None,
        round_scores: int | None = None,
    ) -> DataFrame:
        """ES ``script_score``: final = painless(source) over ``_score``,
        ``doc['f'].value`` and ``params.x``. The script compiles to a
        Catalyst Column (query/painless.py) — it runs JVM-side inside the
        scoring plan, no UDF. Like function_score, an arbitrary rescore
        invalidates θ-pruning, so the full match set is scored (ES pays
        the same: script_score runs per hit). ``min_score`` drops hits
        below the threshold AFTER the script (ES semantics)."""
        from dart_importer_spark.query.painless import compile_script

        expr, doc_fields = compile_script(source, params)
        fid = self._fid(field)
        terms = sorted(set(self._analyze(query, field)))
        sc = self._bm25_scores(terms, fid)
        if sc is None:
            return local_df(self.spark, [], "doc_id long, score double")
        sc = self._live(sc)
        if doc_fields:
            ds = self.doc_stats()
            missing = [f for f in doc_fields if f not in ds.columns]
            if missing:
                raise ValueError(
                    f"script_score: unknown doc field(s) {sorted(missing)}"
                )
            sc = sc.join(ds.select("doc_id", *sorted(doc_fields)), "doc_id")
        out = sc.select("doc_id", expr.cast("double").alias("__final"))
        out = out.select("doc_id", F.col("__final").alias("score"))
        if min_score is not None:
            out = out.filter(F.col("score") >= float(min_score))
        if round_scores is not None:
            out = out.withColumn("score", F.round("score", round_scores))
        return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def match_synonyms(
        self,
        query: str,
        synonyms: dict[str, Sequence[str]],
        k: int = 10,
        field: str | int | None = None,
        round_scores: int | None = None,
    ) -> DataFrame:
        """ES ``match`` over a query-time synonym set — Lucene
        SynonymQuery semantics, which is what a ``synonym_graph`` search
        analyzer produces: each analyzed query token expands to its
        synonym group, and the GROUP scores as one pseudo-term — document
        frequency blended as the max over members (one idf per group),
        term frequency SUMMED across members per document, saturated
        once. A doc matching two members of one group is one strong match
        of one concept, not two independent matches (the documented
        reason ES doesn't just OR the synonyms).

        Scale shape: one postings pass over the union of member terms
        (bucket-pruned, decode kernel emits per-posting tf AND dl), a
        broadcast term→group map, one (doc, group) partial aggregate, one
        (doc) partial aggregate → TakeOrderedAndProject. θ-pruning is off
        (a group's bound needs member co-occurrence statistics the index
        doesn't store — same reason ES scores SynonymQuery unpruned)."""
        fid = self._fid(field)
        tokens = sorted(set(self._analyze(query, field)))
        if not tokens:
            return local_df(self.spark, [], "doc_id long, score double")
        # analyze the dict KEYS too: query tokens arrive analyzed
        # (lowercased), so a surface-form key like 'Data' would silently
        # never expand — ES applies the synonym filter after lowercasing
        syn_by_key: dict[str, list] = {}
        for key, phrases in synonyms.items():
            kt = self._analyze(str(key), field)
            if len(kt) != 1:
                raise ValueError(
                    f"match_synonyms: key {key!r} must analyze to one "
                    f"term (got {kt}) — multi-token keys need the "
                    f"phrase-side spelling"
                )
            syn_by_key.setdefault(kt[0], []).extend(phrases)
        groups: dict[str, list[str]] = {}
        for tok in tokens:
            members = {tok}
            for phrase in syn_by_key.get(tok, []):
                members.update(self._analyze(str(phrase), field))
            groups[tok] = sorted(members)
        all_terms = sorted({m for ms in groups.values() for m in ms})
        dfs = self.term_stats(all_terms, field)
        live_terms = [t for t in all_terms if t in dfs]
        if not live_terms:
            return local_df(self.spark, [], "doc_id long, score double")
        avgdl = self.avgdl_by_field[fid]
        # decode-only pass: raw (term, doc, tf, dl) rows — scoring happens
        # per GROUP below, after tf is summed across synonym members
        raw = self._live(
            self._read_postings(
                self._candidate_postings(live_terms, fid),
                ["term", "doc_id", "tf", "dl"],
            )
        )
        group_idf = {
            g: _idf(self.n_docs, max(dfs.get(m, 0) for m in ms))
            for g, ms in groups.items()
            if any(m in dfs for m in ms)
        }
        mapping = [
            (m, g) for g, ms in groups.items() for m in ms if g in group_idf
        ]
        map_df = F.broadcast(
            local_df(self.spark, mapping, "term string, grp string")
        )
        per_group = (
            raw.join(map_df, "term")
            .groupBy("doc_id", "grp")
            .agg(F.sum("tf").alias("tf"), F.first("dl").alias("dl"))
        )
        idf_expr = F.lit(0.0)
        for g, v in sorted(group_idf.items()):
            idf_expr = F.when(F.col("grp") == g, F.lit(v)).otherwise(idf_expr)
        contrib = idf_expr * F.col("tf") / (
            F.col("tf")
            + K1 * (1.0 - B + B * F.col("dl") / F.lit(float(avgdl)))
        )
        out = (
            per_group.select("doc_id", contrib.alias("c"))
            .groupBy("doc_id")
            .agg(F.sum("c").alias("score"))
        )
        if round_scores is not None:
            out = out.withColumn("score", F.round("score", round_scores))
        return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def decay_score(
        self,
        query: str,
        k: int = 10,
        on: str = "dl",
        origin: float = 0.0,
        scale: float = 100.0,
        offset: float = 0.0,
        decay: float = 0.5,
        fn: str = "gauss",
        boost_mode: str = "multiply",
        field: str | int | None = None,
        round_scores: int | None = None,
    ) -> DataFrame:
        """ES function_score decay function over a numeric doc_stats
        column — the distance-based relevance shape (recency boosting on
        a date axis, length normalization) Kibana builds. With
        d = max(0, |x − origin| − offset), the multiplier is exactly
        ES's:

          gauss:  exp(−d² / 2σ²),       σ² = −scale² / (2·ln decay)
          exp:    exp(λ·d),             λ  = ln(decay) / scale
          linear: max(0, (s − d) / s),  s  = scale / (1 − decay)

        so multiplier(origin±scale) = decay. Combined with BM25 per
        ``boost_mode``. Like function_score, re-ranking by a stored field
        invalidates θ-pruning, so the full match set is scored — the
        honest ES cost too."""
        import math

        if not (0.0 < decay < 1.0):
            raise ValueError(f"decay_score: decay must be in (0,1), got {decay}")
        if scale <= 0:
            raise ValueError(f"decay_score: scale must be > 0, got {scale}")
        if boost_mode not in ("multiply", "sum"):
            raise ValueError(f"decay_score: unknown boost_mode {boost_mode!r}")
        if fn not in ("gauss", "exp", "linear"):
            # validate BEFORE the empty-match early return below, or a
            # typo'd fn passes silently on non-matching queries
            raise ValueError(f"decay_score: unknown fn {fn!r}")
        fid = self._fid(field)
        terms = sorted(set(self._analyze(query, field)))
        sc = self._bm25_scores(terms, fid)
        if sc is None:
            return local_df(self.spark, [], "doc_id long, score double")
        sc = self._live(sc)
        joined = sc.join(self.doc_stats().select("doc_id", on), "doc_id")
        d = F.greatest(
            F.lit(0.0),
            F.abs(F.col(on).cast("double") - F.lit(float(origin)))
            - F.lit(float(offset)),
        )
        if fn == "gauss":
            sigma2 = -(float(scale) ** 2) / (2.0 * math.log(decay))
            mult = F.exp(-(d * d) / F.lit(2.0 * sigma2))
        elif fn == "exp":
            lam = math.log(decay) / float(scale)
            mult = F.exp(d * F.lit(lam))
        elif fn == "linear":
            s = float(scale) / (1.0 - decay)
            mult = F.greatest(F.lit(0.0), (F.lit(s) - d) / F.lit(s))
        else:
            raise ValueError(f"decay_score: unknown fn {fn!r}")
        combined = (
            F.col("score") * mult
            if boost_mode == "multiply"
            else F.col("score") + mult
        )
        out = joined.select("doc_id", combined.alias("score"))
        if round_scores is not None:
            out = out.withColumn("score", F.round("score", round_scores))
        return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def rank_feature(
        self,
        query: str,
        k: int = 10,
        on: str = "dl",
        fn: str = "saturation",
        pivot: float | None = None,
        boost: float = 1.0,
        exponent: float = 1.0,
        scaling_factor: float = 1.0,
        field: str | int | None = None,
        round_scores: int | None = None,
    ) -> DataFrame:
        """ES rank_feature query in a bool should: BM25 plus an additive
        static-relevance contribution from a positive numeric doc_stats
        column —

          saturation: boost · x / (x + pivot)
          log:        boost · ln(scaling_factor + x)
          sigmoid:    boost · x^exp / (x^exp + pivot^exp)

        When pivot is omitted, ES uses an approximate geometric mean of the
        field; here it's the EXACT geometric mean exp(avg(ln x)) over live
        docs with x > 0 (deterministic, one scalar aggregate). Negative
        values clamp to 0 (ES rank_feature fields are positive by
        construction). Re-ranking by a stored field invalidates θ-pruning,
        so the full match set is scored — the honest ES cost too."""
        if fn not in ("saturation", "log", "sigmoid"):
            raise ValueError(f"rank_feature: unknown fn {fn!r}")
        fid = self._fid(field)
        terms = sorted(set(self._analyze(query, field)))
        sc = self._bm25_scores(terms, fid)
        if sc is None:
            return local_df(self.spark, [], "doc_id long, score double")
        if pivot is None and fn in ("saturation", "sigmoid"):
            row = (
                self.doc_stats()
                .select(F.col(on).cast("double").alias("x"))
                .filter(F.col("x") > 0)
                .agg(F.exp(F.avg(F.log(F.col("x")))).alias("p"))
                .collect()[0]
            )
            pivot = float(row["p"]) if row["p"] is not None else 1.0
        sc = self._live(sc)
        joined = sc.join(self.doc_stats().select("doc_id", on), "doc_id")
        x = F.greatest(F.lit(0.0), F.col(on).cast("double"))
        if fn == "saturation":
            contrib = x / (x + F.lit(float(pivot)))
        elif fn == "log":
            contrib = F.log(F.lit(float(scaling_factor)) + x)
        else:  # sigmoid
            xe = F.pow(x, F.lit(float(exponent)))
            contrib = xe / (xe + F.lit(float(pivot) ** float(exponent)))
        out = joined.select(
            "doc_id",
            (F.col("score") + F.lit(float(boost)) * contrib).alias("score"),
        )
        if round_scores is not None:
            out = out.withColumn("score", F.round("score", round_scores))
        return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def distance_feature(
        self,
        query: str,
        k: int = 10,
        on: str = "dl",
        origin: float = 0.0,
        pivot: float = 1.0,
        boost: float = 1.0,
        field: str | int | None = None,
        round_scores: int | None = None,
    ) -> DataFrame:
        """ES distance_feature query: BM25 plus an additive closeness boost
        boost · pivot / (pivot + |x − origin|) over a numeric or timestamp
        doc_stats column (timestamps compare as fractional epoch seconds;
        origin/pivot are then seconds too — the recency-boost shape).
        Scores the full match set unpruned, like rank_feature."""
        if pivot <= 0:
            raise ValueError(f"distance_feature: pivot must be > 0, got {pivot}")
        fid = self._fid(field)
        terms = sorted(set(self._analyze(query, field)))
        sc = self._bm25_scores(terms, fid)
        if sc is None:
            return local_df(self.spark, [], "doc_id long, score double")
        sc = self._live(sc)
        stats = self.doc_stats().select("doc_id", on)
        dtype = stats.schema[on].dataType.simpleString()
        col = F.col(on)
        if dtype.startswith("timestamp"):
            # TIMESTAMP_NTZ cannot cast straight to double
            col = col.cast("timestamp").cast("double")
        else:
            col = col.cast("double")
        joined = sc.join(stats, "doc_id")
        dist = F.abs(col - F.lit(float(origin)))
        contrib = F.lit(float(pivot)) / (F.lit(float(pivot)) + dist)
        out = joined.select(
            "doc_id",
            (F.col("score") + F.lit(float(boost)) * contrib).alias("score"),
        )
        if round_scores is not None:
            out = out.withColumn("score", F.round("score", round_scores))
        return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def pinned(
        self,
        query: str,
        ids: Sequence[int],
        k: int = 10,
        field: str | int | None = None,
        round_scores: int = 6,
    ) -> DataFrame:
        """ES pinned query: the given doc ids rank first IN THE GIVEN ORDER
        (whether or not they match), followed by organic BM25 hits with the
        pinned ids excluded. Pinned ids that don't exist (or are deleted)
        are dropped, like ES. Returns (rank, doc_id, pinned). The final
        row_number window runs over ≤ k + len(ids) rows — driver-scale by
        construction, not a data-scale shuffle."""
        if not ids:
            raise ValueError("pinned: at least one pinned doc id")
        pin = local_df(self.spark, 
            [(int(d), i) for i, d in enumerate(ids)], "doc_id long, pin_ord int"
        )
        live_pin = pin.join(self.doc_stats().select("doc_id"), "doc_id")
        part_pin = live_pin.select(
            "doc_id",
            F.lit(0).alias("grp"),
            F.col("pin_ord").cast("double").alias("ord"),
        )
        fid = self._fid(field)
        terms = sorted(set(self._analyze(query, field)))
        sc = self._bm25_scores(terms, fid)
        if sc is not None:
            organic = (
                self._live(sc)
                .join(F.broadcast(pin.select("doc_id")), "doc_id", "left_anti")
                .withColumn("score", F.round("score", round_scores))
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k)
            )
            both = part_pin.unionByName(
                organic.select(
                    "doc_id", F.lit(1).alias("grp"), (-F.col("score")).alias("ord")
                )
            )
        else:
            both = part_pin
        w = Window.orderBy("grp", "ord", "doc_id")
        return (
            both.select(
                F.row_number().over(w).alias("rank"),
                "doc_id",
                (F.col("grp") == 0).alias("pinned"),
            )
            .orderBy("rank")
            .limit(k)
        )

    def random_score(
        self,
        query: str,
        seed: int = 0,
        k: int = 10,
        field: str | int | None = None,
    ) -> DataFrame:
        """ES function_score random_score with a seed + field: a
        deterministic pseudo-random score per matching doc. The generator
        is the engine's portable 60-bit md5 hash of "seed:doc_id" scaled
        to [0, 1) — reproducible across engines (the DuckDB oracle computes
        the identical value), which is the property ES's seeded
        random_score promises."""
        from dart_importer_spark.functions.hashing import N_HASH_BITS, md5_60

        fid = self._fid(field)
        terms = sorted(set(self._analyze(query, field)))
        docs = self._live(self._docs_for_terms(terms, fid))
        frac = md5_60(
            F.concat(F.lit(f"{int(seed)}:"), F.col("doc_id").cast("string"))
        ) / F.lit(float(2**N_HASH_BITS))
        return (
            docs.select("doc_id", F.round(frac, 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def combined_fields(
        self,
        query: str,
        fields: Sequence[str],
        k: int = 10,
        round_scores: int | None = None,
    ) -> DataFrame:
        """ES combined_fields query: score as if the fields' contents had
        been indexed into ONE combined field (the ES semantics statement) —
        per-doc tf is the SUM of per-field tfs (^boost weights multiply a
        field's tf), dl is the summed per-field length, avgdl/df/N are the
        combined-field statistics (df = docs containing the term in ANY of
        the fields, computed exactly). One raw-tf kernel pass per field,
        one (term, doc) combine, one scoring join — no driver-side data."""
        if not fields:
            raise ValueError("combined_fields: at least one field")
        parsed: list[tuple[int, float, str]] = []
        for f in fields:
            name, _, b = f.partition("^")
            parsed.append((self._fid(name), float(b) if b else 1.0, name))
        terms = sorted(set(self._analyze(query, None)))
        if not terms:
            return local_df(self.spark, [], "doc_id long, score double")
        legs = []
        for fid, w, _ in parsed:
            raw = self._read_postings(
                self._candidate_postings(terms, fid), ["term", "doc_id", "tf"]
            )
            legs.append(
                raw.select(
                    "term", "doc_id", (F.col("tf") * F.lit(w)).alias("tf")
                )
            )
        union = legs[0]
        for leg in legs[1:]:
            union = union.unionByName(leg)
        combined_tf = union.groupBy("term", "doc_id").agg(
            F.sum("tf").alias("tfc")
        )
        combined_tf = self._live(combined_tf)
        # combined per-doc length = sum of weighted per-field lengths
        dl_cols = [
            (F.col("dl" if fid == 0 else f"dl_f{fid}").cast("double") * F.lit(w))
            for fid, w, _ in parsed
        ]
        dlc = sum(dl_cols[1:], dl_cols[0])
        stats = self.doc_stats().select("doc_id", dlc.alias("dlc"))
        avgdlc = float(
            stats.agg(F.avg("dlc").alias("a")).collect()[0]["a"] or 0.0
        )
        # exact combined df per term (union across fields) — a terms-sized
        # aggregate, collected like term_stats
        dfs = {
            r["term"]: int(r["df"])
            for r in combined_tf.groupBy("term")
            .agg(F.count("*").alias("df"))
            .collect()
        }
        if not dfs:
            return local_df(self.spark, [], "doc_id long, score double")
        idf_map = F.create_map(
            *[
                x
                for t in dfs
                for x in (F.lit(t), F.lit(_idf(self.n_docs, dfs[t])))
            ]
        )
        scored = combined_tf.join(stats, "doc_id").select(
            "doc_id",
            (
                idf_map[F.col("term")]
                * F.col("tfc")
                / (
                    F.col("tfc")
                    + K1 * (1 - B + B * F.col("dlc") / F.lit(avgdlc))
                )
            ).alias("partial"),
        )
        out = scored.groupBy("doc_id").agg(F.sum("partial").alias("score"))
        if round_scores is not None:
            out = out.withColumn("score", F.round("score", round_scores))
        return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def terms_lookup(
        self,
        lookup_key: Sequence,
        lookup_col: str,
        field: str | int | None = None,
        k: int = 1000,
    ) -> DataFrame:
        """ES terms lookup: a terms query whose term list is fetched from
        ANOTHER document's stored column (the "find docs sharing this
        doc's tags" pattern). The looked-up value is analyzed and the
        resulting term set — which never lands on the driver — is
        broadcast-semi-joined through the same (bucket, term) path as
        dictionary expansions, so partition pruning still applies.
        Constant-score hits in doc_id order, like ES terms."""
        from dart_importer_spark.functions.tokenizer import tokenize_col

        src = self.get_by_key(*lookup_key).select(
            F.explode(tokenize_col(F.col(lookup_col).cast("string"))).alias(
                "term"
            )
        ).distinct()
        fid = self._fid(field)
        # attach buckets from the term dictionary for partition pruning
        terms_df = self._field_dict(field).join(
            F.broadcast(src), "term", "left_semi"
        )
        docs = self._docs_for_terms_df(terms_df, fid)
        return (
            docs.select("doc_id", F.lit(1.0).alias("score"))
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def collapse(
        self,
        query: str,
        by: str,
        k: int = 10,
        field: str | int | None = None,
        round_scores: int | None = None,
        inner_hits: int = 1,
    ) -> DataFrame:
        """ES field collapsing: the result list contains only each
        ``by``-value's best BM25 hit, ranked by that hit's score. One
        scoring pass + one window shuffle on the collapse key (the same
        physical shape ES's collapse executes per shard).

        ``inner_hits > 1`` is ES's collapse inner_hits: each of the top-k
        groups carries its top ``inner_hits`` hits (flat relational form —
        one row per hit with ``hit_rank``; groups ordered by their best
        hit's (score desc, doc_id asc), hits within a group likewise).
        Same two shuffles — the per-group window just keeps N rows
        instead of 1, and the group ranking reuses the rn=1 rows."""
        if inner_hits < 1:
            raise ValueError(f"collapse: inner_hits must be >= 1, got {inner_hits}")
        fid = self._fid(field)
        terms = sorted(set(self._analyze(query, field)))
        sc = self._bm25_scores(terms, fid)
        if sc is None:
            if inner_hits == 1:
                return local_df(self.spark, 
                    [], f"{by} string, doc_id long, score double"
                )
            return local_df(self.spark, 
                [], f"{by} string, doc_id long, score double, hit_rank int"
            )
        sc = self._live(sc)
        if round_scores is not None:
            sc = sc.withColumn("score", F.round("score", round_scores))
        joined = sc.join(self.doc_stats().select("doc_id", by), "doc_id")
        from pyspark.sql.window import Window

        w = Window.partitionBy(by).orderBy(F.desc("score"), F.asc("doc_id"))
        ranked = joined.withColumn("rn", F.row_number().over(w))
        if inner_hits == 1:
            return (
                ranked.filter(F.col("rn") == 1)
                .select(by, "doc_id", "score")
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k)
            )
        top_groups = (
            ranked.filter(F.col("rn") == 1)
            .select(
                F.col(by).alias("_g"),
                F.col("score").alias("_gscore"),
                F.col("doc_id").alias("_gdoc"),
            )
            .orderBy(F.desc("_gscore"), F.asc("_gdoc"))
            .limit(k)
        )
        return (
            ranked.filter(F.col("rn") <= int(inner_hits))
            .join(F.broadcast(top_groups), F.col(by) == F.col("_g"))
            .select(by, "doc_id", "score", F.col("rn").alias("hit_rank"),
                    "_gscore", "_gdoc")
            .orderBy(F.desc("_gscore"), F.asc("_gdoc"), F.asc("hit_rank"))
            .drop("_gscore", "_gdoc")
        )

    def parent_table(self, join_field: str = "source") -> DataFrame:
        """Parent-level relation derived from the children (the ES join-field
        model without materialized parent docs): one row per distinct
        ``join_field`` value with ``n_children`` and the child doc_id span.
        Tombstone-aware (a fully-deleted parent disappears). One hash
        aggregate on the parent key — at 100 TB the parent cardinality is
        orders of magnitude below the doc count, so the agg output is tiny
        and broadcastable into :meth:`has_parent`."""
        return (
            self.doc_stats()
            .groupBy(F.col(join_field).alias("parent"))
            .agg(
                F.count("*").alias("n_children"),
                F.min("doc_id").alias("first_doc_id"),
                F.max("doc_id").alias("last_doc_id"),
            )
        )

    def has_child(
        self,
        query: str,
        join_field: str = "source",
        score_mode: str = "max",
        k: int = 10,
        min_children: int = 1,
        max_children: int | None = None,
        field: str | int | None = None,
        round_scores: int | None = None,
    ) -> DataFrame:
        """ES ``has_child`` (join-field parent/child): return PARENT keys
        whose children match the inner BM25 query, scored per
        ``score_mode`` ('max' | 'sum' | 'avg' | 'none' — ES's modes; 'none'
        ranks matching parents by key with score 0, ES's non-scoring form).
        ``min_children`` / ``max_children`` gate on the number of MATCHING
        children, exactly as ES counts them. The reference's conv-per-many-
        turns layout (transcripts: conv_id -> turn rows) is this relation;
        here any meta column is the join key.

        Physical shape: one scoring pass over the match set (block-max
        pruning disabled — every matching child must be counted, not just
        top-k), one hash aggregate on the parent key. The aggregate input is
        the MATCH SET, not the corpus, so at 100 TB this adds one small
        shuffle after the same scan ``topk`` performs. Child scores are
        rounded BEFORE aggregation when ``round_scores`` is given so the
        DuckDB oracle can reproduce sums bit-for-bit."""
        if score_mode not in ("max", "sum", "avg", "none"):
            raise ValueError(f"has_child: unknown score_mode {score_mode!r}")
        fid = self._fid(field)
        terms = sorted(set(self._analyze(query, field)))
        sc = self._bm25_scores(terms, fid)
        if sc is None:
            return local_df(self.spark, 
                [], "parent string, score double, n_children long"
            )
        sc = self._live(sc)
        if round_scores is not None:
            sc = sc.withColumn("score", F.round("score", round_scores))
        joined = sc.join(
            self.doc_stats().select(
                "doc_id", F.col(join_field).alias("parent")
            ),
            "doc_id",
        )
        agg_expr = {
            "max": F.max("score"),
            "sum": F.sum("score"),
            "avg": F.avg("score"),
            "none": F.lit(0.0),
        }[score_mode]
        grp = joined.groupBy("parent").agg(
            agg_expr.alias("score"), F.count("*").alias("n_children")
        )
        grp = grp.filter(F.col("n_children") >= int(min_children))
        if max_children is not None:
            grp = grp.filter(F.col("n_children") <= int(max_children))
        if round_scores is not None:
            grp = grp.withColumn("score", F.round("score", round_scores))
        return grp.select("parent", "score", "n_children").orderBy(
            F.desc("score"), F.asc("parent")
        ).limit(k)

    def has_parent(
        self,
        parent_filter: Column,
        join_field: str = "source",
        k: int = 10,
        parents: DataFrame | None = None,
    ) -> DataFrame:
        """ES ``has_parent``: return CHILD docs whose parent satisfies a
        parent-level predicate (a Column over :meth:`parent_table`'s
        ``parent`` / ``n_children`` / ``first_doc_id`` / ``last_doc_id``
        columns, or over a caller-supplied ``parents`` relation keyed by
        ``parent``). Non-scoring, like ES's default (score=false): children
        come back in (doc_id) order with their parent key.

        Physical shape: the filtered parent set is tiny (parent cardinality
        << doc count) and broadcast-joined into doc_stats — no shuffle of
        the children side."""
        ptab = parents if parents is not None else self.parent_table(join_field)
        keep = ptab.filter(parent_filter).select("parent")
        kids = self.doc_stats().select(
            "doc_id", F.col(join_field).alias("parent")
        )
        return (
            kids.join(F.broadcast(keep), "parent")
            .select("doc_id", "parent")
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def parent_id(
        self, parent: str, join_field: str = "source", k: int = 10
    ) -> DataFrame:
        """ES ``parent_id`` query: all children of ONE parent. A pushed
        equality filter on the doc_stats scan — no join at all."""
        return (
            self.doc_stats()
            .filter(F.col(join_field) == parent)
            .select("doc_id", F.col(join_field).alias("parent"))
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def highlight(
        self,
        query: str,
        k: int = 10,
        text_col: str = "text",
        field: str | int | None = None,
        pre_tag: str = "<em>",
        post_tag: str = "</em>",
        round_scores: int | None = None,
        number_of_fragments: int = 0,
        fragment_size: int = 100,
    ) -> DataFrame:
        """ES highlight: the top-k BM25 hits with EVERY query-term
        occurrence in the stored source column wrapped in pre/post tags.

        ``number_of_fragments=0`` (default) returns the whole tagged field
        (one row per hit: doc_id, score, highlighted). With
        ``number_of_fragments > 0`` it returns up to that many snippets of
        ``fragment_size`` chars per hit (one row per fragment: doc_id,
        score, frag_idx, fragment), via a deterministic match-anchored
        fragmenter that both Spark and the DuckDB oracle can compute:
        tag occurrences, locate each tag's char offset (a prefix-sum fold
        over the split parts), greedily keep offsets at least
        ``fragment_size - lead`` apart (later matches are absorbed into
        the previous snippet's window; ``lead = fragment_size // 5`` chars
        of left context), then slice ``fragment_size`` chars starting at
        ``max(1, offset - lead)``. Everything stays JVM-side — array folds
        and substring windows on the k hit rows only.

        Requires the index to carry the source text as a meta column
        (``meta_cols=(..., text_col)`` at build time — the ES ``_source``
        storage model; parquet column pruning keeps every non-highlight
        query free of those bytes). Matching is a case-insensitive regex
        over the ANALYZED query terms: ASCII word terms are wrapped in
        ``\\b`` boundaries; terms containing non-ASCII characters (CJK —
        where ``\\b``, being ASCII-defined in both Java and RE2, can never
        fire) match bare occurrences instead. One deterministic pattern,
        reproducible in the DuckDB oracle."""
        import re as _re

        if not hasattr(self, "_doc_stats_cols"):
            # one footer read, cached on the index handle
            self._doc_stats_cols = self.spark.read.parquet(
                f"{self.dir}/doc_stats"
            ).columns
        if text_col not in self._doc_stats_cols:
            raise ValueError(
                f"highlight: index does not store {text_col!r} — build with "
                f"meta_cols including it"
            )
        terms = sorted(set(self._analyze(query, field)))
        if not terms:
            return local_df(self.spark, 
                [], "doc_id long, score double, highlighted string"
            )
        top = self.topk(query, k=k, field=field, round_scores=round_scores)
        alts = [
            rf"\b{_re.escape(t)}\b"
            if _re.fullmatch(r"[a-z0-9_]+", t)
            else _re.escape(t)
            for t in terms
        ]
        pat = "(?i)(" + "|".join(alts) + ")"
        joined = top.join(
            self.doc_stats().select("doc_id", text_col), "doc_id"
        )
        def _quote_replacement(s: str) -> str:
            # Java regexp_replace replacements treat $ and \ specially
            return s.replace("\\", "\\\\").replace("$", "\\$")

        rep = f"{_quote_replacement(pre_tag)}$1{_quote_replacement(post_tag)}"
        tagged = joined.withColumn(
            "highlighted", F.regexp_replace(F.col(text_col), pat, rep)
        )
        if number_of_fragments <= 0:
            return tagged.select("doc_id", "score", "highlighted").orderBy(
                F.desc("score"), F.asc("doc_id")
            )

        lead = fragment_size // 5
        gap = fragment_size - lead
        taglen = len(pre_tag)
        parts = F.split("highlighted", _re.escape(pre_tag), -1)
        # char offset (1-based) of each pre_tag: prefix-sum fold over the
        # parts preceding it
        offs = F.aggregate(
            F.slice(parts, 1, F.size(parts) - 1),
            F.struct(
                F.lit(1).alias("pos"),
                F.array().cast("array<int>").alias("offs"),
            ),
            lambda acc, p: F.struct(
                (acc["pos"] + F.length(p) + taglen).alias("pos"),
                F.concat(
                    acc["offs"],
                    F.array((acc["pos"] + F.length(p)).cast("int")),
                ).alias("offs"),
            ),
            lambda acc: acc["offs"],
        )
        # greedy absorb: keep a match only if it falls past the previous
        # kept snippet's window
        sel = F.aggregate(
            offs,
            F.array().cast("array<int>"),
            lambda acc, o: F.when(
                (F.size(acc) == 0) | (o >= F.element_at(acc, -1) + gap),
                F.concat(acc, F.array(o)),
            ).otherwise(acc),
        )
        out = (
            tagged.withColumn(
                "sel", F.slice(sel, 1, number_of_fragments)
            )
            .select(
                "doc_id", "score", "highlighted",
                F.posexplode("sel").alias("fidx", "off"),
            )
            .select(
                "doc_id", "score",
                (F.col("fidx") + 1).alias("frag_idx"),
                F.col("highlighted")
                .substr(
                    F.greatest(F.lit(1), F.col("off") - lead),
                    F.lit(fragment_size),
                )
                .alias("fragment"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"), F.asc("frag_idx"))
        )
        return out

    def significant_terms(
        self,
        query: str,
        k: int = 10,
        field: str | int | None = None,
        min_doc_count: int = 3,
        round_scores: int | None = 6,
    ) -> DataFrame:
        """ES significant_terms with the JLH heuristic: terms whose
        frequency in the match set (foreground) is anomalously high vs the
        whole index (background). score = (fg% − bg%) · (fg% / bg%),
        fg% = fg_count/|match set|, bg% = df/|index|.

        Plan shape (the honest ES cost — one pass over the index's
        postings): decode (term, doc_id) with the match-set ids pushed into
        the kernel as a broadcast mask when they fit the id-push budget
        (distributed semi-join fallback otherwise), partial-agg per term,
        then a broadcast join of the surviving fg counts against the
        term_dict for bg df. No driver-side term list at any point."""
        fid = self._fid(field)
        qterms = sorted(set(self._analyze(query, field)))
        out_schema = "term string, score double"
        if not qterms:
            return local_df(self.spark, [], out_schema)
        docs = self._docs_for_terms(qterms, fid)
        return self._jlh_scores(docs, fid, k, min_doc_count, round_scores)

    def _jlh_scores(
        self,
        docs: DataFrame,
        fid: int,
        k: int,
        min_doc_count: int,
        round_scores: int | None,
    ) -> DataFrame:
        """JLH-scored over-represented terms for an arbitrary foreground doc
        set — the shared engine behind significant_terms (foreground = the
        match set) and significant_text (foreground = deduplicated and/or
        sampled hits). Background stats are always the WHOLE index
        (term_dict df over n_docs), exactly like ES."""
        out_schema = "term string, score double"
        fg_n = docs.count()
        if fg_n == 0:
            return local_df(self.spark, [], out_schema)
        allowed = self._bounded_ids(docs)

        pairs = self._read_postings(
            self.postings().filter(F.col("field") == fid),
            ["term", "doc_id"],
            allowed=allowed,
        )
        if allowed is None:  # over budget: distributed semi-join instead
            pairs = pairs.join(docs.select("doc_id"), "doc_id", "left_semi")
        fg = pairs.groupBy("term").agg(F.count("*").alias("fgc")).filter(
            F.col("fgc") >= int(min_doc_count)
        )
        bg = self._field_dict(fid).select("term", "df")
        fgp = F.col("fgc") / F.lit(float(fg_n))
        bgp = F.col("df") / F.lit(float(self.n_docs))
        scored = fg.join(bg, "term").select(
            "term", ((fgp - bgp) * (fgp / bgp)).alias("score")
        )
        if round_scores is not None:
            scored = scored.withColumn("score", F.round("score", round_scores))
        return scored.orderBy(F.desc("score"), F.asc("term")).limit(k)

    def significant_text(
        self,
        query: str,
        k: int = 10,
        field: str | int | None = None,
        min_doc_count: int = 3,
        filter_duplicate_text: bool = True,
        sample_size: int | None = None,
        round_scores: int | None = 6,
    ) -> DataFrame:
        """ES significant_text: significant_terms over the analyzed text of
        the hits, with the two behaviors that make it its own agg in ES —
        ``filter_duplicate_text`` drops copy-paste duplicates from the
        FOREGROUND only (one representative per identical text, min doc_id;
        background df keeps the duplicates, exactly like ES, so boilerplate
        stops dominating the numerator without deflating the denominator),
        and ``sample_size`` restricts the foreground to the top-scored hits
        (ES docs recommend wrapping significant_text in a sampler; here it
        is one BM25 top-k instead of a wrapper). Re-analysis is free in
        this engine: the index's postings ARE the analyzed text, so the
        JLH pass reads term/doc pairs from the index rather than
        re-tokenizing source text per hit.

        Requires ``text`` in meta_cols when filter_duplicate_text (the
        dedup key is xxhash64(text) + length, collision-safe like
        exact_dedup)."""
        fid = self._fid(field)
        qterms = sorted(set(self._analyze(query, field)))
        out_schema = "term string, score double"
        if not qterms:
            return local_df(self.spark, [], out_schema)
        if sample_size is not None:
            docs = self.topk(
                query, k=int(sample_size), field=field
            ).select("doc_id")
        else:
            docs = self._docs_for_terms(qterms, fid)
        if filter_duplicate_text:
            stats_cols = self.doc_stats().columns
            if "text" not in stats_cols:
                raise ValueError(
                    "significant_text filter_duplicate_text needs 'text' "
                    "in the index's meta_cols"
                )
            meta = self.doc_stats().select(
                "doc_id",
                F.xxhash64("text").alias("_h"),
                F.length("text").alias("_l"),
            )
            w = Window.partitionBy("_h", "_l").orderBy(F.asc("doc_id"))
            docs = (
                docs.join(meta, "doc_id")
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select("doc_id")
            )
        return self._jlh_scores(docs, fid, k, min_doc_count, round_scores)

    def _term_doc_pairs(self, cand: DataFrame) -> DataFrame:
        """Decode a candidate posting-run scan to distinct live
        (term, doc_id) pairs — the pair-preserving sibling of
        ``_decode_doc_ids`` (graph explore needs to know WHICH seed a doc
        came from, not just the union)."""
        return self._live(self._read_postings(cand, ["term", "doc_id"]).distinct())

    def graph_explore(
        self,
        query: str,
        size: int = 10,
        field: str | int | None = None,
        min_doc_count: int = 3,
        round_scores: int | None = 6,
    ) -> DataFrame:
        """ES Graph explore API (_graph/explore), deterministic core: from
        the analyzed seed terms of ``query``, discover the ``size`` most
        significant co-occurring vertex terms (JLH-scored against the whole
        index as background, exactly like significant_terms) and the
        seed->vertex connections with their co-occurrence doc counts.

        Returns one row per connection: (src seed term, dst vertex term,
        doc_count, score) — score is the DST vertex's significance, the
        quantity ES uses to size graph vertices — ordered by score desc,
        src asc, dst asc.

        Plan shape (one ES-explore round trip): seed postings decode to
        (seed, doc) pairs (bucket-pruned scan, few driver-known terms); the
        foreground doc set feeds the same postings-pass JLH engine as
        significant_terms; the <= size discovered vertex terms (a k-bounded
        collect, same discipline as every top-k surface) prune a second
        postings scan to vertex (term, doc) pairs semi-joined down to the
        foreground; one equi-join on doc_id + one partial-agg count yields
        the edges. Nothing all-pairs, no term list ever exceeds
        size + #seeds driver-side."""
        fid = self._fid(field)
        seeds = sorted(set(self._analyze(query, field)))
        out_schema = (
            "src string, dst string, doc_count long, score double"
        )
        if not seeds:
            return local_df(self.spark, [], out_schema)
        # seed_pairs feeds the JLH pass, the vertex semi-join AND the edge
        # join; fg_docs feeds two of those. Materialize each once (lazy
        # executor-local blocks) instead of re-decoding the seed postings
        # per consumer.
        seed_pairs = self._term_doc_pairs(
            self._candidate_postings(seeds, fid)
        ).select(F.col("term").alias("src"), "doc_id").localCheckpoint(
            eager=False
        )
        fg_docs = seed_pairs.select("doc_id").distinct().localCheckpoint(
            eager=False
        )
        verts = (
            self._jlh_scores(
                fg_docs, fid, size + len(seeds), min_doc_count, round_scores
            )
            .filter(~F.col("term").isin(seeds))
            # re-sort: a filter between orderBy/limit stages does not
            # guarantee order preservation; <= size + #seeds rows, free
            .orderBy(F.desc("score"), F.asc("term"))
            .limit(size)
        )
        vterms = [r["term"] for r in verts.select("term").collect()]
        if not vterms:
            return local_df(self.spark, [], out_schema)
        vert_pairs = (
            self._term_doc_pairs(self._candidate_postings(vterms, fid))
            .join(fg_docs, "doc_id", "left_semi")
            .select(F.col("term").alias("dst"), "doc_id")
        )
        edges = (
            seed_pairs.join(vert_pairs, "doc_id")
            .groupBy("src", "dst")
            .agg(F.count("*").alias("doc_count"))
        )
        return (
            edges.join(
                verts.select(F.col("term").alias("dst"), "score"), "dst"
            )
            .select("src", "dst", "doc_count", "score")
            .orderBy(F.desc("score"), F.asc("src"), F.asc("dst"))
        )

    def random_sampler_agg(
        self,
        query: str | None,
        by: str,
        probability: float,
        seed: int = 0,
        k: int = 10,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES ``random_sampler`` aggregation: run the (terms) sub-agg on
        a random ``probability`` fraction of the match set and scale
        doc_counts back by 1/p — ES 8.2's cheap-aggs-over-huge-indexes
        primitive. Sampling is the repo's deterministic affine hash of
        (doc_id + seed) — reproducible across engines/retries (ES's
        sampling is seed-stable per shard for the same reason), and the
        scan does a fraction of the agg work, which is the entire point
        at 100 TB. Scaled counts are rounded to long like ES reports
        them."""
        if not (0 < probability <= 1):
            raise ValueError(
                f"random_sampler: probability in (0, 1], got {probability}"
            )
        from ..operators.sampling import _P, sample_hash

        joined = self._match_meta(query, field, [by], filters)
        u = sample_hash(F.col("doc_id") + F.lit(int(seed)))
        cut = int(probability * _P)
        sampled = joined.filter(u < cut)
        return (
            sampled.groupBy(by)
            .agg(F.count("*").alias("sampled_count"))
            .select(
                by,
                "sampled_count",
                F.round(F.col("sampled_count") / F.lit(float(probability)))
                .cast("long")
                .alias("doc_count"),
            )
            .orderBy(F.desc("doc_count"), F.asc(by))
            .limit(k)
        )

    def sampler_agg(
        self,
        query: str,
        by: str,
        shard_size: int = 100,
        k: int = 10,
        field: str | int | None = None,
        diversify_on: str | None = None,
        max_docs_per_value: int = 1,
        round_scores: int | None = None,
    ) -> DataFrame:
        """ES sampler / diversified_sampler wrapping a terms sub-agg: the
        sub-aggregation sees only the ``shard_size`` BEST-scoring hits
        (single logical shard here, so the sample is the deterministic
        global top — score desc, doc_id asc). With ``diversify_on``, docs
        beyond ``max_docs_per_value`` per distinct value of that column are
        skipped BEFORE the sample is filled (ES's de-biasing semantics:
        the sample keeps pulling from lower-ranked hits to reach
        shard_size), implemented as a row_number window per value over the
        scored match set, then the top-shard_size cut.

        Plan: one scored match pass (the diversified form scores the full
        match set — the honest ES cost: every shard scores all its matches
        before sampling), a window per diversify value, a global top-k
        (TakeOrderedAndProject), then a tiny groupBy on the sample."""
        if diversify_on is None:
            hits = self.topk(query, k=int(shard_size), field=field)
        else:
            # k=None: all scored matches, no global sort — the window
            # below partition-sorts per value and only the shard_size cut
            # needs global order
            scored = self.topk(query, k=None, prune=False, field=field)
            dv = self.doc_stats().select("doc_id", diversify_on)
            w = Window.partitionBy(diversify_on).orderBy(
                F.desc("score"), F.asc("doc_id")
            )
            hits = (
                scored.join(dv, "doc_id")
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= int(max_docs_per_value))
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(int(shard_size))
                .select("doc_id", "score")
            )
        meta = self.doc_stats().select("doc_id", by)
        return (
            hits.join(meta, "doc_id")
            .groupBy(by)
            .agg(F.count("*").alias("doc_count"))
            .orderBy(F.desc("doc_count"), F.asc(by))
            .limit(int(k))
        )

    def rank_eval(
        self,
        requests: Sequence[dict],
        metric: dict,
        round_scores: int | None = 6,
    ) -> DataFrame:
        """ES ``_rank_eval``: score ranked results against human relevance
        ratings — the search-quality harness (precision@k,
        mean_reciprocal_rank, dcg with optional NDCG normalization).

        ``requests``: [{"id": str, "query": str, "ratings": {doc_id:
        rating}}, ...]; ``metric``: one-key dict, e.g.
        {"precision": {"k": 10, "relevant_rating_threshold": 1}} /
        {"mean_reciprocal_rank": {"k": 10}} / {"dcg": {"k": 10,
        "normalize": True}}. Returns (req_id, score) per request plus a
        ``_mean`` row (ES's overall metric_score = unweighted mean).

        Plan: one BM25 top-k per request (rated query sets are small by
        nature — ES runs one search per request too), unioned into a
        single (req, rank, doc) DataFrame, one broadcast join against the
        ratings literals, one groupBy(req). The metric math is pure
        Catalyst; NDCG's ideal-DCG divisor comes from each request's own
        ratings (top-k by rating desc), like ES."""
        if len(metric) != 1:
            raise ValueError("metric must be a one-key dict")
        ids = [str(r["id"]) for r in requests]
        if len(set(ids)) != len(ids):
            raise ValueError("rank_eval: request ids must be unique")
        mname, mspec = next(iter(metric.items()))
        if mname not in ("precision", "mean_reciprocal_rank", "dcg"):
            raise ValueError(f"unsupported rank_eval metric: {mname!r}")
        mspec = mspec or {}
        k = int(mspec.get("k", 10))
        thr = int(mspec.get("relevant_rating_threshold", 1))

        hit_parts = []
        rating_rows = []
        for req in requests:
            rid = str(req["id"])
            hits = (
                self.topk(req["query"], k=k)
                .select(
                    F.lit(rid).alias("req"),
                    F.col("doc_id"),
                    F.row_number()
                    .over(
                        Window.orderBy(F.desc("score"), F.asc("doc_id"))
                    )
                    .alias("rank"),
                )
            )
            hit_parts.append(hits)
            for did, rating in dict(req.get("ratings", {})).items():
                rating_rows.append((rid, int(did), int(rating)))
        if not hit_parts:
            return local_df(self.spark, [], "req_id string, score double")
        all_hits = hit_parts[0]
        for h in hit_parts[1:]:
            all_hits = all_hits.unionByName(h)
        ratings = local_df(self.spark, 
            rating_rows or [("", -1, 0)],
            "req string, doc_id long, rating int",
        )
        joined = all_hits.join(
            F.broadcast(ratings), ["req", "doc_id"], "left"
        ).withColumn("rating", F.coalesce("rating", F.lit(0)))

        if mname == "precision":
            per = joined.groupBy("req").agg(
                (
                    F.count(F.when(F.col("rating") >= thr, 1))
                    / F.count("*")
                ).alias("score")
            )
        elif mname == "mean_reciprocal_rank":
            per = joined.groupBy("req").agg(
                F.coalesce(
                    F.lit(1.0)
                    / F.min(
                        F.when(F.col("rating") >= thr, F.col("rank"))
                    ),
                    F.lit(0.0),
                ).alias("score")
            )
        else:  # dcg
            gain = (
                F.pow(F.lit(2.0), F.col("rating")) - 1.0
            ) / (F.log2(F.col("rank") + 1))
            per = joined.groupBy("req").agg(F.sum(gain).alias("score"))
            if bool(mspec.get("normalize", False)):
                iw = Window.partitionBy("req").orderBy(
                    F.desc("rating"), F.asc("doc_id")
                )
                ideal = (
                    ratings.withColumn("rank", F.row_number().over(iw))
                    .filter(F.col("rank") <= k)
                    .groupBy("req")
                    .agg(
                        F.sum(
                            (F.pow(F.lit(2.0), F.col("rating")) - 1.0)
                            / F.log2(F.col("rank") + 1)
                        ).alias("idcg")
                    )
                )
                per = per.join(ideal, "req", "left").select(
                    "req",
                    F.when(
                        F.col("idcg") > 0, F.col("score") / F.col("idcg")
                    )
                    .otherwise(F.lit(0.0))
                    .alias("score"),
                )
        # requests whose query matched nothing: ES scores them 0
        req_ids = local_df(self.spark, 
            [(str(r["id"]),) for r in requests], "req string"
        )
        per = req_ids.join(per, "req", "left").withColumn(
            "score", F.coalesce("score", F.lit(0.0))
        )
        mean = per.agg(
            F.lit("_mean").alias("req"), F.avg("score").alias("score")
        )
        out = per.unionByName(mean).select(
            F.col("req").alias("req_id"), "score"
        )
        if round_scores is not None:
            out = out.withColumn("score", F.round("score", round_scores))
        return out.orderBy("req_id")

    def composite_agg(
        self,
        query: str,
        sources: Sequence[str],
        size: int = 10,
        after: tuple | None = None,
        field: str | int | None = None,
        filters: Column | None = None,
    ) -> DataFrame:
        """ES composite aggregation: multi-source buckets over the match
        set, ordered by the bucket key tuple, paginated with ``after``
        (the last key tuple of the previous page — keyset pagination, the
        only agg pagination that scales: each page is one agg + one
        range-filter, never a deepening offset). Docs with a NULL in any
        source column are omitted (ES's ``missing_bucket: false``
        default) — this also keeps every emitted key usable as an
        after-key.

        A source is either a doc_stats column name (ES terms source) or
        a ``(name, column, interval)`` tuple (ES date_histogram source):
        the bucket is date_trunc(interval) formatted
        'yyyy-MM-dd HH:mm:ss', so after-key string comparison IS
        chronological order and the key round-trips through any engine."""
        exprs, cols, needed = [], [], []
        for s in sources:
            if isinstance(s, str):
                exprs.append(F.col(s))
                cols.append(s)
                needed.append(s)
            else:
                name, on, interval = s
                exprs.append(
                    F.date_format(
                        F.date_trunc(interval, F.col(on)),
                        "yyyy-MM-dd HH:mm:ss",
                    ).alias(name)
                )
                cols.append(name)
                needed.append(on)
        joined = (
            self._match_meta(query, field, needed, filters)
            .select(*exprs)
            .na.drop(subset=cols)
        )
        agg = joined.groupBy(*cols).agg(F.count("*").alias("doc_count"))
        if after is not None:
            if len(after) != len(cols):
                raise ValueError("composite_agg: after arity != sources arity")
            if any(v is None for v in after):
                # SQL three-valued logic would silently drop every bucket
                # compared against a NULL key component — refuse instead
                raise ValueError(
                    "composite_agg: NULL in after-key is not supported — "
                    "fill or filter NULL bucket sources"
                )
            # lexicographic (c0, c1, ...) > after
            cond = None
            for i in range(len(cols)):
                eq = None
                for j in range(i):
                    e = F.col(cols[j]) == F.lit(after[j])
                    eq = e if eq is None else (eq & e)
                gt = F.col(cols[i]) > F.lit(after[i])
                leg = gt if eq is None else (eq & gt)
                cond = leg if cond is None else (cond | leg)
            agg = agg.filter(cond)
        return agg.orderBy(*[F.asc(c) for c in cols]).limit(int(size))

    def top_hits(
        self,
        query: str,
        by: str,
        size: int = 3,
        field: str | int | None = None,
        round_scores: int | None = None,
        interval: str | None = None,
    ) -> DataFrame:
        """ES terms aggregation with a top_hits sub-aggregation: the
        ``size`` best BM25 hits per bucket of a doc_stats column. One
        scoring pass (unpruned — every bucket needs its own top ranks, so
        a global θ is invalid) + one window shuffle partitioned by
        bucket.

        ``interval``: bucket a TIMESTAMP column by calendar interval
        instead (date_histogram + top_hits — "the best hit per day");
        the output key column is named ``bucket``."""
        fid = self._fid(field)
        terms = sorted(set(self._analyze(query, field)))
        terms = [t for t in terms if t]
        sc = self._bm25_scores(terms, fid)
        if sc is None:
            name = "bucket" if interval is not None else by
            return local_df(self.spark, 
                [], f"{name} string, doc_id long, score double, rank int"
            )
        sc = self._live(sc)
        if round_scores is not None:
            sc = sc.withColumn("score", F.round("score", round_scores))
        ds = self.doc_stats().select("doc_id", by)
        if interval is not None:
            ds = ds.select(
                "doc_id",
                F.date_format(
                    F.date_trunc(interval, F.col(by)),
                    "yyyy-MM-dd HH:mm:ss",
                ).alias("bucket"),
            )
            by = "bucket"
        joined = sc.join(ds, "doc_id")
        from pyspark.sql.window import Window

        w = (
            Window.partitionBy(by)
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )
        return (
            joined.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= int(size))
            .select(by, "doc_id", "score", "rank")
            .orderBy(by, "rank")
        )

    def multi_match(
        self,
        query: str,
        fields: Sequence[str | int],
        k: int = 10,
        round_scores: int | None = None,
        prune: bool = True,
        match_type: str = "most_fields",
        tie_breaker: float = 0.0,
        operator: str = "or",
    ) -> DataFrame:
        """ES ``multi_match``. ``match_type='most_fields'`` scores the query
        against each named field with that field's own BM25 statistics and
        SUMS the field scores (the reference maps ~10 analyzed fields per
        doc — this is the cross-field form of its `match`,
        import_dart_data.py:389-440). ``match_type='best_fields'`` (ES's
        default) is dis_max: the best single field's score plus
        ``tie_breaker`` × every other matching field's score.

        Pruning is per-field WAND with summed cross-leg upper bounds: θ is
        bootstrapped from the globally rarest (field, term) leg, and each
        field's kernel skips blocks whose bound plus EVERY other leg's upper
        bound stays below θ. Both types stay rank-identical to the
        exhaustive plan (property-tested): a doc's final score — sum, or
        max + tie_breaker·rest with tie_breaker ≤ 1 — always sits between
        any single-leg partial (≥, the bootstrap) and the all-legs sum of
        upper bounds (≤, the skip test).

        ``match_type='cross_fields'`` is TERM-centric (Lucene
        BlendedTermQuery): every term's df is BLENDED to the max df across
        the queried fields (so a term common in one field isn't over-
        rewarded for being rare in another), each field still scores with
        its OWN tf / length norms, and per (doc, term) the field scores
        combine as max + tie_breaker·rest; the doc score sums the per-term
        combines. ``operator='and'`` (cross_fields only) keeps docs whose
        per-field matches cover EVERY analyzed query term — a term may be
        satisfied by ANY field, ES's cross_fields AND. θ-pruning is
        disabled under AND (a leg's top-k may be AND-rejected, so the
        bootstrap would not be a valid lower bound); the OR path keeps it
        with ubs rescaled by the blended idf, so the skip inequality stays
        conservative."""
        if match_type not in ("most_fields", "best_fields", "cross_fields"):
            raise ValueError(f"multi_match: unknown type {match_type!r}")
        if not 0.0 <= tie_breaker <= 1.0:
            raise ValueError("multi_match: tie_breaker must be in [0, 1]")
        if operator not in ("or", "and"):
            raise ValueError(f"multi_match: unknown operator {operator!r}")
        if operator == "and" and match_type != "cross_fields":
            raise ValueError(
                "multi_match: operator='and' is the cross_fields term-"
                "centric form; best/most_fields apply operators per field "
                "(use topk(mode='and') on each field instead)"
            )
        legs: list[tuple] = []
        analyzed_all: set[str] = set()
        leg_specs: list[tuple[float, int, list[str]]] = []
        for f in fields:
            boost = 1.0
            if isinstance(f, str) and "^" in f:  # ES "field^2.5" boost syntax
                f, _, b = f.rpartition("^")
                try:
                    boost = float(b)
                except ValueError:
                    raise ValueError(
                        f"multi_match: malformed field boost {f + '^' + b!r}"
                    ) from None
                if boost <= 0:
                    # ES rejects non-positive boosts; a negative factor
                    # would also flip the WAND upper bounds into lower
                    # bounds and break pruning conservativeness
                    raise ValueError(
                        f"multi_match: boost must be > 0, got {boost}"
                    )
            fid = self._fid(f)
            terms = sorted(set(self._analyze(query, fid)))
            analyzed_all.update(terms)
            if not terms:
                continue
            leg_specs.append((boost, fid, terms))
        # ONE metadata job for every leg instead of one per field
        for (boost, fid, terms), (dfs, idf, ubs) in zip(
            leg_specs,
            self._legs_stats([(fid, ts) for _, fid, ts in leg_specs]),
        ):
            terms = [t for t in terms if t in dfs]
            if terms:
                if boost != 1.0:
                    # scaling idf scales contributions, upper bounds AND the
                    # θ bootstrap consistently — pruning stays conservative
                    idf = {t: w * boost for t, w in idf.items()}
                    ubs = {t: u * boost for t, u in ubs.items()}
                legs.append((fid, terms, dfs, idf, ubs))
        if not legs:
            return local_df(self.spark, [], "doc_id long, score double")
        if match_type == "cross_fields":
            # blend df to the MAX across legs; rescale each leg's idf AND
            # ubs by the blended/local idf ratio (ubs are idf-proportional:
            # ub = idf * tf-saturation bound), so the skip inequality keeps
            # holding under the blended scores
            bdf: dict[str, int] = {}
            for _, terms, dfs, _, _ in legs:
                for t in terms:
                    bdf[t] = max(bdf.get(t, 0), dfs[t])
            if operator == "and" and not analyzed_all <= set(bdf):
                # some query term matches NO field: cross_fields AND is empty
                return local_df(self.spark, 
                    [], "doc_id long, score double"
                )
            legs = [
                (
                    fid, terms, dfs,
                    {t: idf[t] * _idf(self.n_docs, bdf[t]) / _idf(self.n_docs, dfs[t])
                     for t in terms},
                    {t: ubs[t] * _idf(self.n_docs, bdf[t]) / _idf(self.n_docs, dfs[t])
                     for t in terms},
                )
                for fid, terms, dfs, idf, ubs in legs
            ]
        theta = 0.0
        n_terms_total = sum(len(l[1]) for l in legs)
        if prune and n_terms_total > 1 and operator == "or":
            theta = self._multi_leg_theta(legs, k)
        ub_total = sum(sum(l[4].values()) for l in legs)
        term_centric = match_type == "cross_fields"
        parts: list[DataFrame] = []
        for fid, terms, dfs, idf, ubs in legs:
            scored = self._score_terms(
                terms, idf, theta=theta, ubs=ubs, fid=fid,
                extra_ub=ub_total - sum(ubs.values()),
                keep_term=term_centric,
            )
            keys = ["doc_id", "term"] if term_centric else ["doc_id"]
            parts.append(
                scored.groupBy(*keys).agg(F.sum("score").alias("score"))
            )
        allp = parts[0]
        for p in parts[1:]:
            allp = allp.unionByName(p)
        if term_centric:
            # per (doc, term): dis_max across fields, then sum over terms —
            # two partial-aggregated shuffles on (doc_id[, term]), no
            # per-posting shuffle beyond what the kernel already emits
            per_term = allp.groupBy("doc_id", "term").agg(
                (
                    F.max("score")
                    + F.lit(float(tie_breaker))
                    * (F.sum("score") - F.max("score"))
                ).alias("ts")
            )
            gb = per_term.groupBy("doc_id")
            if operator == "and":
                agg = gb.agg(
                    F.sum("ts").alias("score"),
                    F.count("*").alias("_nt"),
                ).filter(F.col("_nt") == len(analyzed_all)).drop("_nt")
            else:
                agg = gb.agg(F.sum("ts").alias("score"))
        elif match_type == "most_fields":
            agg = allp.groupBy("doc_id").agg(F.sum("score").alias("score"))
        else:  # best_fields: max + tie_breaker * (sum of the other legs)
            agg = allp.groupBy("doc_id").agg(
                (
                    F.max("score")
                    + F.lit(float(tie_breaker))
                    * (F.sum("score") - F.max("score"))
                ).alias("score")
            )
        agg = self._live(agg)
        if round_scores is not None:
            agg = agg.withColumn("score", F.round("score", round_scores))
        return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def multi_match_phrase(
        self,
        query: str,
        fields: Sequence[str | int],
        k: int = 10,
        match_type: str = "phrase",
        tie_breaker: float = 0.0,
        round_scores: int | None = None,
        max_expansions: int | None = 50,
        slop: int = 0,
    ) -> DataFrame:
        """ES ``multi_match`` type=phrase / type=phrase_prefix: the phrase
        (or phrase-prefix) query runs against EACH named field and the
        per-field scores combine as dis_max — best field's score plus
        ``tie_breaker`` × every other matching field's score (ES rewrites
        both types through best_fields combination).

        type=phrase legs are the scored PhraseQuery BM25 of
        match_phrase_scored (_phrase_scores, per-field stats and dl —
        non-primary dl decoded from posting runs). type=phrase_prefix
        legs are constant-score 1.0 (this engine scores phrase_prefix in
        filter context, see match_phrase_prefix), so a leg contributes
        its boost. Field boosts use the ES ``field^2.5`` syntax.

        Exactness of the combine: each leg is the FULL unlimited score
        frame (phrase hits are df-bounded by the rarest term, so a leg is
        never bigger than one posting list) — the dis_max groupBy sees
        every contribution, making top-k exact even with tie_breaker > 0;
        per-leg top-k-then-merge would drop cross-field tie contributions.
        One partial-aggregated shuffle on doc_id."""
        if match_type not in ("phrase", "phrase_prefix"):
            raise ValueError(
                f"multi_match_phrase: unknown type {match_type!r}"
            )
        if not 0.0 <= tie_breaker <= 1.0:
            raise ValueError("multi_match_phrase: tie_breaker must be in [0, 1]")
        if slop < 0:
            raise ValueError("multi_match_phrase: slop must be >= 0")
        if slop and match_type != "phrase":
            raise ValueError(
                "multi_match_phrase: slop only applies to type=phrase"
            )
        legs: list[DataFrame] = []
        for f in fields:
            boost = 1.0
            if isinstance(f, str) and "^" in f:  # ES "field^2.5" boost syntax
                f, _, b = f.rpartition("^")
                try:
                    boost = float(b)
                except ValueError:
                    raise ValueError(
                        f"multi_match_phrase: malformed field boost "
                        f"{f + '^' + b!r}"
                    ) from None
                if boost <= 0:
                    raise ValueError(
                        f"multi_match_phrase: boost must be > 0, got {boost}"
                    )
            fid = self._fid(f)
            if match_type == "phrase":
                sc = self._phrase_scores(query, fid, slop=slop)
                if sc is None:
                    continue
                legs.append(
                    sc.select(
                        "doc_id",
                        (F.col("score") * F.lit(float(boost))).alias("score"),
                    )
                )
            else:
                docs = self._phrase_prefix_docs(query, fid, max_expansions)
                if docs is None:
                    continue
                legs.append(
                    docs.select(
                        "doc_id", F.lit(float(boost)).alias("score")
                    )
                )
        if not legs:
            return local_df(self.spark, [], "doc_id long, score double")
        allp = legs[0]
        for p in legs[1:]:
            allp = allp.unionByName(p)
        agg = allp.groupBy("doc_id").agg(
            (
                F.max("score")
                + F.lit(float(tie_breaker))
                * (F.sum("score") - F.max("score"))
            ).alias("score")
        )
        if round_scores is not None:
            agg = agg.withColumn("score", F.round("score", round_scores))
        return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def search_as_you_type(
        self,
        query: str,
        k: int = 10,
        base_field: str | int | None = None,
        round_scores: int | None = None,
        max_expansions: int | None = None,
        prune: bool = True,
    ) -> DataFrame:
        """ES search_as_you_type / multi_match bool_prefix (reference
        mapping at import_dart_data.py:353-354,395-405): every complete
        query term scores BM25 on the base field; the LAST term is treated
        as a prefix (constant 1.0 per matching doc, ES's constant-score
        prefix rewrite); 2/3-gram shingle subfields built alongside the
        base field add their BM25 contributions. Contributions sum.

        BM25 legs prune per-field-WAND style (see multi_match); the prefix
        leg can't be block-pruned (constant score) and contributes a flat
        1.0 to every other leg's upper-bound slack."""
        import re as _re

        fid = self._fid(base_field)
        base_name = self.fields[fid]
        terms = tokenize_text(query)
        if not terms:
            return local_df(self.spark, [], "doc_id long, score double")
        complete, last = terms[:-1], terms[-1]

        from ..functions.tokenizer import shingle_text

        leg_specs: list[tuple[int, list[str]]] = [(fid, sorted(set(complete)))]
        for gid, name in enumerate(self.fields):
            m = _re.fullmatch(_re.escape(base_name) + r"\._(\d+)gram", name)
            if m:
                leg_specs.append(
                    (gid, sorted(set(shingle_text(query, int(m.group(1))))))
                )
        legs: list[tuple] = []
        live_specs = [(gid, lterms) for gid, lterms in leg_specs if lterms]
        # ONE metadata job for every leg instead of one per subfield
        for (gid, lterms), (dfs, idf, ubs) in zip(
            live_specs, self._legs_stats(live_specs)
        ):
            lterms = [t for t in lterms if t in dfs]
            if lterms:
                legs.append((gid, lterms, dfs, idf, ubs))
        theta = 0.0
        if prune and legs and sum(len(l[1]) for l in legs) > 1:
            theta = self._multi_leg_theta(legs, k)
        # the prefix leg's flat 1.0/doc rides every BM25 leg's slack
        ub_total = sum(sum(l[4].values()) for l in legs) + 1.0
        parts: list[DataFrame] = []
        for gid, lterms, dfs, idf, ubs in legs:
            scored = self._score_terms(
                lterms, idf, theta=theta, ubs=ubs, fid=gid,
                extra_ub=ub_total - sum(ubs.values()),
            )
            parts.append(
                scored.groupBy("doc_id").agg(F.sum("score").alias("score"))
            )
        parts.append(
            self._docs_for_terms_df(
                self.expand_prefix_df(last, fid, max_expansions), fid
            ).withColumn("score", F.lit(1.0))
        )
        allp = parts[0]
        for p in parts[1:]:
            allp = allp.unionByName(p)
        agg = self._live(allp.groupBy("doc_id").agg(F.sum("score").alias("score")))
        if round_scores is not None:
            agg = agg.withColumn("score", F.round("score", round_scores))
        return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def hybrid_rrf(
        self,
        query: str,
        qvec: Sequence[float],
        emb: DataFrame,
        k: int = 10,
        window: int = 100,
        rank_constant: int = 60,
        field: str | int | None = None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """ES 8 hybrid search (``retriever: rrf``): a lexical BM25 leg
        and a vector cosine leg fused by Reciprocal Rank Fusion —
        score(d) = Σ_legs 1/(rank_constant + rank_leg(d)), ES defaults
        rank_constant=60 and window=100 per leg. ``emb`` is the
        embedding table whose ``id_col`` aligns with this index's
        doc_ids (the documents↔embeddings contract). Docs appearing in
        only one leg still score (the other leg contributes 0), exactly
        ES's RRF.

        Each leg ranks by (ROUNDED-to-6 leg score desc, id asc): the
        rounding pins rank identity across engines — an unrounded sort
        would let float ulp drift swap adjacent ranks and perturb every
        downstream RRF sum.

        Scale shape: the lexical leg is the block-max-pruned topk; the
        vector leg is one projection + TakeOrderedAndProject over the
        embedding table (swap in an ANN index probe for the 100-TB
        path); the fuse joins ≤ 2·window rows — the ES
        coordinating-node step."""
        from ..operators.similarity import _cosine

        lex = self.topk(query, k=window, field=field, round_scores=6)
        wl = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        lexr = lex.select(
            "doc_id", F.row_number().over(wl).alias("lrank")
        )
        qcol = lit_double_array(qvec)
        tomb = self._tombstones()
        vec_src = emb
        if tomb is not None:
            # exclude deleted docs BEFORE ranking: a tombstoned near-
            # neighbour must not consume a window slot or shift every
            # live doc's vector rank (the lexical leg already excludes
            # them inside topk — the legs must agree on the live set)
            vec_src = emb.join(
                tomb.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
            )
        vec = (
            vec_src.select(
                F.col(id_col).alias("doc_id"),
                F.round(_cosine(F.col(vec_col), qcol), 6).alias("cosine"),
            )
            .orderBy(F.desc("cosine"), F.asc("doc_id"))
            .limit(window)
        )
        wv = Window.orderBy(F.desc("cosine"), F.asc("doc_id"))
        vecr = vec.select(
            "doc_id", F.row_number().over(wv).alias("vrank")
        )
        fused = lexr.join(vecr, "doc_id", "full_outer").select(
            "doc_id",
            F.round(
                F.coalesce(
                    1.0 / (F.lit(float(rank_constant)) + F.col("lrank")),
                    F.lit(0.0),
                )
                + F.coalesce(
                    1.0 / (F.lit(float(rank_constant)) + F.col("vrank")),
                    F.lit(0.0),
                ),
                6,
            ).alias("score"),
        )
        return (
            self._live(fused)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def hybrid_linear(
        self,
        query: str,
        qvec: Sequence[float],
        emb: DataFrame,
        k: int = 10,
        window: int = 100,
        lex_weight: float = 1.0,
        vec_weight: float = 1.0,
        field: str | int | None = None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """ES 8.18 ``retriever: linear``: the weighted-sum alternative to
        RRF — each leg's top-``window`` scores are min-max normalized to
        [0, 1] within the leg (ES's ``normalizer: minmax``), then fused as
        lex_weight·norm_lex + vec_weight·norm_vec. Docs in one leg only
        contribute 0 from the missing leg, like RRF. A single-hit leg (or
        a constant-score leg) normalizes to 1.0, matching ES's
        max==min degenerate case.

        Same scale shape as :meth:`hybrid_rrf`: pruned topk + one
        TakeOrderedAndProject per leg, fuse over ≤ 2·window rows. Leg
        scores are rounded to 6 BEFORE normalization so the min/max pins
        identically across engines."""
        from ..operators.similarity import _cosine

        def _minmax(df: DataFrame, col: str) -> DataFrame:
            w = Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
            lo, hi = F.min(col).over(w), F.max(col).over(w)
            return df.withColumn(
                "norm",
                F.when(hi == lo, F.lit(1.0)).otherwise(
                    (F.col(col) - lo) / (hi - lo)
                ),
            ).select("doc_id", "norm")

        lex = _minmax(
            self.topk(query, k=window, field=field, round_scores=6), "score"
        )
        qcol = lit_double_array(qvec)
        tomb = self._tombstones()
        vec_src = emb
        if tomb is not None:
            vec_src = emb.join(
                tomb.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
            )
        vec = _minmax(
            vec_src.select(
                F.col(id_col).alias("doc_id"),
                F.round(_cosine(F.col(vec_col), qcol), 6).alias("cosine"),
            )
            .orderBy(F.desc("cosine"), F.asc("doc_id"))
            .limit(window),
            "cosine",
        )
        fused = lex.withColumnRenamed("norm", "ln").join(
            vec.withColumnRenamed("norm", "vn"), "doc_id", "full_outer"
        ).select(
            "doc_id",
            F.round(
                F.coalesce(F.col("ln"), F.lit(0.0)) * float(lex_weight)
                + F.coalesce(F.col("vn"), F.lit(0.0)) * float(vec_weight),
                6,
            ).alias("score"),
        )
        return (
            self._live(fused)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def sparse_vector(
        self,
        weights: dict[str, float],
        k: int = 10,
        field: str | int | None = None,
        filters: Column | None = None,
        round_scores: int | None = None,
        prune: bool = True,
        with_meta: bool = False,
    ) -> DataFrame:
        """ES ``sparse_vector`` / ``text_expansion`` query (the learned-
        sparse / SPLADE retrieval shape): score(d) = Σ_t w_t ·
        saturation_t(d) — a sparse dot product between the query-side
        expansion weights and the document's saturated term frequency
        tf/(tf + k1·(1−b+b·dl/avgdl)), which is BM25's per-term form with
        the idf replaced by the model-supplied weight (ES stores the
        doc-side weights at index time; with tf-saturation as the stored
        impact this engine computes the same dot product directly from
        postings — no reindex needed to switch expansion models).

        Keys are analyzed; a key must analyze to exactly one token.
        Weights must be > 0 (ES rejects non-positive weights). Block-max
        θ-pruning stays active — the bounds derive from the weight map
        (see ``term_weights`` in :meth:`topk`)."""
        if not weights:
            raise ValueError("sparse_vector: weights must be non-empty")
        toks: dict[str, float] = {}
        for raw, w in weights.items():
            w = float(w)
            if w <= 0.0:
                raise ValueError(
                    f"sparse_vector: weight for {raw!r} must be > 0, got {w}"
                )
            ts = self._analyze(str(raw), field)
            if len(ts) != 1:
                raise ValueError(
                    f"sparse_vector: token {raw!r} analyzes to {len(ts)} "
                    "terms; each key must be a single analyzed token"
                )
            toks[ts[0]] = toks.get(ts[0], 0.0) + w
        return self.topk(
            " ".join(sorted(toks)),
            k=k,
            field=field,
            filters=filters,
            round_scores=round_scores,
            prune=prune,
            with_meta=with_meta,
            term_weights=toks,
        )

    def match_bool_prefix(
        self,
        query: str,
        k: int = 10,
        field: str | int | None = None,
        max_expansions: int | None = 50,
        round_scores: int | None = None,
    ) -> DataFrame:
        """ES match_bool_prefix: the analyzed query becomes a bool should
        of term clauses for every token but the last, plus a PREFIX clause
        on the last token ("merge so" matches docs with "merge" anywhere
        OR any "so*" term — unlike match_phrase_prefix, no adjacency).
        Scoring is the bool-should sum: BM25 partials for the exact terms
        plus constant 1.0 when any prefix expansion matches (Lucene's
        constant-score multi-term rewrite inside bool). The expansion is
        the shared distributed prefix path (broadcast semi-join, capped
        first-``max_expansions`` lexicographically, ES default 50).

        Scale shape: one postings scoring pass over the exact terms + one
        term-dict prefix scan unioned in — no new machinery, no driver
        collect. θ-pruning stays off (should-sum semantics, every
        contribution must survive — same argument as bool_should)."""
        empty = local_df(self.spark, [], "doc_id long, score double")
        fid = self._fid(field)
        toks = self._analyze(query, field)
        if not toks:
            return empty
        exact, last = toks[:-1], toks[-1]
        pre = (
            self._docs_for_terms_df(
                self.expand_prefix_df(last, fid, max_expansions), fid
            )
            .select("doc_id")
            .distinct()
            .withColumn("pscore", F.lit(1.0))
        )
        sc = self._bm25_scores(sorted(set(exact)), fid) if exact else None
        if sc is None:
            merged = pre.select("doc_id", F.col("pscore").alias("score"))
        else:
            merged = sc.join(pre, "doc_id", "full_outer").select(
                "doc_id",
                (
                    F.coalesce(F.col("score"), F.lit(0.0))
                    + F.coalesce(F.col("pscore"), F.lit(0.0))
                ).alias("score"),
            )
        merged = self._live(merged)
        if round_scores is not None:
            merged = merged.withColumn("score", F.round("score", round_scores))
        return merged.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def explain(
        self,
        query: str,
        *key_values,
        field: str | int | None = None,
        round_scores: int | None = 6,
    ) -> DataFrame:
        """ES ``_explain``: the per-term BM25 contribution breakdown for ONE
        document — (term, df, idf, contribution) rows, term-ordered. The
        scoring kernel runs with the doc's id pushed as the allowed mask,
        so only that doc's postings rows survive the decode."""
        fid = self._fid(field)
        rows = self.get_by_key(*key_values).select("doc_id").collect()
        if not rows:
            return local_df(self.spark, 
                [], "term string, df long, idf double, contribution double"
            )
        doc_id = int(rows[0]["doc_id"])
        terms = sorted(set(self._analyze(query, field)))
        dfs = self.term_stats(terms, field)
        present = [t for t in terms if t in dfs]
        if not present:
            return local_df(self.spark, 
                [], "term string, df long, idf double, contribution double"
            )
        idf = {t: _idf(self.n_docs, dfs[t]) for t in present}
        scored = self._score_terms(
            present, idf, fid=fid,
            allowed=np.array([doc_id], dtype=np.int64), keep_term=True,
        )
        import itertools

        dfmap = F.create_map(
            *itertools.chain.from_iterable(
                (F.lit(t), F.lit(int(dfs[t]))) for t in present
            )
        )
        idfmap = F.create_map(
            *itertools.chain.from_iterable(
                (F.lit(t), F.lit(float(idf[t]))) for t in present
            )
        )
        out = scored.select(
            "term",
            dfmap[F.col("term")].cast("long").alias("df"),
            idfmap[F.col("term")].alias("idf"),
            F.col("score").alias("contribution"),
        )
        if round_scores is not None:
            out = out.withColumn(
                "idf", F.round("idf", round_scores)
            ).withColumn("contribution", F.round("contribution", round_scores))
        return out.orderBy("term")

    def rescore(
        self,
        query: str,
        rescore_phrase: str,
        k: int = 10,
        window_size: int = 50,
        weight: float = 1.0,
        field: str | int | None = None,
        round_scores: int | None = None,
    ) -> DataFrame:
        """ES ``rescore`` with a match_phrase secondary query: take the top
        ``window_size`` BM25 hits, add ``weight`` to every hit containing
        the exact phrase, re-rank, return k. The standard
        cheap-query-then-expensive-rerank shape — the positional decode
        runs only against the window's doc ids, never the corpus."""
        fid = self._fid(field)
        win_rows = self.topk(
            query, k=window_size, field=field, round_scores=round_scores
        ).collect()  # the window is small by definition (ES default 10/shard)
        if not win_rows:
            return local_df(self.spark, [], "doc_id long, score double")
        window = local_df(self.spark, 
            [(int(r["doc_id"]), float(r["score"])) for r in win_rows],
            "doc_id long, score double",
        )
        win_ids = np.array(sorted(int(r["doc_id"]) for r in win_rows), dtype=np.int64)
        ph_terms = self._analyze(rescore_phrase, field)
        ph = self._phrase_doc_set(ph_terms, fid, allowed=win_ids).withColumn(
            "bonus", F.lit(float(weight))
        )
        out = window.join(ph, "doc_id", "left").select(
            "doc_id",
            (F.col("score") + F.coalesce(F.col("bonus"), F.lit(0.0))).alias(
                "score"
            ),
        )
        if round_scores is not None:
            out = out.withColumn("score", F.round("score", round_scores))
        return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def msearch(
        self,
        queries: dict[str, str],
        k: int = 10,
        mode: str = "or",
        field: str | int | None = None,
        round_scores: int | None = None,
    ) -> DataFrame:
        """ES ``_msearch``: N match queries answered in ONE pass over the
        postings. The per-query loop a client would run costs N scans and
        2-3N driver round-trips; batching amortizes that to one decode of
        the UNION of query terms (each term decoded once even when shared),
        one broadcast join against the (query_id, term) table, one partial
        agg, one per-query window top-k — the scan-amortization shape that
        matters when a query log, not a single query, hits a 100-TB index.

        θ-pruning is off (a single global θ is invalid across queries; a
        per-query θ would reintroduce the per-query round-trips this
        exists to avoid). Returns (query_id, doc_id, score) with each
        query's hits ranked (score desc, doc_id asc), k per query."""
        if mode not in ("or", "and"):
            raise ValueError(f"msearch: unknown mode {mode!r}")
        fid = self._fid(field)
        per_q: dict[str, list[str]] = {}
        for qid, q in queries.items():
            per_q[qid] = sorted(set(self._analyze(q, field)))
        all_terms = sorted({t for ts in per_q.values() for t in ts})
        out_schema = "query_id string, doc_id long, score double"
        if not all_terms:
            return local_df(self.spark, [], out_schema)
        dfs = self.term_stats(all_terms, field)
        present = [t for t in all_terms if t in dfs]
        if not present:
            return local_df(self.spark, [], out_schema)
        idf = {t: _idf(self.n_docs, dfs[t]) for t in present}

        # one decode+score pass over the union of terms, term kept per row
        scored = self._score_terms(present, idf, fid=fid, keep_term=True)
        pairs = [
            (qid, t)
            for qid, ts in per_q.items()
            for t in ts
            if t in idf
        ]
        if not pairs:
            return local_df(self.spark, [], out_schema)
        qterms = local_df(self.spark, 
            pairs, "query_id string, term string"
        )
        joined = scored.join(F.broadcast(qterms), "term")
        agg = joined.groupBy("query_id", "doc_id").agg(
            F.sum("score").alias("score"),
            F.sum("matched").alias("n_matched"),
        )
        if mode == "and":
            # a query with absent terms can never match all its ANALYZED
            # terms: compare against the original term count
            orig_n = {qid: len(ts) for qid, ts in per_q.items()}
            n_orig = F.create_map(
                *[x for qid in orig_n for x in (F.lit(qid), F.lit(orig_n[qid]))]
            )
            agg = agg.filter(
                F.col("n_matched") == n_orig[F.col("query_id")]
            )
        agg = self._live(agg.select("query_id", "doc_id", "score"))
        if round_scores is not None:
            agg = agg.withColumn("score", F.round("score", round_scores))
        from pyspark.sql.window import Window

        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            agg.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= int(k))
            .select("query_id", "doc_id", "score")
            .orderBy("query_id", F.desc("score"), F.asc("doc_id"))
        )

    def more_like_this(
        self,
        like: str,
        k: int = 10,
        max_query_terms: int = 25,
        min_term_freq: int = 2,
        min_doc_freq: int = 5,
        field: str | int | None = None,
        min_should_match: int | None = None,
        round_scores: int | None = None,
    ) -> DataFrame:
        """ES ``more_like_this`` over free text (the ``like: "..."`` form;
        ES's doc-reference form is the same pipeline seeded from the
        referenced doc's text, which this index does not store — fetch it
        from the source table and pass it here).

        ES's algorithm, with the ES defaults: keep seed terms with
        tf >= min_term_freq whose corpus df >= min_doc_freq, rank by
        tf·idf (this engine uses its BM25 idf as the interestingness
        weight), keep the top ``max_query_terms`` (tie-break: term asc),
        then run a bool-should BM25 match with
        minimum_should_match = max(1, floor(0.3 · n_terms)) — ES's "30%"
        default. Term selection happens driver-side over ONE document's
        token counts (bounded by the seed's vocabulary, never the corpus);
        the match itself is the distributed topk path."""
        toks = self._analyze(like, field)
        if not toks:
            return self._empty_scored(False)
        from collections import Counter

        tf = Counter(toks)
        cand = sorted(t for t, c in tf.items() if c >= min_term_freq)
        if not cand:
            return self._empty_scored(False)
        dfs = self.term_stats(cand, field)
        cand = [t for t in cand if dfs.get(t, 0) >= min_doc_freq]
        if not cand:
            return self._empty_scored(False)
        ranked = sorted(
            cand, key=lambda t: (-tf[t] * _idf(self.n_docs, dfs[t]), t)
        )[: int(max_query_terms)]
        msm = (
            int(min_should_match)
            if min_should_match is not None
            else max(1, int(0.3 * len(ranked)))
        )
        return self.topk(
            " ".join(sorted(ranked)),
            k=k,
            field=field,
            min_should_match=msm,
            round_scores=round_scores,
        )

    @staticmethod
    def parse_query_string(query: str, default_operator: str = "or"):
        """Recursive-descent parser for the full ES ``query_string``
        boolean grammar: ``AND``/``&&``, ``OR``/``||``, ``NOT``/``!``,
        parentheses, quoted phrases, trailing-``*`` prefixes, field
        scoping — ``field:value``, ``field:"a phrase"``, ``field:(a OR b)``
        (the Kibana/Lucene syntax; the field binds to the immediately
        following term or group, like ES) — plus ``^N`` boosts on terms,
        phrases and groups, and the Lucene ``_exists_:field`` production;
        bare adjacency combines with ``default_operator`` (ES default OR).
        Returns an AST of ('or'|'and', [children]) / ('not', child) /
        ('field', name, child) / ('boost', factor, child) /
        ('exists', column) / ('term'|'phrase'|'prefix', text) tuples."""
        import re as _re

        toks = _re.findall(r'\(|\)|"[^"]*"|[^\s()"]+', query)
        pos = 0

        def peek():
            return toks[pos] if pos < len(toks) else None

        def take():
            nonlocal pos
            if pos >= len(toks):
                raise ValueError(
                    "query_string: unexpected end of query (dangling "
                    "operator or open parenthesis)"
                )
            t = toks[pos]
            pos += 1
            return t

        # bare adjacency is folded into the level default_operator selects,
        # so parenthesized groups parse identically to the top level
        def parse_or():
            parts = [parse_and()]
            while True:
                nxt = peek()
                if nxt in ("OR", "||"):
                    take()
                    parts.append(parse_and())
                elif (
                    nxt is not None
                    and nxt != ")"
                    and default_operator != "and"
                ):
                    parts.append(parse_and())  # adjacency = OR (ES default)
                else:
                    break
            return parts[0] if len(parts) == 1 else ("or", parts)

        def parse_and():
            parts = [parse_unary()]
            while True:
                nxt = peek()
                if nxt in ("AND", "&&"):
                    take()
                    parts.append(parse_unary())
                elif (
                    default_operator == "and"
                    and nxt is not None
                    and nxt not in ("OR", "||", ")")
                ):
                    parts.append(parse_unary())  # adjacency = AND
                else:
                    break
            return parts[0] if len(parts) == 1 else ("and", parts)

        def parse_unary():
            t = peek()
            if t is None:
                raise ValueError(
                    "query_string: expected a clause, found end of query"
                )
            if t in ("NOT", "!"):
                take()
                return ("not", parse_unary())
            if t == "(":
                take()
                node = parse_or()
                if peek() == ")":
                    take()
                return _boosted(node)
            if t == ")":
                raise ValueError("query_string: unexpected ')'")
            tok = take()
            if tok.startswith('"'):
                return _boosted(("phrase", tok.strip('"')))
            m = _re.match(r"^([A-Za-z_][\w.]*):(.*)$", tok)
            if m:
                fname, rest = m.group(1), m.group(2)
                if fname == "_exists_":  # Lucene _exists_:field
                    if not rest:
                        raise ValueError("query_string: _exists_: no field")
                    return ("exists", rest)
                if rest:  # field:value in one token
                    return ("field", fname, _leaf(rest))
                nxt = peek()  # the lexer split field:"..." / field:(...)
                if nxt == "(":
                    take()
                    sub = parse_or()
                    if peek() == ")":
                        take()
                    return _boosted(("field", fname, sub))
                if nxt is not None and nxt.startswith('"'):
                    return _boosted(
                        ("field", fname, ("phrase", take().strip('"')))
                    )
                raise ValueError(
                    f"query_string: field '{fname}:' with no value"
                )
            return _leaf(tok)

        def _boosted(node):
            # a lexer-separated ^N right after a phrase / group / scoped
            # value boosts that node (the lexer splits `"a b"^2` in two)
            nxt = peek()
            if nxt is not None and _re.fullmatch(r"\^\d+(\.\d+)?", nxt):
                return ("boost", float(take()[1:]), node)
            return node

        def _leaf(tok):
            m = _re.match(r"^(.*?)\^(\d+(?:\.\d+)?)$", tok)
            boost = None
            if m and m.group(1):
                tok, boost = m.group(1), float(m.group(2))
            node = (
                ("prefix", tok[:-1])
                if tok.endswith("*") and len(tok) > 1
                else ("term", tok)
            )
            return ("boost", boost, node) if boost is not None else node

        if not toks:
            return None
        node = parse_or()
        while peek() is not None:  # unbalanced ')' at top level: skip on
            if peek() == ")":
                take()
                if peek() is None:
                    break
            rest = parse_or()
            node = (
                ("and", [node, rest])
                if default_operator == "and"
                else ("or", [node, rest])
            )
        return node

    def _prefix_clause_docs(
        self, lead: list[str], pref: str, fid: int, max_expansions
    ) -> DataFrame:
        """Doc set of a (possibly multi-token) prefix clause: docs carrying
        some ``pref``-prefixed term AND every leading token — the shared
        conjunctive kernel of simple_query_string and query_string."""
        out = self._docs_for_terms_df(
            self.expand_prefix_df(pref, fid, max_expansions), fid
        ).select("doc_id")
        for t in lead:
            out = out.join(
                self._docs_for_terms([t], fid).select("doc_id"),
                "doc_id", "left_semi",
            )
        return out

    def _qs_doc_set(self, node, fid: int, max_expansions) -> DataFrame:
        """Evaluate a query_string AST node to its matching doc-id set —
        pure distributed set algebra: AND = chained left_semi joins, OR =
        union+distinct, NOT = anti-join against the live universe; a
        'field' node re-scopes its subtree to that field's postings."""
        kind = node[0]
        if kind == "field":
            return self._qs_doc_set(node[2], self._fid(node[1]), max_expansions)
        if kind == "boost":  # boosts affect scoring only, never matching
            return self._qs_doc_set(node[2], fid, max_expansions)
        if kind == "exists":  # Lucene _exists_:col over the stored columns
            ds = self.doc_stats()
            if node[1] not in ds.columns:
                raise KeyError(
                    f"_exists_: unknown stored column {node[1]!r}"
                )
            return ds.filter(F.col(node[1]).isNotNull()).select("doc_id")
        if kind == "term":
            toks = self._analyze(node[1], fid)
            if not toks:
                return local_df(self.spark, [], "doc_id long")
            if len(toks) == 1:
                return self._docs_for_terms(toks, fid).select("doc_id")
            return self._qs_doc_set(
                ("and", [("term", t) for t in toks]), fid, max_expansions
            )
        if kind == "phrase":
            return self._phrase_doc_set(self._analyze(node[1], fid), fid)
        if kind == "prefix":
            toks = self._analyze(node[1], fid)
            if not toks:
                return local_df(self.spark, [], "doc_id long")
            return self._prefix_clause_docs(
                toks[:-1], toks[-1], fid, max_expansions
            )
        if kind == "and":
            # pure term children fold into ONE matched-count decode pass
            # (the count_query 'and' shape) instead of a scan + shuffle
            # semi-join per term
            term_toks: list[str] = []
            others = []
            negs = []
            unmatchable = False
            for c in node[1]:
                if c[0] == "not":
                    negs.append(c)
                elif c[0] == "term":
                    toks = self._analyze(c[1], fid)
                    if toks:
                        term_toks.extend(toks)
                    else:
                        unmatchable = True
                else:
                    others.append(c)
            if unmatchable:
                return local_df(self.spark, [], "doc_id long")
            children = []
            if term_toks:
                uniq = sorted(set(term_toks))
                scored = self._score_terms(uniq, {t: 1.0 for t in uniq}, fid=fid)
                children.append(
                    scored.groupBy("doc_id")
                    .agg(F.sum("matched").alias("nm"))
                    .filter(F.col("nm") == len(uniq))
                    .select("doc_id")
                )
            children.extend(
                self._qs_doc_set(c, fid, max_expansions) for c in others
            )
            if not children:  # pure-negative conjunction: start from all
                children = [self.doc_stats().select("doc_id")]
            out = children[0]
            for c in children[1:]:
                out = out.join(c, "doc_id", "left_semi")
            for n in negs:  # a AND NOT b -> anti-join, no universe scan
                out = out.join(
                    self._qs_doc_set(n[1], fid, max_expansions),
                    "doc_id", "left_anti",
                )
            return out
        if kind == "or":
            parts = [
                self._qs_doc_set(c, fid, max_expansions) for c in node[1]
            ]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out.distinct()
        # kind == "not": complement against the live universe
        return self.doc_stats().select("doc_id").join(
            self._qs_doc_set(node[1], fid, max_expansions),
            "doc_id", "left_anti",
        )

    def query_string(
        self,
        query: str,
        k: int = 10,
        default_operator: str = "or",
        field: str | int | None = None,
        round_scores: int | None = None,
        max_expansions: int | None = 50,
    ) -> DataFrame:
        """ES ``query_string``: the full boolean grammar (AND/OR/NOT,
        parentheses, phrases, prefixes) — matching is the AST's distributed
        set algebra (see _qs_doc_set); scoring is sum-of-BM25 over every
        POSITIVE term/phrase leaf present in a matching doc, plus 1.0 per
        positive prefix leaf matched (the documented engine semantic, same
        family as simple_query_string; docs admitted purely by negative
        branches score 0.0). θ-pruning is off — boolean gating invalidates
        the single-term bootstrap."""
        ast = self.parse_query_string(query, default_operator.lower())
        if ast is None:  # empty query
            return self._empty_scored(False)
        fid = self._fid(field)
        gate = self._qs_doc_set(ast, fid, max_expansions)

        # positive leaves (not under an odd number of NOTs) drive scoring,
        # each in the field its enclosing 'field:' scope resolves to; a
        # ^N boost multiplies its leaves' idf (a term under several boosted
        # leaves takes the max — leaves are set-deduped per field)
        terms: dict[int, dict[str, float]] = {}
        prefixes: dict[int, dict[str, float]] = {}

        def walk(node, neg: bool, f: int, b: float):
            kind = node[0]
            if kind == "field":
                walk(node[2], neg, self._fid(node[1]), b)
            elif kind == "boost":
                walk(node[2], neg, f, b * float(node[1]))
            elif kind == "not":
                walk(node[1], not neg, f, b)
            elif kind in ("and", "or"):
                for c in node[1]:
                    walk(c, neg, f, b)
            elif neg or kind == "exists":  # exists is filter-context
                return
            elif kind in ("term", "phrase"):
                tb = terms.setdefault(f, {})
                for t in self._analyze(node[1], f):
                    tb[t] = max(tb.get(t, 0.0), b)
            else:
                toks = self._analyze(node[1], f)
                if toks:
                    tb = terms.setdefault(f, {})
                    for t in toks[:-1]:
                        tb[t] = max(tb.get(t, 0.0), b)
                    pb = prefixes.setdefault(f, {})
                    pref = toks[-1]
                    pb[pref] = max(pb.get(pref, 0.0), b)

        walk(ast, False, fid, 1.0)
        parts: list[DataFrame] = []
        for f in sorted(terms):
            sc = self._bm25_scores(
                sorted(terms[f]), f, boosts=terms[f]
            )
            if sc is not None:
                parts.append(sc)
        for f in sorted(prefixes):
            for pref in sorted(prefixes[f]):
                pdocs = self._docs_for_terms_df(
                    self.expand_prefix_df(pref, f, max_expansions), f
                ).select("doc_id")
                parts.append(
                    pdocs.withColumn("score", F.lit(float(prefixes[f][pref])))
                )
        if parts:
            allp = parts[0]
            for p in parts[1:]:
                allp = allp.unionByName(p)
            scores = allp.groupBy("doc_id").agg(F.sum("score").alias("s"))
            out = gate.join(scores, "doc_id", "left").select(
                "doc_id", F.coalesce(F.col("s"), F.lit(0.0)).alias("score")
            )
        else:  # no positive leaves (pure negation): filter-context 1.0
            out = gate.withColumn("score", F.lit(1.0))
        out = self._live(out)
        if round_scores is not None:
            out = out.withColumn("score", F.round("score", round_scores))
        return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    @staticmethod
    def parse_simple_query(query: str) -> list[tuple[str, str, bool]]:
        """Lex an ES ``simple_query_string`` query into flat clauses:
        [(kind, payload, negated)] with kind in {'term','phrase','prefix'}.

        Supported syntax (the flat subset of ES's grammar —
        Running-ELK.md:230-247 composes bool queries from exactly these
        clause kinds): whitespace-separated clauses; ``-`` prefix negates a
        clause; ``"..."`` is a phrase; a trailing ``*`` makes a prefix
        clause. The infix ``+``/``|``/``()`` precedence operators are NOT
        supported — ``default_operator`` picks the one combinator, which is
        how the reference's documented queries use ES."""
        import re as _re

        out: list[tuple[str, str, bool]] = []
        for m in _re.finditer(r'(-?)(?:"([^"]*)"|(\S+))', query):
            neg = m.group(1) == "-"
            if m.group(2) is not None:
                if m.group(2):
                    out.append(("phrase", m.group(2), neg))
                continue
            tok = m.group(3)
            if tok.endswith("*") and len(tok) > 1:
                out.append(("prefix", tok[:-1], neg))
            elif tok != "*":
                out.append(("term", tok, neg))
        return out

    def simple_query_string(
        self,
        query: str,
        k: int = 10,
        default_operator: str = "or",
        field: str | int | None = None,
        round_scores: int | None = None,
        max_expansions: int | None = 50,
    ) -> DataFrame:
        """ES ``simple_query_string``: one query string lexed into term /
        ``"phrase"`` / ``prefix*`` / ``-negated`` clauses (see
        parse_simple_query), combined under ``default_operator``.

        Scoring (documented engine semantics, oracle-checkable): a clause
        contributes only when it MATCHES — a term clause adds its BM25
        contribution, a matched phrase clause adds the sum of its terms'
        BM25 contributions (this engine's stand-in for ES's
        phrase-frequency scoring: same matching set, simpler statistic), a
        matched prefix clause adds constant 1.0 (ES's constant_score
        rewrite, capped at ``max_expansions``). ``default_operator='and'``
        keeps docs matching EVERY positive clause; ``'or'`` keeps docs
        matching any. A doc matching any negated clause is excluded.
        θ-pruning is off: clause-level gating invalidates the single-term
        bootstrap (a pruned block could hide a doc that gates back in)."""
        fid = self._fid(field)
        clauses = self.parse_simple_query(query)
        pos = [(kd, pl) for kd, pl, n in clauses if not n]
        negd = [(kd, pl) for kd, pl, n in clauses if n]
        if not pos:
            return self._empty_scored(False)
        conj = default_operator.lower() == "and"

        # analyze each clause; a term clause may analyze to several tokens
        # (each its own clause, matching ES's per-token should expansion)
        bare: list[str] = []
        phrases: list[list[str]] = []
        # a prefix clause whose payload analyzes to several tokens
        # ("foo.bar*") is a CONJUNCTIVE subclause: every leading token must
        # be present AND some term must carry the prefix — dropping the
        # leading tokens would silently widen the match set
        prefixes: list[tuple[list[str], str]] = []
        dead_clause = False  # an unmatchable positive clause under AND
        for kind, payload in pos:
            toks = self._analyze(payload, field)
            if kind == "term":
                if toks:
                    bare.extend(toks)
                else:
                    dead_clause = True
            elif kind == "phrase":
                if toks:
                    phrases.append(toks)
                else:
                    dead_clause = True
            elif toks:
                prefixes.append((toks[:-1], toks[-1]))
            else:
                dead_clause = True
        if conj and dead_clause:
            return self._empty_scored(False)

        parts: list[DataFrame] = []  # per-clause (doc_id, score) contributions
        gate_sets: list[DataFrame] = []  # AND-mode per-clause match sets
        bare_terms = sorted(set(bare))
        if bare_terms:
            dfs, idf, _ = self._leg_stats(bare_terms, fid)
            present = [t for t in bare_terms if t in dfs]
            if conj and len(present) < len(bare_terms):
                return self._empty_scored(False)
            if present:
                scored = self._score_terms(present, {t: idf[t] for t in present},
                                           fid=fid)
                per_doc = scored.groupBy("doc_id").agg(
                    F.sum("score").alias("score"),
                    F.sum("matched").alias("nb"),
                )
                parts.append(per_doc.select("doc_id", "score"))
                if conj:  # the all-bare-terms gate applies to the WHOLE doc
                    gate_sets.append(
                        per_doc.filter(F.col("nb") == len(present)).select(
                            "doc_id"
                        )
                    )
        for ph in phrases:
            pdocs = self._phrase_doc_set(ph, fid)
            sc = self._bm25_scores(sorted(set(ph)), fid)
            if sc is not None:
                parts.append(sc.join(pdocs, "doc_id", "left_semi"))
            if conj:
                gate_sets.append(pdocs)
        for lead, pref in prefixes:
            pdocs = self._prefix_clause_docs(lead, pref, fid, max_expansions)
            parts.append(pdocs.withColumn("score", F.lit(1.0)))
            if lead:  # leading tokens score BM25 on clause-matching docs
                sc = self._bm25_scores(sorted(set(lead)), fid)
                if sc is not None:
                    parts.append(sc.join(pdocs, "doc_id", "left_semi"))
            if conj:
                gate_sets.append(pdocs)
        if not parts:
            return self._empty_scored(False)
        allp = parts[0]
        for p in parts[1:]:
            allp = allp.unionByName(p)
        agg = allp.groupBy("doc_id").agg(F.sum("score").alias("score"))
        for g in gate_sets:
            agg = agg.join(g, "doc_id", "left_semi")

        # negated clauses: union of their match sets, excluded wholesale
        excl: DataFrame | None = None
        for kind, payload in negd:
            toks = self._analyze(payload, field)
            if not toks:
                continue
            if kind == "phrase":
                e = self._phrase_doc_set(toks, fid)
            elif kind == "prefix":
                e = self._prefix_clause_docs(
                    toks[:-1], toks[-1], fid, max_expansions
                )
            else:
                e = self._docs_for_terms(toks, fid).select("doc_id")
            excl = e if excl is None else excl.unionByName(e)
        if excl is not None:
            agg = agg.join(excl.distinct(), "doc_id", "left_anti")

        agg = self._live(agg)
        if round_scores is not None:
            agg = agg.withColumn("score", F.round("score", round_scores))
        return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    # ------------------------------------------------------ ES body dispatch
    def search(
        self, body: dict, round_scores: int | None = None,
        emb: DataFrame | None = None, emb_id_col: str = "vec_id",
        emb_vec_col: str = "embedding", ann=None,
    ) -> DataFrame:
        """Run an ES ``_search`` request body verbatim (the reference's
        documented query surface, Running-ELK.md:110-293) — hits
        DataFrame. Vector forms (top-level ``knn``, ``retriever: rrf``)
        take the aligned embedding table via ``emb``; pass ``ann`` (an
        IvfAnnIndex / LshAnnIndex over the same table) to serve the
        ``knn`` section from a true ANN probe. See
        :mod:`dart_importer_spark.query.dsl`."""
        from .dsl import search as _dsl_search

        return _dsl_search(
            self, body, round_scores=round_scores, emb=emb,
            emb_id_col=emb_id_col, emb_vec_col=emb_vec_col, ann=ann,
        )

    def search_aggs(self, body: dict) -> dict[str, DataFrame]:
        """Run the ``aggs`` section of an ES ``_search`` body: one
        DataFrame per named aggregation, over the body's query context."""
        from .dsl import aggs as _dsl_aggs

        return _dsl_aggs(self, body)

    def search_suggest(self, body: dict) -> dict[str, DataFrame]:
        """Run the top-level ``suggest`` section of an ES ``_search``
        body: one DataFrame per named suggester (term / phrase /
        completion)."""
        from .dsl import suggest as _dsl_suggest

        return _dsl_suggest(self, body)

    def count_body(self, body: dict) -> int:
        """ES ``_count`` with a request body (Running-ELK.md:214-218)."""
        from .dsl import count as _dsl_count

        return _dsl_count(self, body)

    def search_template(
        self, body: dict, round_scores: int | None = None,
        emb: DataFrame | None = None, emb_id_col: str = "vec_id",
        emb_vec_col: str = "embedding",
    ) -> DataFrame:
        """ES ``_search/template``: ``{"source": <mustache template>,
        "params": {...}}`` rendered then dispatched through
        :meth:`search`. See :func:`dart_importer_spark.query.dsl.render_template`
        for the supported mustache subset."""
        from .dsl import search_template as _dsl_st

        return _dsl_st(
            self, body, round_scores=round_scores, emb=emb,
            emb_id_col=emb_id_col, emb_vec_col=emb_vec_col,
        )

    def sql(
        self,
        statement: str,
        table: str = "idx",
        round_scores: int | None = None,
    ) -> DataFrame:
        """ES SQL (``POST _sql``): Spark SQL over the index with the ES
        full-text extensions ``MATCH(field, 'q'[, 'operator=and'])``,
        ``QUERY('query string')`` and ``SCORE()``. The index is
        ``FROM idx`` (rename via ``table``). See
        :func:`dart_importer_spark.query.sql.es_sql`."""
        from .sql import es_sql as _es_sql

        return _es_sql(self, statement, table=table,
                       round_scores=round_scores)

    def scan(self, body: dict | None = None):
        """ES ``helpers.scan`` — the scroll iterator the reference drains
        whole indexes with (import_dart_data.py:562, test.py:72-80):
        yields ``{"_id", "_source"}`` dicts, snapshot-pinned at call
        time. See :func:`dart_importer_spark.query.dsl.scan`."""
        from .dsl import scan as _dsl_scan

        return _dsl_scan(self, body)

    def scan_df(self, body: dict | None = None) -> DataFrame:
        """The scroll/scan result set as one snapshot-pinned DataFrame
        (the distributed form of :meth:`scan` — hand THIS to downstream
        Spark stages instead of round-tripping rows through the
        driver)."""
        from .dsl import scan_df as _dsl_scan_df

        return _dsl_scan_df(self, body)

    def mapping(self) -> dict:
        """ES ``GET _mapping`` (+ settings): the creation body stored by
        :func:`dart_importer_spark.index.ddl.create_index`, or a mapping
        synthesized from the index layout for indexes built directly
        with build_index (subfields reported as the multi-field entries
        ES shows for search_as_you_type)."""
        import json as _json
        import os as _os

        p = _os.path.join(self.dir, "mapping.json")
        if _os.path.exists(p):
            with open(p) as fh:
                return _json.load(fh)
        props: dict = {}
        for f in self.meta.get("fields", []):
            if "._" in f:  # shingle subfield rides its source field
                continue
            props[f] = {"type": "text"}
        for f in self.meta.get("fields", []):
            if "._" in f:
                src = f.split("._", 1)[0]
                if src in props:
                    props[src] = {"type": "search_as_you_type"}
        for c in self.meta.get("meta_cols", []):
            props[c] = {"type": "keyword"}
        return {
            "mappings": {"properties": props},
            "settings": {"number_of_shards": self.meta.get("n_segments")},
        }

    # ES field-type names for Spark dataType.simpleString() values
    # (field_caps): bigint/smallint/tinyint are what Spark's Long/Short/
    # ByteType actually render as
    _ES_TYPES = {
        "string": "keyword", "bigint": "long", "int": "integer",
        "smallint": "short", "tinyint": "byte",
        "double": "double", "float": "float", "boolean": "boolean",
        "timestamp": "date", "date": "date", "binary": "binary",
    }

    def field_caps(self) -> dict:
        """ES ``_field_caps``: per-field capabilities — type, searchable,
        aggregatable. Indexed fields are ES ``text`` (searchable, not
        aggregatable — no doc_values on analyzed text); shingle subfields
        report their search_as_you_type roles; doc_stats meta columns map
        Spark dtypes onto ES field types (searchable AND aggregatable —
        they serve filter context and the aggregation family). Runtime
        fields (``with_runtime_fields``) appear like stored columns, as in
        ES. Pure metadata — answered from the schema, no job runs."""
        caps: dict[str, dict] = {}
        for f in self.fields:
            typ = "search_as_you_type" if "._" in f else "text"
            caps[f] = {
                "type": typ, "searchable": True, "aggregatable": False,
            }
        for fld in self.doc_stats().schema.fields:
            if fld.name in self._PROTECTED_COLS or fld.name in caps:
                continue
            caps[fld.name] = {
                "type": self._ES_TYPES.get(
                    fld.dataType.simpleString(), fld.dataType.simpleString()
                ),
                "searchable": True,
                "aggregatable": True,
            }
        return {"fields": dict(sorted(caps.items()))}

    def index_stats(self) -> dict:
        """ES ``GET /index/_stats`` (primaries): docs.count (live),
        docs.deleted (tombstoned, pending compaction), store size, and
        segment/field/bucket layout counts. Sizes come from filesystem
        metadata of the index directory (what ES reads from its shard
        stores) — a driver-side walk of O(#files), never a data scan; the
        one job is the tombstone count."""
        tomb = self._tombstones()
        deleted = int(tomb.count()) if tomb is not None else 0
        sizes: dict[str, int] = {}
        total = 0
        for sub in sorted(os.listdir(self.dir)):
            p = os.path.join(self.dir, sub)
            if not os.path.isdir(p):
                continue
            n = 0
            for root, _dirs, files in os.walk(p):
                n += sum(
                    os.path.getsize(os.path.join(root, f)) for f in files
                )
            sizes[sub] = n
            total += n
        return {
            "docs": {"count": self.n_docs - deleted, "deleted": deleted},
            "store": {"size_in_bytes": total, "by_table": sizes},
            "segments": {"count": int(self.meta.get("n_segments", 0))},
            "fields": list(self.fields),
            "n_buckets": self.n_buckets,
        }

    # ----------------------------------------------------------- mutation ops
    def delete_by_query(self, filters: Column) -> int:
        """ES delete_by_query (import_dart_data.py:473-475,
        Running-ELK.md:203-211): append matching doc_ids to the tombstone
        table. Deleted docs disappear from every query immediately; the
        postings bytes are dropped at the next ``merge.compact_index`` (the
        Lucene merge-applies-deletes model)."""
        victims = self.doc_stats().filter(filters).select("doc_id")
        n = victims.count()
        if n:
            victims.write.mode("append").parquet(
                os.path.join(self.dir, "tombstones")
            )
        return n


def multi_index_topk(
    indexes: dict[str, InvertedIndex],
    query: str,
    k: int = 10,
    round_scores: int | None = None,
    search_type: str = "query_then_fetch",
    indices_boost: dict[str, float] | None = None,
    **topk_kwargs,
) -> DataFrame:
    """ES index-pattern search (``GET dart-*/_search``): one query over
    several physical indexes, hits merged by score with an ``index``
    column, exactly the reference's multi-index layout (one index per
    corp/data type, import_dart_data.py index naming + Running-ELK.md's
    dart-* patterns). ES's DEFAULT query_then_fetch scores each shard
    with ITS OWN statistics, so the honest equivalent is per-index BM25
    top-k unioned and re-ranked, which is what this does.

    ``search_type="dfs_query_then_fetch"`` runs ES's opt-in DFS phase
    first: one :meth:`InvertedIndex.dfs_term_stats` pass per index
    (O(#query terms) rows each, the DFS round-trip payload), merged
    driver-side into global df / doc count / length-weighted avgdl, and
    every index scores with the GLOBAL statistics via ``topk``'s
    ``dfs_stats`` override. Because global scores are comparable across
    indexes and each index contributes its k best, the merged top-k is
    EXACTLY the top-k a single index over the union corpus would return
    (rank and score identity — the property dfs exists for; pytest
    asserts it against a physically-merged index).

    ``indices_boost`` (ES request-body ``indices_boost``): a per-index
    positive multiplier applied to that index's scores before the merge.
    A constant factor per index preserves its internal ranking, so each
    index's boosted top-k IS its true boosted top-k and the merged
    result stays exact. With ``round_scores`` the rounding happens AFTER
    the boost (round(s·b), not round(s)·b), so boosted scores stay
    oracle-checkable.

    Scale shape: each index's top-k is already distributed and
    block-max-pruned; the merge unions n·k rows (tiny) and re-sorts —
    the coordinating-node step of a cross-index ES search, never a
    cross-index shuffle. Ties: (score desc, index asc, doc_id asc)."""
    if not indexes:
        raise ValueError("multi_index_topk: need at least one index")
    if search_type not in ("query_then_fetch", "dfs_query_then_fetch"):
        raise ValueError(
            f"multi_index_topk: unknown search_type {search_type!r}"
        )
    boosts = {str(n): float(b) for n, b in (indices_boost or {}).items()}
    for n, b in boosts.items():
        if n not in indexes:
            raise ValueError(f"indices_boost: unknown index {n!r}")
        if b <= 0:
            raise ValueError(f"indices_boost: boost must be > 0, got {b}")
    dfs_stats = None
    if search_type == "dfs_query_then_fetch":
        g_df: dict[str, int] = {}
        g_n, dl_sum = 0, 0.0
        for _name, ix in sorted(indexes.items()):
            d, n, a = ix.dfs_term_stats(query, field=topk_kwargs.get("field"))
            for t, c in d.items():
                g_df[t] = g_df.get(t, 0) + c
            g_n += n
            dl_sum += a * n
        dfs_stats = {
            "df": g_df,
            "n_docs": g_n,
            "avgdl": (dl_sum / g_n) if g_n else 1.0,
        }
    parts = []
    for name, ix in sorted(indexes.items()):
        b = boosts.get(name, 1.0)
        # boosted legs score unrounded and round AFTER the multiplier;
        # the per-index top-k cut is unaffected (constant positive factor)
        df = ix.topk(query, k=k,
                     round_scores=None if b != 1.0 else round_scores,
                     dfs_stats=dfs_stats, **topk_kwargs)
        if b != 1.0:
            df = df.withColumn("score", F.col("score") * F.lit(b))
            if round_scores is not None:
                df = df.withColumn("score", F.round("score", round_scores))
        # with_meta keeps the per-index hit columns (ES returns _source
        # across indexes); identical layouts union cleanly
        cols = df.columns if topk_kwargs.get("with_meta") \
            else ["doc_id", "score"]
        parts.append(df.select(F.lit(name).alias("index"), *cols))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy(
        F.desc("score"), F.asc("index"), F.asc("doc_id")
    ).limit(k)

"""Similarity search over an embedding column (array<float>).

- brute-force cosine top-k: the exact baseline — JVM zip_with/aggregate dot
  product, TakeOrderedAndProject top-k. One full scan, no shuffle beyond
  the final top-k. Catalyst prunes to (id, vec) columns.
- LSH-bucketed ANN: random-hyperplane signatures; query probes its own
  bucket plus Hamming-1 neighbors (multiprobe), exact rerank inside probed
  buckets. At 100 TB the signature table is written bucketed-by-signature so
  a query touches only matching partitions.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.localrel import lit_double_array
from ..functions.partitioning import widen_for_python


def _cosine(a: Column, b: Column) -> Column:
    """Exact cosine similarity between two array<float/double> columns —
    pure higher-order JVM expressions (zip_with + aggregate), no UDF."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    nb = F.sqrt(
        F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    return dot / F.greatest(na * nb, F.lit(1e-12))


def _planes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def _hyperplane_sig(vec_col: str | Column, dim: int, n_planes: int, seed: int) -> Column:
    """Signature = bits of sign(plane . vec), packed into a long. The planes
    are deterministic literals (seeded), so signatures are reproducible."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    planes = _planes(dim, n_planes, seed)
    sig = F.lit(0).cast("long")
    for p_idx in range(n_planes):
        row = planes[p_idx]
        dot = F.aggregate(
            F.zip_with(
                v,
                lit_double_array(row),
                lambda x, y: (x * y).cast("double"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig.bitwiseOR(F.shiftleft((dot > 0).cast("long"), p_idx))
    return sig


def brute_force_cosine_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: (id, cosine) ordered desc, id-asc tie-break."""
    q = lit_double_array(query_vec)
    return (
        emb.select(id_col, _cosine(F.col(vec_col), q).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def fold_vectors(
    df: DataFrame,
    key_col: str,
    vec_col: str,
    order_col: str,
    out_col: str = "vecs",
) -> DataFrame:
    """Fold per-chunk embedding rows into ONE row per ``key_col`` carrying
    an array-of-vectors column ordered by ``order_col`` — the ES 8.18
    ``rank_vectors`` (multi-vector / late-interaction) document shape.
    ``sort_array`` over an order-leading struct makes the fold
    deterministic under any shuffle layout (``collect_list`` alone is
    order-nondeterministic). One shuffle on the doc key; agg state is
    bounded by the largest doc's chunk count."""
    folded = df.groupBy(key_col).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(order_col).alias("_o"), F.col(vec_col).alias("_v")
                )
            )
        ).alias("_s")
    )
    return folded.withColumn(
        out_col, F.transform(F.col("_s"), lambda x: x["_v"])
    ).drop("_s")


def max_sim_dot(vecs_col: str | Column, query_vecs) -> Column:
    """ES ``maxSimDotProduct`` over a rank_vectors-shaped column (ColBERT
    late interaction): sum over QUERY vectors of the max dot product
    against any of the doc's vectors. Pure higher-order JVM expressions —
    each query vector is unrolled as a literal array, so the expression
    tree grows with n_query_vecs x dim; fine for interactive Q (<= ~32
    vectors): the scan stays whole-stage-codegen'd and shuffle-free. For
    bulk scoring of a large query SET, batch through
    :func:`brute_force_cosine_topk_batch`-style grouped kernels instead.
    Element math is float32 -> double cast BEFORE multiply, matching
    DuckDB ``list_inner_product(a::DOUBLE[], b::DOUBLE[])`` exactly."""
    col = F.col(vecs_col) if isinstance(vecs_col, str) else vecs_col
    if not query_vecs:
        raise ValueError("max_sim_dot: need at least one query vector")
    dims = {len(q) for q in query_vecs}
    if len(dims) != 1:
        raise ValueError(
            f"max_sim_dot: query vectors have mixed dims {sorted(dims)}"
        )
    (dim_q,) = dims
    # closure factory: F.transform passes (element, index) to TWO-argument
    # callables, so the query literal must be captured, not defaulted
    def _dot_fn(qlit: Column):
        def dot(v: Column) -> Column:
            return F.aggregate(
                F.zip_with(v, qlit, lambda a, b: a.cast("double") * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )

        return dot

    score = None
    for q in query_vecs:
        qlit = lit_double_array(q)
        m = F.array_max(F.transform(col, _dot_fn(qlit)))
        score = m if score is None else score + m
    # dim guard: zip_with null-pads a length mismatch, which would turn
    # every score into silent NULL — raise the way ES rejects a dim
    # mismatch instead. assert_true is NULL on success, so folding it
    # through a when() keeps the score expression intact.
    guard = F.assert_true(
        F.forall(col, lambda v: F.size(v) == F.lit(dim_q)),
        F.lit(
            f"max_sim_dot: document vector dim != query dim {dim_q}"
        ),
    )
    return F.when(guard.isNull(), score).otherwise(
        F.lit(None).cast("double")
    )


def max_sim_topk(
    doc_vecs: DataFrame,
    query_vecs,
    k: int = 10,
    id_col: str = "doc_id",
    vecs_col: str = "vecs",
) -> DataFrame:
    """Late-interaction top-k: (id, score) by :func:`max_sim_dot`, score
    desc / id asc. Docs with NO vectors are excluded (ES rank_vectors
    rejects empty docs at index time). Plan: narrow projection over the
    doc table -> TakeOrderedAndProject; no join, no shuffle."""
    scored = doc_vecs.filter(F.size(F.col(vecs_col)) > 0).select(
        id_col, max_sim_dot(vecs_col, query_vecs).alias("score")
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(int(k))


def max_sim_ann(
    ivf: "IvfAnnIndex",
    chunk_doc: DataFrame,
    doc_vecs: DataFrame,
    query_vecs,
    k: int = 10,
    nprobe: int = 4,
    num_candidates: int = 100,
    id_col: str = "doc_id",
    vecs_col: str = "vecs",
) -> DataFrame:
    """Late-interaction retrieval at scale — the ColBERTv2/PLAID two-stage
    shape: an IVF index over the CHUNK vectors generates doc candidates,
    then :func:`max_sim_dot` exact-reranks only those docs.

    - ``ivf``: an :class:`IvfAnnIndex` built over the flat chunk-vector
      table (one row per chunk; its id_col identifies a chunk).
    - ``chunk_doc``: (chunk_id, doc_id) mapping — columns named
      ``ivf.id_col`` and ``id_col``.
    - ``doc_vecs``: the rank_vectors-shaped (doc_id, vecs) table for the
      exact rerank (:func:`fold_vectors` output).

    Stage 1 probes ALL query vectors in ONE job (``topk_batch``), each
    touching ~nprobe/n_lists of the chunk table via partition-pruned list
    directories; candidate generation ranks by cosine (the standard PLAID
    surrogate for the dot-product rerank — documented approximation, like
    ColBERT's). Stage 2 is a left_semi join (candidates are
    <= n_query_vecs x num_candidates rows — broadcast-sized) plus the
    exact maxSim projection. With ``nprobe = n_lists`` and
    ``num_candidates >= n_chunks`` the result is EXACTLY
    :func:`max_sim_topk` (property-tested)."""
    spark = doc_vecs.sparkSession
    if not query_vecs:
        raise ValueError("max_sim_ann: need at least one query vector")
    from ..functions.localrel import local_df

    qdf = local_df(
        spark,
        [(i, [float(x) for x in v]) for i, v in enumerate(query_vecs)],
        "q_id long, q_vec array<double>",
    )
    probed = ivf.topk_batch(
        qdf, k=int(num_candidates), nprobe=int(nprobe)
    )
    cands = (
        # topk_batch's output schema is fixed (q_id, vec_id, cosine, rank)
        # regardless of the index's id_col name — realias to ivf.id_col so
        # the chunk_doc join honors the documented column contract
        probed.select(F.col("vec_id").alias(ivf.id_col))
        .join(chunk_doc, ivf.id_col)
        .select(id_col)
        .distinct()
    )
    return max_sim_topk(
        doc_vecs.join(F.broadcast(cands), id_col, "left_semi"),
        query_vecs,
        k=k,
        id_col=id_col,
        vecs_col=vecs_col,
    )


def _grouped_topk_kernel(kk: int):
    """mapInPandas kernel shared by the batch-kNN paths: each input row
    carries one corpus block (``cxs``: structs of i, v) and one query
    block (``qxs``: structs of qi, qv); one normalized numpy matmul per
    row emits each query's LOCAL top-k against that block (cosine desc,
    corpus-id-asc tie-break) — never the full score matrix."""

    def _block_topk(batches):
        import pandas as pd

        for pdf in batches:
            outs = []
            for cxs, qxs in zip(pdf["cxs"], pdf["qxs"]):
                ci = np.asarray([r["i"] for r in cxs], dtype=np.int64)
                cm = np.asarray([r["v"] for r in cxs], dtype=np.float64)
                qi = np.asarray([r["qi"] for r in qxs], dtype=np.int64)
                qm = np.asarray([r["qv"] for r in qxs], dtype=np.float64)
                cm = cm / np.maximum(
                    np.linalg.norm(cm, axis=1), 1e-12
                )[:, None]
                qm = qm / np.maximum(
                    np.linalg.norm(qm, axis=1), 1e-12
                )[:, None]
                cos = qm @ cm.T  # (q, n_block)
                take = min(kk, cos.shape[1])
                part = np.argpartition(-cos, take - 1, axis=1)[:, :take]
                for row in range(cos.shape[0]):
                    idx = part[row]
                    sc = cos[row, idx]
                    order = np.lexsort((ci[idx], -sc))
                    outs.append(
                        pd.DataFrame(
                            {
                                "q_id": qi[row],
                                "vec_id": ci[idx][order],
                                "cosine": sc[order],
                            }
                        )
                    )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return _block_topk


def brute_force_cosine_topk_batch(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    n_blocks: int = 16,
) -> DataFrame:
    """Exact top-k neighbors for a WHOLE TABLE of query vectors in one job
    — the batch shape an embedding-dedup / retrieval-eval pipeline needs
    (a per-query topk loop pays one full corpus scan per query; msearch
    logic, applied to vectors). Returns (q_id, vec_id, cosine, rank) with
    rank 1..k per query, cosine desc, id-asc tie-break.

    Plan: corpus grouped into B blocks; queries grouped into Q blocks; the
    B x Q block-pair join carries whole blocks, one numpy matmul per pair
    emits each query's LOCAL top-k against that corpus block (k rows per
    query per block, never the full n x m score matrix), and a window
    keeps the global top-k. Communication O(n*Q + m*B) vector copies +
    O(q * k * B) candidate rows."""
    from pyspark.sql.window import Window

    c = emb.select(
        F.col(id_col).alias("i"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("cb"),
    ).groupBy("cb").agg(F.collect_list(F.struct("i", "v")).alias("cxs"))
    qb = max(1, n_blocks // 4)
    q = queries.select(
        F.col(q_id_col).alias("qi"),
        F.col(q_vec_col).cast("array<double>").alias("qv"),
        F.pmod(F.xxhash64(F.col(q_id_col)), F.lit(qb)).alias("qb"),
    ).groupBy("qb").agg(F.collect_list(F.struct("qi", "qv")).alias("qxs"))
    joined = c.crossJoin(q).select("cxs", "qxs")
    local = joined.mapInPandas(
        _grouped_topk_kernel(int(k)), "q_id long, vec_id long, cosine double"
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("q_id", "vec_id", "cosine", "rank")
    )


def hyperplane_sigs_pandas(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    seed: int,
    n_tables: int = 1,
) -> DataFrame:
    """(id, vec, t, sig) signature rows for ``n_tables`` independent plane
    sets — one Arrow-batched numpy matmul per batch per table instead of
    n_tables * n_planes nested higher-order expressions (the Catalyst form
    is O(tables * planes * dim) literal NODES per row; at 4x8x64 the plan
    alone dwarfs the data — measured 75 s vs ~2 s on 2k vectors). Bit p of
    sig is sign(plane_p . vec), identical packing to _hyperplane_sig; the
    only divergence is BLAS vs sequential summation on dots within ~1e-15
    of zero, which moves a vector between buckets and never changes any
    exact-verify result downstream."""
    plane_sets = [
        _planes(dim, n_planes, seed + 7919 * t) for t in range(n_tables)
    ]
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    def comp(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            vecs = pdf[vec_col]
            for t, planes in enumerate(plane_sets):
                bits = (mat @ planes.T) > 0
                sig = (bits * weights).sum(axis=1)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].to_numpy(),
                        vec_col: vecs,
                        "t": t,
                        "sig": sig,
                    }
                )

    return widen_for_python(emb.select(id_col, vec_col), id_col).mapInPandas(
        comp,
        schema=f"{id_col} long, {vec_col} array<double>, t int, sig long",
    )


def brute_force_cosine_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 16,
) -> DataFrame:
    """EXACT all-pairs cosine >= threshold by block matrix product — the
    brute-force baseline behind the LSH near-dup path
    (dedup.embedding_near_dups is the 100 TB path; this is its semantics
    oracle and the right tool when n is small enough that n^2/B flops is
    acceptable).

    Plan shape: vectors are grouped into B deterministic blocks
    (pmod(xxhash64(id), B)); the B*(B+1)/2 unordered block pairs are formed
    by a self-join on blk_left <= blk_right; each joined row carries two
    whole blocks and one Arrow-batched pandas pass runs a normalized numpy
    matmul per block pair (float64), emitting only pairs above threshold.
    Communication is O(n * B) vector copies (each block meets B others) —
    never the O(n^2) row blowup of a naive pair join — and the n^2 * d
    flops run vectorized in BLAS, not per-row expressions. Within a block
    pair only i<j / cross combinations are emitted, so each unordered pair
    appears exactly once."""
    b = emb.select(
        F.col(id_col).alias("i"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("blk"),
    )
    blocks = b.groupBy("blk").agg(
        F.collect_list(F.struct("i", "v")).alias("xs")
    )
    joined = (
        blocks.alias("L")
        .join(blocks.alias("R"), F.col("L.blk") <= F.col("R.blk"))
        .select(
            F.col("L.blk").alias("bl"),
            F.col("R.blk").alias("br"),
            F.col("L.xs").alias("xl"),
            F.col("R.xs").alias("xr"),
        )
    )

    thr = float(threshold)
    if thr <= 0.0:
        # the triu() dedup below marks excluded cells with 0.0
        raise ValueError("brute_force_cosine_pairs requires threshold > 0")

    def _block_pairs(batches):
        import pandas as pd

        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for bl, br, xl, xr in zip(pdf["bl"], pdf["br"], pdf["xl"], pdf["xr"]):
                ia = np.asarray([r["i"] for r in xl], dtype=np.int64)
                ib = np.asarray([r["i"] for r in xr], dtype=np.int64)
                ma = np.asarray([r["v"] for r in xl], dtype=np.float64)
                mb = np.asarray([r["v"] for r in xr], dtype=np.float64)
                na = np.linalg.norm(ma, axis=1)
                nb = np.linalg.norm(mb, axis=1)
                ma = ma / np.maximum(na, 1e-12)[:, None]
                mb = mb / np.maximum(nb, 1e-12)[:, None]
                cos = ma @ mb.T
                if bl == br:
                    cos = np.triu(cos, k=1)  # i<j within a block, by position
                r_idx, c_idx = np.nonzero(cos >= thr)
                if r_idx.size == 0:
                    continue
                aa, bb = ia[r_idx], ib[c_idx]
                lo = np.minimum(aa, bb)
                hi = np.maximum(aa, bb)
                out_a.append(lo)
                out_b.append(hi)
                out_c.append(cos[r_idx, c_idx])
            if out_a:
                yield pd.DataFrame(
                    {
                        "a": np.concatenate(out_a),
                        "b": np.concatenate(out_b),
                        "cosine": np.concatenate(out_c),
                    }
                )

    return joined.mapInPandas(_block_pairs, "a long, b long, cosine double")


class LshAnnIndex:
    """Multi-table random-hyperplane ANN: L independent signature tables of
    b bits each; a vector is a candidate if it collides with the query in ANY
    table (optionally within Hamming-1 per table, ``multiprobe``). Candidates
    are exact-reranked by cosine. L and b are the recall/latency dial:
    P(candidate) = 1 - (1 - p^b)^L for per-bit agreement p.

    Scale path: persist the signature table partitioned by (table 0's
    signature) so a probe touches a bounded partition set; signatures cost
    8L bytes/vector.
    """

    def __init__(
        self,
        emb: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_tables: int = 8,
        n_planes: int = 10,
        seed: int = 42,
        persist: bool = True,
    ):
        self.id_col, self.vec_col = id_col, vec_col
        self.n_tables, self.n_planes, self.seed = n_tables, n_planes, seed
        self.dim = int(emb.select(F.size(vec_col).alias("d")).first()["d"])
        # all L*b signature bits in ONE Arrow-batched numpy matmul pass —
        # the Catalyst per-bit aggregate form costs O(L*b*dim) literal plan
        # nodes per row (see hyperplane_sigs_pandas); probe-side sigs use
        # the same planes @ vec > 0 rule (_query_sigs), so build and probe
        # agree bit-for-bit up to BLAS-vs-sequential rounding at dots
        # within ~1e-15 of zero
        from pyspark.sql.types import LongType, StructField, StructType

        plane_sets = [
            _planes(self.dim, n_planes, seed + 7919 * t)
            for t in range(n_tables)
        ]
        weights = 1 << np.arange(n_planes, dtype=np.int64)
        vc = vec_col

        def _sig_batches(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                mat = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vc]]
                )
                out = pdf.copy()
                for t, planes in enumerate(plane_sets):
                    out[f"sig{t}"] = (((mat @ planes.T) > 0) * weights).sum(
                        axis=1
                    )
                yield out

        schema = StructType(
            list(emb.schema.fields)
            + [StructField(f"sig{t}", LongType()) for t in range(n_tables)]
        )
        # a single-file corpus scans as ONE partition — widen so the
        # signature pass (and every action over the persisted table)
        # uses the session's cores; no-op at scale
        self.table = widen_for_python(emb, id_col).mapInPandas(
            _sig_batches, schema=schema
        )
        if persist:
            self.table = self.table.persist()

    def unpersist(self) -> None:
        self.table.unpersist()

    def save(self, path: str) -> None:
        """Materialize the signature table on disk, range-sorted by sig0 so
        table-0 probes prune parquet row groups (min/max stats). An index
        that is recomputed per query is a full scan with extra steps — this
        is the build-once/query-many path. At 100 TB, store per-table
        (sig -> id) projections partitioned by sig and join candidates back
        to the vectors; here vectors ride along (one table, simpler I/O)."""
        import json
        import os

        (
            self.table.repartitionByRange(F.col("sig0"))
            .sortWithinPartitions("sig0")
            .write.mode("overwrite")
            .parquet(f"{path}/sigs")
        )
        with open(os.path.join(path, "meta.json"), "w") as f:
            json.dump(
                {
                    "id_col": self.id_col,
                    "vec_col": self.vec_col,
                    "n_tables": self.n_tables,
                    "n_planes": self.n_planes,
                    "seed": self.seed,
                    "dim": self.dim,
                },
                f,
            )

    @classmethod
    def load(cls, spark, path: str) -> "LshAnnIndex":
        """Open a saved index: no signature recompute, no dim probe."""
        import json
        import os

        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        obj = cls.__new__(cls)
        obj.id_col, obj.vec_col = meta["id_col"], meta["vec_col"]
        obj.n_tables, obj.n_planes = int(meta["n_tables"]), int(meta["n_planes"])
        obj.seed, obj.dim = int(meta["seed"]), int(meta["dim"])
        obj.table = spark.read.parquet(f"{path}/sigs")
        return obj

    def _query_sigs(self, query_vec: list[float]) -> list[int]:
        v = np.asarray(query_vec, dtype=np.float64)
        out = []
        for t in range(self.n_tables):
            planes = _planes(self.dim, self.n_planes, self.seed + 7919 * t)
            dots = planes @ v
            out.append(int(sum(1 << i for i, d in enumerate(dots) if d > 0)))
        return out

    def topk(
        self,
        query_vec: list[float],
        k: int = 10,
        multiprobe: int = 1,
        allowed: DataFrame | None = None,
    ) -> DataFrame:
        """``allowed`` (a DataFrame with the id column) pre-filters the
        candidates BEFORE the exact rerank — ES 8 filtered-kNN semantics:
        the filter composes with bucket probing, so k survivors are k
        survivors of the filter, not post-filtered ANN results that can
        come up short."""
        qsigs = self._query_sigs(query_vec)
        cond = None
        for t, sig in enumerate(qsigs):
            probes = {sig}
            if multiprobe >= 1:
                probes |= {sig ^ (1 << i) for i in range(self.n_planes)}
            c = F.col(f"sig{t}").isin(list(probes))
            cond = c if cond is None else (cond | c)
        q = lit_double_array(query_vec)
        cand = self.table.filter(cond)
        if allowed is not None:
            cand = cand.join(
                allowed.select(self.id_col), self.id_col, "left_semi"
            )
        return (
            cand.select(self.id_col, _cosine(F.col(self.vec_col), q).alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc(self.id_col))
            .limit(k)
        )


def _lloyd_kmeans(
    X: np.ndarray,
    k: int,
    seed: int,
    max_iter: int = 25,
    tol: float = 1e-4,
    n_init: int = 4,
) -> np.ndarray:
    """Deterministic in-process Lloyd k-means for the bounded IVF training
    sample — the FAISS model: quantizer training is small enough to run
    where the coordinator is. ``n_init`` seeded k-means++ restarts, keep
    the lowest-inertia run (the scikit-learn discipline — a single init is
    noticeably luck-sensitive on tiny corpora). ``X`` must be row-sorted by
    a stable key so the result is independent of partition order. Empty
    clusters are re-seeded from the point farthest from its centroid
    (deterministic)."""
    n = len(X)
    if n == 0:
        raise ValueError("_lloyd_kmeans: empty training set")
    k = min(int(k), n)
    x2 = (X**2).sum(axis=1)
    best, best_inertia = None, np.inf
    for trial in range(max(1, int(n_init))):
        rng = np.random.default_rng(seed + 104729 * trial)
        # k-means++ seeding
        centers = np.empty((k, X.shape[1]), dtype=np.float64)
        centers[0] = X[rng.integers(n)]
        d2 = ((X - centers[0]) ** 2).sum(axis=1)
        for i in range(1, k):
            tot = d2.sum()
            if tot <= 0:
                centers[i:] = X[rng.integers(n, size=k - i)]
                break
            centers[i] = X[rng.choice(n, p=d2 / tot)]
            d2 = np.minimum(d2, ((X - centers[i]) ** 2).sum(axis=1))
        for _ in range(max_iter):
            # argmin over |x−c|² = x² − 2x·c + c²; x² is rank-constant
            d = (centers**2).sum(axis=1)[None, :] - 2.0 * (X @ centers.T)
            assign = d.argmin(axis=1)
            new_centers = centers.copy()
            for j in range(k):
                members = assign == j
                if members.any():
                    new_centers[j] = X[members].mean(axis=0)
                else:  # deterministic empty-cluster repair: farthest point
                    far = (x2 + d[np.arange(n), assign]).argmax()
                    new_centers[j] = X[far]
            shift = float(((new_centers - centers) ** 2).sum())
            centers = new_centers
            if shift < tol * tol:
                break
        d = (centers**2).sum(axis=1)[None, :] - 2.0 * (X @ centers.T)
        inertia = float((x2 + d.min(axis=1)).sum())
        if inertia < best_inertia:
            best, best_inertia = centers, inertia
    return best


class IvfAnnIndex:
    """IVF-Flat ANN: a k-means coarse quantizer (pyspark.ml KMeans over
    L2-NORMALIZED vectors — on the unit sphere euclidean order ≡ cosine
    order, so euclidean k-means clusters by cosine) assigns every vector to
    its nearest of ``n_lists`` centroids; a query ranks the centroids
    driver-side (n_lists floats, tiny), probes the ``nprobe`` nearest
    inverted lists, and exact-reranks candidates by cosine.

    Scale shape: the list table is written ``partitionBy(list_id)`` so a
    probe reads exactly nprobe partition directories — candidate count
    ≈ nprobe/n_lists of the corpus, independent of total size. n_lists
    scales as ~sqrt(n_vectors) (the FAISS IVF rule of thumb). The KMeans
    fit SAMPLES the corpus by default once it exceeds ``train_target``
    rows (≈ max(256·n_lists, train_target), the FAISS training-set rule —
    a 10⁹-vector corpus must not feed the quantizer whole); assignment is
    one model.transform pass. Centroids persist as a PARQUET table next to
    the lists (√10⁹ lists × 768 dims is ~200 MB — JSON-in-meta would bloat
    the driver), and centroid ranking itself goes distributed above
    ``driver_rank_max`` lists instead of collecting them to the driver."""

    DRIVER_RANK_MAX = 10_000

    def __init__(
        self,
        emb: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_lists: int = 16,
        seed: int = 42,
        train_fraction: float | None = None,
        train_target: int = 10_000,
        persist: bool = True,
    ):
        import math
        import os

        self.id_col, self.vec_col = id_col, vec_col
        self.n_lists, self.seed = int(n_lists), int(seed)
        norm = F.sqrt(
            F.aggregate(
                F.col(vec_col),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        )
        unit = F.transform(
            F.col(vec_col),
            lambda x: x.cast("double") / F.greatest(norm, F.lit(1e-12)),
        )
        base = emb.select(id_col, vec_col, unit.alias("_unit"))
        # count the RAW input (metadata-only for parquet sources — the
        # projected/vectorized plan would execute the projection)
        n = emb.count()
        if train_fraction is None:
            # default: sampled fit above the training target (256 points
            # per centroid, floored at train_target) — never the full
            # corpus once it outgrows what k-means needs
            target = max(256 * self.n_lists, int(train_target))
            train_fraction = min(1.0, target / n) if n > target else 1.0
        self.train_fraction = float(train_fraction)
        # The k-means fit itself runs DRIVER-SIDE whenever the training set
        # is bounded (it is by construction: the FAISS sampling rule keeps
        # it at ~256·n_lists rows regardless of corpus size): a distributed
        # Lloyd pass costs one barrier-synchronized job per iteration
        # (20 jobs of pure scheduling overhead for a ~10^4-row fit), while
        # the in-process fit is milliseconds. Above the row cap the
        # pyspark.ml distributed fit takes over unchanged — quantizer
        # TRAINING is bounded work, quantizer ASSIGNMENT below stays a
        # single distributed Arrow pass either way.
        driver_rows_cap = int(
            os.environ.get("DIS_IVF_DRIVER_FIT_MAX_ROWS", "200000")
        )
        est_train_rows = (
            n if self.train_fraction >= 1.0
            else int(math.ceil(n * self.train_fraction))
        )
        if est_train_rows <= driver_rows_cap:
            sample = base.select(id_col, "_unit")
            if self.train_fraction < 1.0:
                sample = sample.sample(
                    fraction=self.train_fraction, seed=seed
                )
            pdf = sample.toPandas()
            order = np.argsort(pdf[id_col].to_numpy())  # partition-order-free
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["_unit"].to_numpy()[order]]
            )
            self.centroids = _lloyd_kmeans(X, self.n_lists, self.seed)
        else:
            from pyspark.ml.clustering import KMeans
            from pyspark.ml.functions import array_to_vector

            featured = base.withColumn("_features", array_to_vector("_unit"))
            train = (
                featured.sample(fraction=self.train_fraction, seed=seed)
                if self.train_fraction < 1.0
                else featured
            )
            model = KMeans(
                k=self.n_lists, seed=self.seed, featuresCol="_features",
                predictionCol="_list",
            ).fit(train)
            self.centroids = np.array(
                [np.asarray(c) for c in model.clusterCenters()],
                dtype=np.float64,
            )
        self._centroid_df = None
        self.quant = None
        self._path = None
        # assignment: ONE distributed Arrow pass — argmin |c|² − 2c·v over
        # unit vectors (the euclidean order KMeans.transform would use);
        # the vec column rides through the batch untouched
        from pyspark.sql.types import IntegerType

        cents, c2 = self.centroids, (self.centroids**2).sum(axis=1)
        out_schema = base.select(id_col, vec_col).schema.add(
            "list_id", IntegerType()
        )

        def _assign(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                vm = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf["_unit"]]
                )
                d2 = c2[None, :] - 2.0 * (vm @ cents.T)
                out = pdf[[id_col, vec_col]].copy()
                out["list_id"] = d2.argmin(axis=1).astype("int32")
                yield out

        # widen the ASSIGNMENT input only (the k-means sample above must
        # keep the raw scan's partitioning — sample(fraction) draws are
        # partition-dependent): a single-file corpus would otherwise run
        # the assignment, the lists write, the min/max agg and the SQ8
        # write all on one core, serialized on the single cached block
        self.table = widen_for_python(base, id_col).mapInPandas(
            _assign, out_schema
        )
        if persist:
            self.table = self.table.persist()

    def unpersist(self) -> None:
        self.table.unpersist()

    def save(self, path: str, quantize: bool = False) -> None:
        """Materialize (id, vec, list_id) partitioned by list_id — the
        inverted-list layout: a probe scans only its lists' directories —
        plus the centroid table as parquet (n_lists rows; scales to 10⁵+
        lists where JSON-in-meta would not).

        ``quantize=True`` additionally writes an int8 scalar-quantized
        (SQ8) copy of the UNIT vectors (``lists_q``: 1 byte/dim — 8× less
        scan IO than the float64 lists) plus the per-dimension min/max
        table (``quant``). :meth:`topk_sq` then scans only the byte codes
        for the approximate pass and touches float vectors for just the
        rescore window — the ES ``int8_hnsw`` / FAISS SQ8 memory shape."""
        import json
        import os

        spark = self.table.sparkSession
        # the list table feeds up to three actions below (lists write,
        # min/max agg, SQ8 codes write) — without a cache each would re-run
        # the whole assignment pass from the source
        release = False
        if not self.table.is_cached:
            self.table = self.table.persist()
            release = True
        try:
            if quantize:
                from concurrent.futures import ThreadPoolExecutor

                from pyspark import inheritable_thread_target

                id_col, vec_col = self.id_col, self.vec_col
                norm = F.sqrt(
                    F.aggregate(
                        F.col(vec_col),
                        F.lit(0.0),
                        lambda acc, x: acc + x.cast("double") * x.cast("double"),
                    )
                )
                unit = F.transform(
                    F.col(vec_col),
                    lambda x: x.cast("double") / F.greatest(norm, F.lit(1e-12)),
                )
                based = self.table.select(id_col, "list_id", unit.alias("_u"))

                def _write_lists():
                    # cluster by list before the partitioned write: without
                    # it every task holding rows of a list opens a file in
                    # that list's directory — tasks × lists tiny files
                    # (guide §6). One exchange of keys+vecs, one file/list.
                    self.table.repartition(F.col("list_id")).write.mode(
                        "overwrite"
                    ).partitionBy("list_id").parquet(f"{path}/lists")

                def _write_quantized():
                    # per-dimension min/max over the corpus: one explode +
                    # agg (build-time only; probes never pay this)
                    mm = (
                        based.select(F.posexplode("_u").alias("pos", "x"))
                        .groupBy("pos")
                        .agg(F.min("x").alias("vmin"), F.max("x").alias("vmax"))
                        .orderBy("pos")
                    )
                    rows = mm.collect()
                    vmin = [float(r["vmin"]) for r in rows]
                    vmax = [float(r["vmax"]) for r in rows]
                    self.quant = (
                        np.asarray(vmin, dtype=np.float64),
                        np.asarray(vmax, dtype=np.float64),
                    )
                    lo = lit_double_array(vmin)
                    step = F.array(
                        *[F.lit(max(vmax[i] - vmin[i], 1e-12) / 255.0)
                          for i in range(len(vmin))]
                    )
                    codes = F.zip_with(
                        F.col("_u"),
                        F.arrays_zip(lo, step),
                        lambda x, z: F.round(
                            (x - z["0"]) / z["1"]
                        ).cast("int") - 128,
                    ).cast("array<tinyint>")
                    based.select(
                        id_col, codes.alias("vec_q"), "list_id"
                    ).repartition(F.col("list_id")).write.mode(
                        "overwrite"
                    ).partitionBy("list_id").parquet(f"{path}/lists_q")
                    mm.coalesce(1).write.mode("overwrite").parquet(
                        f"{path}/quant"
                    )

                # both branches read the cached list table and write
                # disjoint directories — overlap them (guide §2.6)
                carry = inheritable_thread_target(self.table.sparkSession)
                with ThreadPoolExecutor(max_workers=2) as pool:
                    fl = pool.submit(carry(_write_lists))
                    fq = pool.submit(carry(_write_quantized))
                    fl.result()
                    fq.result()
                self._path = path
            else:
                self.table.repartition(F.col("list_id")).write.mode(
                    "overwrite"
                ).partitionBy("list_id").parquet(f"{path}/lists")
        finally:
            if release:
                self.table.unpersist()
        import pandas as _pd

        # pandas-backed local relation (Arrow): the plain-list path pickles
        # defaultParallelism slices and costs ~4 s per tiny write at
        # local[32]
        spark.createDataFrame(
            _pd.DataFrame(
                {
                    "list_id": list(range(len(self.centroids))),
                    "centroid": [
                        [float(x) for x in c] for c in self.centroids
                    ],
                }
            ),
            "list_id int, centroid array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
        with open(os.path.join(path, "meta.json"), "w") as f:
            json.dump(
                {
                    "id_col": self.id_col,
                    "vec_col": self.vec_col,
                    "n_lists": self.n_lists,
                    "seed": self.seed,
                },
                f,
            )

    def append(self, new_emb: DataFrame, path: str) -> dict:
        """IVF add: assign NEW vectors to their nearest EXISTING centroid
        (the quantizer is FROZEN — standard IVF append semantics; lists
        drift from the k-means optimum as the data distribution shifts,
        so rebuild when the appended fraction grows large) and append the
        rows into the list table's partition directories — O(batch) work,
        untouched lists are never read or rewritten. Ids must be strictly
        greater than every existing id (the same monotone-append contract
        as ``index.build.append_index``; checked via one parquet
        stats-backed max). Returns ``{"appended", "lists_touched"}`` and
        reloads ``self.table`` from disk so subsequent probes see the new
        rows.

        Assignment is the in-memory Arrow matmul when the quantizer fits
        the driver (argmin of |c|² − 2c·v over unit vectors — exactly the
        euclidean order KMeans.transform used at build), else one
        crossJoin(centroid table) + per-vector window, batch × n_lists
        rows — the same distributed fallback topk_batch uses."""
        import pandas as pd
        from pyspark.sql.window import Window

        spark = new_emb.sparkSession
        id_col, vec_col = self.id_col, self.vec_col
        prev_max = self.table.agg(F.max(id_col)).first()[0]
        new_min = new_emb.agg(F.min(id_col)).first()[0]
        if new_min is None:
            return {"appended": 0, "lists_touched": 0}
        if prev_max is not None and new_min <= prev_max:
            raise ValueError(
                f"IvfAnnIndex.append: new ids must be > {prev_max} "
                f"(got min {new_min}) — duplicate ids would alias"
            )
        norm = F.sqrt(
            F.aggregate(
                F.col(vec_col),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        )
        unit = F.transform(
            F.col(vec_col),
            lambda x: x.cast("double") / F.greatest(norm, F.lit(1e-12)),
        )
        based = new_emb.select(id_col, vec_col, unit.alias("_unit"))
        if self.centroids is not None:
            cents, c2 = self.centroids, (self.centroids**2).sum(axis=1)

            def assign(batches):
                for pdf in batches:
                    if not len(pdf):
                        continue
                    vm = np.asarray([np.asarray(v) for v in pdf["_unit"]])
                    d2 = c2[None, :] - 2.0 * (vm @ cents.T)
                    out = pdf[[id_col]].copy()
                    out["list_id"] = d2.argmin(axis=1).astype("int32")
                    yield out

            assigned = based.select(id_col, "_unit").mapInPandas(
                assign, f"{id_col} long, list_id int"
            )
        else:
            d2c = F.aggregate(
                F.zip_with(
                    F.col("centroid"), F.col("_unit"),
                    lambda c, x: (c - x) * (c - x),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            w = Window.partitionBy(id_col).orderBy(
                F.asc("d2"), F.asc("list_id")
            )
            assigned = (
                based.select(id_col, "_unit")
                .crossJoin(self._centroid_df)
                .select(id_col, "list_id", d2c.alias("d2"))
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select(id_col, "list_id")
            )
        # materialize the assignment once: it feeds the write AND the
        # returned stats (batches are small next to the corpus)
        assigned = assigned.localCheckpoint()
        based.select(id_col, vec_col).join(assigned, id_col).write.mode(
            "append"
        ).partitionBy("list_id").parquet(f"{path}/lists")
        self.table = spark.read.parquet(f"{path}/lists")
        stats = assigned.agg(
            F.count("*").alias("n"),
            F.countDistinct("list_id").alias("m"),
        ).first()
        return {"appended": int(stats["n"]), "lists_touched": int(stats["m"])}

    @classmethod
    def load(cls, spark, path: str) -> "IvfAnnIndex":
        import json
        import os

        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        obj = cls.__new__(cls)
        obj.id_col, obj.vec_col = meta["id_col"], meta["vec_col"]
        obj.n_lists, obj.seed = int(meta["n_lists"]), int(meta["seed"])
        obj._centroid_df = spark.read.parquet(f"{path}/centroids")
        if obj.n_lists <= cls.DRIVER_RANK_MAX:
            rows = obj._centroid_df.collect()
            cents = [None] * obj.n_lists
            for r in rows:
                cents[int(r["list_id"])] = r["centroid"]
            obj.centroids = np.asarray(cents, dtype=np.float64)
        else:  # rank centroids distributedly; never collect them all
            obj.centroids = None
        obj.table = spark.read.parquet(f"{path}/lists")
        obj._path = path
        obj.quant = None
        if os.path.isdir(os.path.join(path, "quant")):
            qrows = sorted(
                spark.read.parquet(f"{path}/quant").collect(),
                key=lambda r: int(r["pos"]),
            )
            obj.quant = (
                np.asarray([r["vmin"] for r in qrows], dtype=np.float64),
                np.asarray([r["vmax"] for r in qrows], dtype=np.float64),
            )
        return obj

    def topk_sq(
        self,
        query_vec: list[float],
        k: int = 10,
        nprobe: int = 4,
        rescore_window: int | None = None,
    ) -> DataFrame:
        """SQ8 probe: the approximate pass scans ONLY the int8 codes of
        the probed lists (1 byte/dim — the 8× IO cut is the point at
        corpus scale), ranks by the dequantized dot product against the
        unit query, keeps ``rescore_window`` candidates (default 4k, the
        ES-style oversampling), and exact-rescores just those by cosine
        against the float lists. Requires ``save(path, quantize=True)``.

        The dequantized dot folds to one zip_with + aggregate per row:
        approx = bias + Σ (code_d + 128)·w_d with w_d = step_d·qu_d and
        bias = Σ vmin_d·qu_d precomputed driver-side from the query."""
        if self.quant is None or getattr(self, "_path", None) is None:
            raise ValueError(
                "topk_sq: no quantized lists — save(path, quantize=True) first"
            )
        vmin, vmax = self.quant
        qv = np.asarray(query_vec, dtype=np.float64)
        qu = qv / max(float(np.linalg.norm(qv)), 1e-12)
        step = np.maximum(vmax - vmin, 1e-12) / 255.0
        w = step * qu
        bias = float(vmin @ qu)
        window = int(rescore_window) if rescore_window else max(4 * k, k)
        lists = self._probe_lists(query_vec, nprobe)
        spark = self.table.sparkSession
        codes = spark.read.parquet(f"{self._path}/lists_q").filter(
            F.col("list_id").isin(lists)
        )
        wcol = lit_double_array(w)
        approx = F.lit(bias) + F.aggregate(
            F.zip_with(
                F.col("vec_q"),
                wcol,
                lambda q, ww: (q.cast("double") + 128.0) * ww,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cand = (
            codes.select(self.id_col, approx.alias("approx"))
            .orderBy(F.desc("approx"), F.asc(self.id_col))
            .limit(window)
        )
        q = lit_double_array(query_vec)
        floats = self.table.filter(F.col("list_id").isin(lists))
        return (
            floats.join(F.broadcast(cand.select(self.id_col)), self.id_col)
            .select(
                self.id_col, _cosine(F.col(self.vec_col), q).alias("cosine")
            )
            .orderBy(F.desc("cosine"), F.asc(self.id_col))
            .limit(k)
        )

    def _probe_lists(self, query_vec: list[float], nprobe: int) -> list[int]:
        v = np.asarray(query_vec, dtype=np.float64)
        v = v / max(float(np.linalg.norm(v)), 1e-12)
        if self.centroids is not None:  # small quantizer: driver numpy
            d2 = ((self.centroids - v) ** 2).sum(axis=1)
            order = np.lexsort((np.arange(d2.size), d2))  # distance, then id
            return [int(i) for i in order[: max(1, int(nprobe))]]
        # big quantizer (n_lists > DRIVER_RANK_MAX): one tiny distributed
        # top-nprobe over the centroid table — only nprobe ints come back
        q = lit_double_array(v)
        d2c = F.aggregate(
            F.zip_with(F.col("centroid"), q, lambda c, x: (c - x) * (c - x)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        rows = (
            self._centroid_df.select("list_id", d2c.alias("d2"))
            .orderBy(F.asc("d2"), F.asc("list_id"))
            .limit(max(1, int(nprobe)))
            .collect()
        )
        return [int(r["list_id"]) for r in rows]

    def topk(
        self,
        query_vec: list[float],
        k: int = 10,
        nprobe: int = 4,
        allowed: DataFrame | None = None,
    ) -> DataFrame:
        """``allowed`` pre-filters candidates before the exact rerank
        (filtered kNN — see LshAnnIndex.topk)."""
        lists = self._probe_lists(query_vec, nprobe)
        q = lit_double_array(query_vec)
        cand = self.table.filter(F.col("list_id").isin(lists))
        if allowed is not None:
            cand = cand.join(
                allowed.select(self.id_col), self.id_col, "left_semi"
            )
        return (
            cand.select(
                self.id_col, _cosine(F.col(self.vec_col), q).alias("cosine")
            )
            .orderBy(F.desc("cosine"), F.asc(self.id_col))
            .limit(k)
        )

    def topk_batch(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 4,
        q_id_col: str = "q_id",
        q_vec_col: str = "q_vec",
    ) -> DataFrame:
        """ANN top-k for a WHOLE TABLE of queries in one job — the IVF
        sibling of brute_force_cosine_topk_batch: each query is assigned
        its nprobe nearest lists, probe pairs group by list_id, and one
        matmul per (list, query-block) emits local top-k; a window keeps
        the global top-k per query. Returns (q_id, vec_id, cosine, rank).

        List assignment: with the quantizer in memory (n_lists <=
        DRIVER_RANK_MAX) one Arrow pass ranks centroids for all queries
        via a broadcast centroid matrix; above that, a distributed
        crossJoin(centroid table) + per-query window — only nprobe rows
        per query survive either way. Scanned corpus fraction stays
        ~nprobe/n_lists per query, independent of corpus size; the
        list-grouped matmul touches only probed list directories
        (partition-pruned parquet read)."""
        from pyspark.sql.window import Window

        npb = max(1, min(int(nprobe), self.n_lists))
        qn = queries.select(
            F.col(q_id_col).alias("qi"),
            F.col(q_vec_col).cast("array<double>").alias("qv"),
        )
        if self.centroids is not None:
            cents = self.centroids
            c2 = (cents**2).sum(axis=1)

            def assign(batches):
                import pandas as pd

                for pdf in batches:
                    if not len(pdf):
                        continue
                    qm = np.asarray(
                        [np.asarray(v, dtype=np.float64) for v in pdf["qv"]]
                    )
                    qm = qm / np.maximum(
                        np.linalg.norm(qm, axis=1), 1e-12
                    )[:, None]
                    # |c - q|^2 = |c|^2 - 2 c.q + 1: same ordering as the
                    # per-query path up to rounding at exact ties
                    d2 = c2[None, :] - 2.0 * (qm @ cents.T)
                    idx = np.argsort(d2, axis=1, kind="stable")[:, :npb]
                    n = len(pdf)
                    yield pd.DataFrame(
                        {
                            "qi": np.repeat(pdf["qi"].to_numpy(), npb),
                            "qv": [
                                v for v in pdf["qv"] for _ in range(npb)
                            ],
                            "list_id": idx.reshape(n * npb).astype("int32"),
                        }
                    )

            probes = qn.mapInPandas(
                assign, "qi long, qv array<double>, list_id int"
            )
        else:
            d2c = F.aggregate(
                F.zip_with(
                    F.col("centroid"),
                    F.col("qv"),
                    lambda c, x: (c - x) * (c - x),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            nrm = F.sqrt(
                F.aggregate(
                    F.col("qv"), F.lit(0.0), lambda acc, x: acc + x * x
                )
            )
            unit = qn.select(
                "qi",
                F.transform(
                    "qv", lambda x: x / F.greatest(nrm, F.lit(1e-12))
                ).alias("qv"),
            )
            w = Window.partitionBy("qi").orderBy(
                F.asc("d2"), F.asc("list_id")
            )
            probes = (
                unit.crossJoin(self._centroid_df)
                .select("qi", "qv", "list_id", d2c.alias("d2"))
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= npb)
                .select("qi", "qv", "list_id")
            )
        qgrp = probes.groupBy("list_id").agg(
            F.collect_list(F.struct("qi", "qv")).alias("qxs")
        )
        cgrp = self.table.groupBy("list_id").agg(
            F.collect_list(
                F.struct(
                    F.col(self.id_col).alias("i"),
                    F.col(self.vec_col).cast("array<double>").alias("v"),
                )
            ).alias("cxs")
        )
        joined = cgrp.join(qgrp, "list_id").select("cxs", "qxs")
        local = joined.mapInPandas(
            _grouped_topk_kernel(int(k)),
            "q_id long, vec_id long, cosine double",
        )
        w = Window.partitionBy("q_id").orderBy(
            F.desc("cosine"), F.asc("vec_id")
        )
        return (
            local.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= int(k))
            .select("q_id", "vec_id", "cosine", "rank")
        )

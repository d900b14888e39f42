"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale notes (the 100 TB framing):
- exact dedup is one hash-aggregate shuffle with map-side partial agg; the
  group key is xxhash64(text) (8 bytes) rather than the raw text so shuffle
  volume stays tiny.
- MinHash signatures are computed via explode(shingles) -> one shuffle
  groupBy(doc) with ``min(hash(shingle, seed_i))`` aggregates — all JVM.
  LSH banding then buckets signature slices; only same-bucket pairs are
  verified, so there is never an O(n^2) comparison.
- bucket-local pair expansion is bounded by ``max_bucket`` (oversized
  buckets are dropped with a count, never silently).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_60
from ..functions.partitioning import widen_for_python
from ..functions.tokenizer import shingles_of, tokenize_col


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups via hash-groupBy. Returns one row per distinct
    text: (rep_id = min id, n_dups). Collision-safe verify: the group key is
    (xxhash64(text), length(text)); survivors keep the min id."""
    return (
        df.groupBy(
            F.xxhash64(F.col(text_col)).alias("h"),
            F.length(text_col).alias("len"),
        )
        .agg(F.min(id_col).alias("rep_id"), F.count("*").alias("n_dups"))
        .select("rep_id", "n_dups")
    )


def _shingles(text_col: str, n: int = 3):
    """Token n-gram shingles as array<string> — sliced zip_with (see
    tokenizer.shingles_of for why not transform+element_at)."""
    toks = tokenize_col(text_col)
    sz = F.size(toks)
    return F.when(
        sz >= n,
        F.array_distinct(shingles_of(toks, n, " ")),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_shingle_df: int | None = None,
    prefix_filter: bool = True,
    metrics_out: dict | None = None,
) -> DataFrame:
    """EXACT token n-gram Jaccard pairs at jaccard >= threshold, via an
    inverted shingle join (never an O(n^2) cross product) with AllPairs
    prefix filtering: candidates are generated only from each set's
    rarest-first prefix (length |S| - ceil(t*|S|) + 1), which two sets
    with J >= t provably must collide in — the hot-shingle df^2 blowup is
    pruned without losing a single qualifying pair (measured 1.3M -> ~10^3
    candidates on the synthetic corpus at t=0.6).

    Plan shape: explode(distinct shingles, hashed to int64) -> per-shingle
    df + per-doc rank window -> prefix self-equi-join (candidates) ->
    intersection recount against the FULL sets -> jaccard =
    inter / (|A| + |B| - inter), exact rational in doubles.

    Scale: the cost driver is hot shingles (df^2 candidate blowup — the
    stop-phrase analogue of stopword skew). ``max_shingle_df`` caps it by
    dropping shingles with df > cap before the join. The intersection count
    then only sees surviving shingles while the union keeps full set sizes,
    so the reported jaccard is a LOWER BOUND: precision is preserved (every
    reported pair truly meets the threshold), recall is not (a pair whose
    shared shingles are all hot is missed). Dropped shingles are reported
    via ``metrics_out['capped_shingles']``. For the 100 TB path,
    run minhash_lsh_pairs first and jaccard_verify the candidates; this
    operator is the exact small/medium-corpus baseline (and the semantics
    oracle for the approximate path)."""
    from pyspark.sql.window import Window

    # widen the RAW input before attaching the shingle projection, so the
    # CPU-dense tokenize+shingle compute lands ABOVE the exchange (a
    # projection attached first would run below it, on the one-file scan's
    # 1-2 partitions); no-op at scale
    sh = widen_for_python(df, id_col).select(
        F.col(id_col).alias("_id"), _shingles(text_col, shingle_n).alias("s")
    )
    # hashed shingle keys: 8-byte shuffle keys instead of ~20-byte strings;
    # with ~10^5..10^9 distinct shingles the 64-bit collision odds are
    # <= n^2/2^65 — far below any other failure mode of the pipeline.
    #
    # The exploded table feeds sizes, dfs, the prefix window, both
    # candidate sides and both verify sides — 6+ plan branches that would
    # each re-run the tokenizer + shingle build. Materialize the hashed
    # spine ONCE, before anything branches (lazy local checkpoint: computed
    # at the first action, executor-local blocks, auto-cleaned on
    # dereference); everything downstream — including the pre-cap sizes —
    # derives from it.
    ex = (
        sh.select("_id", F.explode("s").alias("shs"))
        .select("_id", F.xxhash64("shs").alias("h"))
        .localCheckpoint(eager=False)
    )
    # set sizes from the PRE-cap sets: the jaccard denominator must keep
    # the true union, or a capped pair's reported value could EXCEED the
    # true one (the cap may only shrink the numerator — that is what
    # makes the reported jaccard a lower bound)
    sizes = ex.groupBy("_id").agg(F.count("*").alias("sz"))
    if max_shingle_df is not None:
        dfs_all = ex.groupBy("h").agg(F.count("*").alias("df"))
        if metrics_out is not None:
            # shingle STRINGS only exist pre-hash; re-derive them lazily for
            # just the oversized hashes (metrics consumer only)
            over = dfs_all.filter(F.col("df") > max_shingle_df)
            strs = (
                sh.select(F.explode("s").alias("shs"))
                .select("shs", F.xxhash64("shs").alias("h"))
                .distinct()
            )
            metrics_out["capped_shingles"] = over.join(strs, "h").select(
                F.col("shs").alias("sh"), "df"
            )
        ex = ex.join(
            dfs_all.filter(F.col("df") <= max_shingle_df).select("h"), "h"
        ).localCheckpoint(eager=False)
    if prefix_filter:
        # AllPairs/SSJoin prefix filtering (Bayardo et al., WWW'07;
        # Chaudhuri et al., ICDE'06): order every set by a global total
        # order (df asc, hash asc — rarest shingles first); two sets with
        # J >= t MUST share an element inside each one's first
        # |S| - ceil(t*|S|) + 1 elements, so joining only the prefixes
        # prunes the hot-shingle candidate blowup while staying EXACT.
        # The -1e-9 biases float ceil toward LONGER prefixes (safe side).
        hdf = ex.groupBy("h").agg(F.count("*").alias("hdf"))
        w = Window.partitionBy("_id").orderBy(F.asc("hdf"), F.asc("h"))
        pref = (
            ex.join(hdf, "h")
            .join(sizes, "_id")
            .withColumn("rn", F.row_number().over(w))
            .filter(
                F.col("rn")
                <= F.col("sz")
                - F.ceil(F.col("sz") * F.lit(float(threshold)) - 1e-9)
                + 1
            )
            .select("_id", "h", "rn", "sz")
        )
        # PPJoin-style pruning inside the collision join (Xiao et al.,
        # WWW'08), both EXACT — every filter errs toward KEEPING (the
        # same -1e-9 float bias as the prefix length):
        # - length filter: J >= t needs min(|A|,|B|) >= t/(1+t)*(|A|+|B|)
        #   (since |A∩B| <= min);
        # - positional filter: at a pair's FIRST common prefix element
        #   (rank rn_x in A's global df-asc order, rn_y in B's) the
        #   intersection is that element plus a subset of both suffixes,
        #   so |A∩B| <= 1 + min(|A|-rn_x, |B|-rn_y) — a qualifying pair
        #   always passes at its first collision, and distinct() keeps a
        #   pair if ANY collision row survives, so recall is untouched
        #   while the hot-shingle collision stream shrinks before the
        #   distinct and the intersection recount.
        minov = F.ceil(
            (F.col("x.sz") + F.col("y.sz"))
            * F.lit(float(threshold) / (1.0 + float(threshold)))
            - 1e-9
        )
        cand = (
            pref.alias("x")
            .join(
                pref.alias("y"),
                (F.col("x.h") == F.col("y.h"))
                & (F.col("x._id") < F.col("y._id"))
                & (
                    F.least(F.col("x.sz"), F.col("y.sz")) >= minov
                )
                & (
                    1
                    + F.least(
                        F.col("x.sz") - F.col("x.rn"),
                        F.col("y.sz") - F.col("y.rn"),
                    )
                    >= minov
                ),
            )
            .select(F.col("x._id").alias("a"), F.col("y._id").alias("b"))
            .distinct()
        )
        inter = (
            ex.alias("x")
            .join(cand, F.col("x._id") == F.col("a"))
            .join(
                ex.alias("y"),
                (F.col("y._id") == F.col("b")) & (F.col("y.h") == F.col("x.h")),
            )
            .groupBy("a", "b")
            .agg(F.count("*").alias("inter"))
        )
    else:
        inter = (
            ex.alias("x")
            .join(
                ex.alias("y"),
                (F.col("x.h") == F.col("y.h"))
                & (F.col("x._id") < F.col("y._id")),
            )
            .groupBy(F.col("x._id").alias("a"), F.col("y._id").alias("b"))
            .agg(F.count("*").alias("inter"))
        )
    j = (
        inter.join(sizes.select(F.col("_id").alias("a"), F.col("sz").alias("sza")), "a")
        .join(sizes.select(F.col("_id").alias("b"), F.col("sz").alias("szb")), "b")
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.col("sza") + F.col("szb") - F.col("inter")).cast("double"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select("a", "b", "jaccard")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig array<long>[n_perm]) — min over shingle hashes per seed.

    One explode + one groupBy(doc) shuffle; the n_perm hash family is
    xxhash64(shingle, seed_i) computed as JVM expressions (no UDF).
    """
    # widen: tokenize+shingle+n_perm hash aggs are CPU-dense; a one-file
    # corpus otherwise runs the whole map side on a single core
    ex = widen_for_python(df, id_col).select(
        F.col(id_col).alias("_id"), F.explode(_shingles(text_col, shingle_n)).alias("sh")
    )
    # one F.expr per aggregate (and one for the pack): the chained-Column
    # form costs ~4 py4j round trips x n_perm per query construction —
    # identical xxhash64(sh, seed_i) operators, parsed server-side
    aggs = [
        F.expr(f"min(xxhash64(sh, {i}))").alias(f"h{i}")
        for i in range(n_perm)
    ]
    sigs = ex.groupBy("_id").agg(*aggs)
    return sigs.select(
        F.col("_id").alias(id_col),
        F.expr(
            "array(" + ",".join(f"h{i}" for i in range(n_perm)) + ")"
        ).alias("sig"),
    )


def _banded_rows(sigs: DataFrame, id_col: str, bands: int) -> DataFrame:
    """(id, band, bh) — the signature split into ``bands`` slices, each
    hashed to a 64-bit bucket key. Shared by the self-join and the
    incremental (new-vs-corpus) pairing so both sides band identically."""
    n_perm_col = F.size("sig")
    rows_per_band = (n_perm_col / bands).cast("int")
    return sigs.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice("sig", b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("bh"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def minhash_lsh_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    max_bucket: int = 64,
    metrics_out: dict | None = None,
) -> DataFrame:
    """LSH banding: hash each signature band -> bucket-join -> candidate
    pairs (a < b). Buckets larger than ``max_bucket`` (typically boilerplate
    clusters) are NOT silently dropped: pass ``metrics_out`` to receive
    ``oversized_buckets`` — a lazy DataFrame of (band, bh, n) for every
    dropped bucket (count it, or route its members through a re-banding
    pass) — and ``dropped_ids``, the distinct member ids of those buckets."""
    banded = _banded_rows(sigs, id_col, bands)
    buckets = banded.groupBy("band", "bh").agg(
        F.collect_list(id_col).alias("ids"), F.count("*").alias("n")
    )
    small = buckets.filter((F.col("n") >= 2) & (F.col("n") <= max_bucket))
    if metrics_out is not None:
        oversized = buckets.filter(F.col("n") > max_bucket)
        metrics_out["oversized_buckets"] = oversized.select("band", "bh", "n")
        metrics_out["dropped_ids"] = (
            oversized.select(F.explode("ids").alias(id_col)).distinct()
        )
    # pair expansion inside each bucket: JVM flatten of the id cross-product
    pairs = small.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.size("ids") - 2),
                    lambda i: F.transform(
                        F.slice("ids", i + 2, F.size("ids") - i - 1),
                        lambda other: F.struct(
                            F.least(F.element_at(F.col("ids"), i + 1), other).alias("a"),
                            F.greatest(F.element_at(F.col("ids"), i + 1), other).alias("b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.a", "p.b").distinct()
    return pairs


def minhash_lsh_pairs_incremental(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    max_bucket: int = 64,
    metrics_out: dict | None = None,
) -> DataFrame:
    """Candidate pairs ``(a=corpus id, b=new id)`` for a NEW batch against
    an EXISTING corpus — the O(batch) dedup step a training pipeline runs
    per ingest instead of re-pairing the whole corpus: both sides are
    banded with the SAME expressions (:func:`_banded_rows`, so a new doc
    whose signature equals a corpus doc's is guaranteed to collide), then
    one (band, bh) equi-join. The corpus side never self-joins; pairs
    WITHIN the new batch come from ``minhash_lsh_pairs(new_sigs)``
    separately. Ids must be disjoint across sides (monotone append ids,
    as append_index enforces — a shared id would silently alias).

    Scale/skew: hot corpus buckets (boilerplate) would otherwise multiply
    EVERY future batch forever, so corpus-side buckets larger than
    ``max_bucket`` are excluded and reported via ``metrics_out``
    (``oversized_buckets``: (band, bh, n); ``dropped_ids``), never
    silently. The banded corpus is a candidate for persisting next to the
    corpus (it is pure column math over the signature table, so storing
    signatures alone — one slim table — suffices)."""
    nb = _banded_rows(new_sigs, id_col, bands).select(
        F.col(id_col).alias("b"), "band", "bh"
    )
    cb = _banded_rows(corpus_sigs, id_col, bands).select(
        F.col(id_col).alias("a"), "band", "bh"
    )
    sizes = cb.groupBy("band", "bh").agg(F.count("*").alias("n"))
    if metrics_out is not None:
        oversized = sizes.filter(F.col("n") > max_bucket)
        metrics_out["oversized_buckets"] = oversized
        metrics_out["dropped_ids"] = (
            cb.join(oversized.select("band", "bh"), ["band", "bh"])
            .select(F.col("a").alias(id_col))
            .distinct()
        )
    cb = cb.join(
        sizes.filter(F.col("n") <= max_bucket).select("band", "bh"),
        ["band", "bh"],
    )
    return cb.join(nb, ["band", "bh"]).select("a", "b").distinct()


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs only (never all-pairs):
    broadcast-friendly double join to attach shingle sets, JVM set ops.
    The shingle table feeds BOTH join sides — materialize it once (lazy
    executor-local blocks) instead of re-running tokenize+shingle per side."""
    # widen: the tokenize+shingle projection is CPU-dense and a one-file
    # corpus scans as a single partition (no-op at scale)
    sh = widen_for_python(df, id_col).select(
        F.col(id_col), _shingles(text_col, shingle_n).alias("sh")
    ).localCheckpoint(eager=False)
    a = sh.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b"))
    joined = pairs.join(a, "a").join(b, "b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        joined.withColumn("jaccard", inter / F.greatest(union, F.lit(1.0)))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


SIMHASH_BITS = 60  # portable md5-based hash yields 60 usable bits


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out: str = "simhash",
    n_bits: int = SIMHASH_BITS,
    hash_fn=md5_60,
) -> DataFrame:
    """SimHash over tf-weighted token hashes (n_bits wide, default 60).

    JVM-only formulation: for each bit, the bit is 1 iff
    sum over tokens of tf * sign(bit of hash(token)) > 0. Computed via
    explode + conditional aggregates on bit masks (one shuffle, no UDF).
    ``hash_fn`` defaults to the portable md5-based 60-bit hash (DuckDB-
    reproducible); pass F.xxhash64 with n_bits=64 for max speed.
    """
    ex = (
        df.select(F.col(id_col).alias("_id"), F.explode(tokenize_col(text_col)).alias("tok"))
        .groupBy("_id", "tok")
        .agg(F.count("*").alias("tf"))
        .withColumn("h", hash_fn(F.col("tok")))
    )
    # one F.expr per aggregate instead of ~10 chained Column calls: the
    # n_bits-wide agg otherwise costs ~600 py4j round trips (~1.2 s of
    # driver time PER QUERY CONSTRUCTION at n_bits=60) before Spark ever
    # sees the plan. Identical operators, just parsed server-side.
    bit_aggs = [
        F.expr(
            f"cast(sum(case when (shiftrightunsigned(h, {i}) & 1) = 1 "
            f"then tf else -tf end) > 0 as long)"
        ).alias(f"b{i}")
        for i in range(n_bits)
    ]
    bits = ex.groupBy("_id").agg(*bit_aggs)
    acc = F.expr(
        " | ".join(f"shiftleft(b{i}, {i})" for i in range(n_bits))
    )
    return bits.select(F.col("_id").alias(id_col), acc.alias(out))


def simhash_candidate_pairs(
    sim: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    max_hamming: int = 3,
    n_bits: int = SIMHASH_BITS,
    n_chunks: int | None = None,
) -> DataFrame:
    """Candidate pairs (a, b, ha, hb) for Hamming <= max_hamming via Manku-
    style block permutations: split n_bits into ``n_chunks`` chunks; a pair
    within Hamming h touches at most h chunks, so at least (n_chunks - h)
    chunks are untouched — hence SOME (n_chunks - h)-subset of chunks matches
    exactly (pigeonhole). One bucket-join per subset, union, distinct.
    Complete by construction for any max_hamming; no all-pairs comparison.

    Why subsets instead of the minimal h+1 single-chunk tables: join-key
    width. With 60 bits, h=3 and 4 chunks the keys are 15 bits — at 10^9
    docs every bucket holds ~30k ids and the per-chunk self-join goes
    quadratic. The default 6 chunks matched 3-at-a-time gives C(6,3)=20
    joins on 30-bit keys: each join's bucket sizes shrink by ~2^15x, which
    is what survives a 100x scale-up. ``n_chunks`` dials the tradeoff
    (must be > max_hamming)."""
    from itertools import combinations

    h = int(max_hamming)
    if n_chunks is None:
        n_chunks = min(h + 3, n_bits) if h >= 1 else 1
    if not (h < n_chunks <= n_bits):
        raise ValueError(
            f"n_chunks must satisfy max_hamming < n_chunks <= n_bits, got "
            f"{n_chunks} (h={h}, n_bits={n_bits})"
        )
    cw = (n_bits + n_chunks - 1) // n_chunks  # chunk width
    mask = (1 << cw) - 1
    # caller column names enter SQL and F.col quoted, backticks doubled
    q_id, q_hash = (
        "`" + c.replace("`", "``") + "`" for c in (id_col, hash_col)
    )

    def chunk_sql(i):
        return f"(shiftrightunsigned({q_hash}, {cw * i}) & {mask}L)"

    # one exploded (id, hash, band, key) table and ONE self-join on
    # (band, key) — NOT a join per subset: N unioned joins would recompute
    # the upstream simhash aggregation 2N times and shuffle N times; this
    # shape computes it once per side and shuffles once (the minhash-LSH
    # banding shape, reused). The C(n_chunks, n_chunks-h) band structs are
    # built as ONE SQL string — the chained-Column form cost hundreds of
    # py4j round trips per query construction (see simhash above).
    band_terms = []
    for si, subset in enumerate(combinations(range(n_chunks), n_chunks - h)):
        key = " | ".join(
            f"shiftleft({chunk_sql(i)}, {cw * rank})"
            for rank, i in enumerate(subset)
        )
        band_terms.append(f"struct({si} as band, ({key}) as bk)")
    bands = F.expr("array(" + ", ".join(band_terms) + ")")
    banded = sim.select(
        F.col(q_id).alias("id"), F.col(q_hash).alias("h"), F.explode(bands).alias("b")
    ).select("id", "h", F.col("b.band").alias("band"), F.col("b.bk").alias("bk"))
    a = banded.select(F.col("id").alias("a"), F.col("h").alias("ha"), "band", "bk")
    b = banded.select(F.col("id").alias("b"), F.col("h").alias("hb"), "band", "bk")
    return (
        a.join(b, ["band", "bk"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "ha", "hb")
        .distinct()
    )


def simhash_near_dups(
    sim: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    max_hamming: int = 3,
    n_bits: int = SIMHASH_BITS,
    n_chunks: int | None = None,
) -> DataFrame:
    """Near-dup pairs by Hamming distance <= max_hamming: block-permutation
    candidate generation (see simhash_candidate_pairs) + exact popcount
    verify. Output is identical for any valid n_chunks (the scheme is
    complete); n_chunks only changes candidate-set size and join-key width."""
    pairs = simhash_candidate_pairs(
        sim, id_col, hash_col, max_hamming, n_bits, n_chunks
    )
    return (
        pairs.withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def embedding_near_dups(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    threshold: float = 0.95,
    seed: int = 42,
    max_bucket: int = 256,
    n_tables: int = 1,
    metrics_out: dict | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via random-hyperplane LSH buckets +
    exact cosine verify inside buckets (see similarity.py for the plane
    construction). Oversized buckets are reported via ``metrics_out``
    (``oversized_buckets``: lazy (sig, n) DataFrame; ``dropped_ids``), never
    dropped without a trace.

    With ``n_tables > 1`` the oversized-bucket report is PER TABLE: an id
    in ``dropped_ids`` lost one table's bucket but may still pair through
    another table — the report is a recall-risk trace, not a statement of
    global exclusion.

    ``n_tables`` is the recall dial that does NOT grow buckets: each table
    hashes with an independent seeded plane set, a pair is a candidate if it
    collides in ANY table, and the final ``distinct()`` collapses multi-table
    hits. For pairs at cosine c (angle theta), per-table collision is
    (1 - theta/pi)^n_planes, so miss probability falls exponentially in
    n_tables while per-bucket size (pair-expansion cost) stays set by
    n_planes alone — the same table/plane trade as LshAnnIndex."""
    from .similarity import _cosine, hyperplane_sigs_pandas

    dim_row = emb.select(F.size(vec_col).alias("d")).first()
    dim = int(dim_row["d"])
    sig = hyperplane_sigs_pandas(
        emb, id_col, vec_col, dim, n_planes, seed, n_tables
    )
    buckets = sig.groupBy("t", "sig").agg(
        F.collect_list(F.struct(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))).alias("xs"),
        F.count("*").alias("n"),
    )
    small = buckets.filter((F.col("n") >= 2) & (F.col("n") <= max_bucket))
    if metrics_out is not None:
        oversized = buckets.filter(F.col("n") > max_bucket)
        metrics_out["oversized_buckets"] = oversized.select("t", "sig", "n")
        metrics_out["dropped_ids"] = oversized.select(
            F.explode(F.col("xs.i")).alias(id_col)
        ).distinct()
    pairs = small.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.size("xs") - 2),
                    lambda i: F.transform(
                        F.slice("xs", i + 2, F.size("xs") - i - 1),
                        lambda other: F.struct(
                            F.element_at(F.col("xs"), i + 1).alias("x"),
                            other.alias("y"),
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    cos = _cosine(F.col("p.x.v"), F.col("p.y.v"))
    return (
        pairs.select(
            F.least("p.x.i", "p.y.i").alias("a"),
            F.greatest("p.x.i", "p.y.i").alias("b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


def dedup_clusters(
    pairs: DataFrame,
    ids: DataFrame | None = None,
    id_col: str = "doc_id",
    left_col: str = "a",
    right_col: str = "b",
    max_iter: int = 50,
    metrics_out: dict | None = None,
) -> DataFrame:
    """Connected components over a near-dup pair graph →
    ``(id_col, cluster_id)`` with ``cluster_id = min(member ids)`` — the
    step AFTER pair generation (minhash_lsh_pairs / simhash_near_dups /
    ngram_jaccard_pairs / embedding_near_dups all emit (a, b) edges) that
    turns transitive duplicate evidence into groups a curation pass can
    act on: a~b and b~c must land in ONE cluster even when a~c was never
    emitted as a pair.

    Algorithm: hash-min label propagation with pointer jumping. Each
    round (1) takes the min label over graph neighbours (one shuffle
    join + map-side-combined min agg) and (2) replaces every label with
    ITS OWN current label (one self-join) — path halving, so rounds
    needed are O(log diameter) instead of O(diameter). Lineage is cut
    every round with a LAZY localCheckpoint (executor-local blocks; on
    a cluster use spark.sparkContext.setCheckpointDir + .checkpoint for
    fault tolerance) so the plan never deepens. Convergence is detected
    by the sum of labels (min-propagation only ever DECREASES a label,
    so an unchanged sum means a fixpoint); because the checkpoint is
    lazy, the convergence agg IS the action that materializes the
    round's labels — ONE Spark job per round (join+jump+checkpoint+sum
    fused), not a materialize job followed by a separate agg job. At toy
    scale that halves job-scheduling overhead; on a cluster it removes
    one barrier-synchronized stage per round. For adversarially
    chained graphs at 10^12 edges the same loop holds — near-dup cluster
    diameters are small, and the log-rounds bound caps the worst case
    (cf. Kiveris et al., "Connected Components in MapReduce and Beyond"
    for the star-contraction alternative).

    ``ids`` (optional, a DataFrame carrying ``id_col``) adds isolated
    nodes: every id appears in the output, singletons as their own
    cluster. Without it the node set is derived from the pairs alone.
    """
    # materialize the caller's pair pipeline BEFORE the symmetric union:
    # both union branches reference it, so without the marker the whole
    # upstream pair generation (e.g. the exact-Jaccard join) runs TWICE
    # inside the first action (measured 2× the jaccard wall at sf0.1)
    base_edges = pairs.select(
        F.col(left_col).alias("src"), F.col(right_col).alias("dst")
    ).localCheckpoint(eager=False)
    edges = base_edges.union(
        base_edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    nodes = edges.select(F.col("src").alias("id")).distinct()
    if ids is not None:
        nodes = nodes.union(ids.select(F.col(id_col).alias("id"))).distinct()
    # pair graphs are tiny next to the corpus (edges ≪ docs); keep the
    # edge list hot across rounds instead of re-shuffling it from source
    edges = edges.localCheckpoint(eager=False)
    # Size the propagation working set from the DATA, not from whatever
    # partitioning the pair generator happened to leave behind: the count
    # materializes the checkpoint (the first action would have anyway), and
    # the working set is then laid out at ~rows_per_task rows per task —
    # one task per stage at toy scale, thousands of tasks at 10^12 edges.
    # Every round otherwise launches 32+ near-empty map tasks per join
    # stage, and the per-stage scheduling overhead dominates the round.
    n_edges = edges.count()
    rows_per_task = 65536
    # SHRINK-only, and only for genuinely tiny graphs (one join task per
    # ~64k edges): below that, per-task scheduling overhead dominates each
    # propagation round; above it the inherited parallelism stands — the
    # cap is the data's own partitioning, never a core-count constant
    # (measured: collapsing a 1.75M-edge graph to 7 tasks on 32 cores cost
    # ~2× per round)
    cur_p = edges.rdd.getNumPartitions()
    p = max(1, min(-(-n_edges // rows_per_task), cur_p))
    if p < cur_p:
        edges = edges.repartition(p, "src").localCheckpoint(eager=False)
    labels = (
        nodes.select("id", F.col("id").alias("lbl"))
        .repartition(p, "id")
        .localCheckpoint(eager=False)
    )
    # decimal(38,0) sum: at 10^12 nodes with 10^12-scale ids an int64 sum
    # wraps (non-ANSI), and a wrapped sum could spuriously equal the
    # previous round's — the monotone-convergence argument needs exactness
    lbl_sum = F.sum(F.col("lbl").cast("decimal(38,0)"))
    # this agg is the job that materializes the lazy checkpoint above
    prev_sum = labels.agg(lbl_sum).first()[0]
    converged, rounds = False, 0

    # ONE propagation round per action (a 2-rounds-per-check variant was
    # measured: it halves the convergence aggs but does up to two WASTED
    # join-rounds past the fixpoint — on realistic low-diameter near-dup
    # graphs that converge in 1-2 rounds, the wasted full-graph joins cost
    # far more at scale than the saved tiny sum-aggs)
    while rounds < max_iter and not converged:
        rounds += 1
        nbr = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        stepped = (
            labels.join(nbr, "id", "left")
            .select("id", F.least("lbl", "nlbl").alias("lbl"))
        )
        # pointer jumping: lbl <- label-of-lbl (path halving)
        jump = stepped.select(
            F.col("id").alias("jid"), F.col("lbl").alias("jlbl")
        )
        new_labels = (
            stepped.join(jump, stepped.lbl == jump.jid, "left")
            .select("id", F.least("lbl", "jlbl").alias("lbl"))
            .localCheckpoint(eager=False)
        )
        # ONE action per round: the sum agg both materializes the lazy
        # checkpoint (cutting lineage) and yields the convergence signal
        cur_sum = new_labels.agg(lbl_sum).first()[0]
        labels = new_labels
        if cur_sum == prev_sum:
            converged = True
        else:
            prev_sum = cur_sum
    if metrics_out is not None:
        metrics_out["rounds"] = rounds
        metrics_out["converged"] = converged
    if not converged:
        # never silently: labels past max_iter may still be mid-merge —
        # a cluster could be split in the returned assignment
        import warnings

        warnings.warn(
            f"dedup_clusters: no fixpoint after max_iter={max_iter} "
            "rounds — returned clusters may be under-merged; raise "
            "max_iter (rounds needed are O(log graph diameter))",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("id").alias(id_col), F.col("lbl").alias("cluster_id"))


def keep_canonical(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    prefer=None,
) -> DataFrame:
    """One representative row per duplicate cluster — the dedup pass a
    training pipeline runs after :func:`dedup_clusters`: rows absent from
    ``clusters`` are singletons and survive untouched; within a cluster
    the row maximizing ``prefer`` (a Column, e.g. ``F.length("text")``)
    wins, ties broken by min id — deterministic, so reruns keep the SAME
    representative. Returns ``df``'s rows (original columns) for the
    survivors only. One broadcast-sized join (clusters ≪ corpus) plus a
    per-cluster window; singleton rows take the window keyed by their own
    id, so no skewed giant partition exists by construction."""
    from pyspark.sql.window import Window

    joined = df.join(
        clusters.select(
            F.col(id_col).alias("_cid_key"), F.col("cluster_id").alias("_cl")
        ),
        df[id_col] == F.col("_cid_key"),
        "left",
    ).withColumn("_cl", F.coalesce(F.col("_cl"), df[id_col]))
    order = [F.asc(id_col)] if prefer is None else [
        F.desc_nulls_last(prefer),
        F.asc(id_col),
    ]
    w = Window.partitionBy("_cl").orderBy(*order)
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_cid_key", "_cl", "_rn")
    )

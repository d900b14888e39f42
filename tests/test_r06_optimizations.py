"""Focused tests for the round-6 optimization internals: each change that
altered HOW an operator computes (never WHAT) gets a pin here —
equivalence against the straightforward form, plus determinism where the
optimization introduced a driver-side component."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dart_importer_spark.functions.localrel import local_df
from dart_importer_spark.index.build import assign_doc_ids
from dart_importer_spark.operators.similarity import _lloyd_kmeans


def test_local_df_matches_classic_createdataframe(spark):
    rows = [(1, "a", [1.0, 2.0], None), (2, "b", [], 3.5), (3, None, [0.0], -1.0)]
    schema = "k long, s string, v array<double>, x double"
    got = local_df(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_local_df_empty_and_single_partition(spark):
    empty = local_df(spark, [], "a int, b string")
    assert empty.collect() == [] and [f.name for f in empty.schema] == ["a", "b"]
    # the point of the helper: ONE partition instead of defaultParallelism
    assert local_df(spark, [(1, "x")], "a int, b string").rdd.getNumPartitions() == 1


def test_local_df_falls_back_on_unsplittable_schema(spark):
    # list-of-names schema (get_by_keys form): .split fails -> classic path
    got = local_df(spark, [(1, 2)], ["a", "b"])
    assert sorted(got.columns) == ["a", "b"] and got.count() == 1


def test_assign_doc_ids_is_dense_rank_over_keys(spark):
    # ids must be exactly the global rank under ORDER BY key, regardless of
    # input partitioning — the JVM numbering (offset + monotonic ordinal)
    # must agree with a plain window-rank reference
    rows = [(f"c{i % 7:02d}", i // 7, f"t{i}") for i in range(500)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string").repartition(13)
    out = assign_doc_ids(df, partitions=5)
    got = {(r["conv_id"], r["turn_idx"]): r["doc_id"] for r in out.collect()}
    ref = sorted(rows)
    for rank, (c, t, _) in enumerate(ref):
        assert got[(c, t)] == rank
    # append path: base offsets every id
    out2 = assign_doc_ids(df, partitions=3, base=1000)
    got2 = {(r["conv_id"], r["turn_idx"]): r["doc_id"] for r in out2.collect()}
    assert all(got2[k] == got[k] + 1000 for k in got)


@pytest.fixture(scope="module")
def fielded_index(spark, tmp_path_factory):
    from dart_importer_spark.index.build import BuildConfig, build_index
    from dart_importer_spark.query.engine import InvertedIndex

    rows = [
        ("c1", 0, "alpha beta gamma beta", "news one"),
        ("c1", 1, "beta delta", "blog two"),
        ("c2", 0, "alpha alpha epsilon", "news three"),
        ("c2", 1, "zeta eta theta iota", "wiki four"),
        ("c3", 0, "beta gamma", "news five"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, body string, title string"
    )
    out = str(tmp_path_factory.mktemp("r06_fielded") / "idx")
    build_index(
        spark, df, out, BuildConfig(n_segments=2, n_buckets=4),
        text_cols=("body", "title"), shingle_fields=(("body", 2),),
        meta_cols=(),
    )
    return InvertedIndex(spark, out)


def test_legs_stats_matches_per_leg_stats(fielded_index, tmp_path):
    """The one term-statistics reader (pyarrow over term_dict) returns, for
    every leg, exactly the df and block-max bound a Spark aggregate of
    the postings gives, and idf = the BM25 idf of that df. A missing
    bucket directory holds no terms; a missing term_dict raises."""
    import shutil

    from dart_importer_spark.index.build import bucket_of
    from dart_importer_spark.query.engine import InvertedIndex, _idf, _tfn

    ix = fielded_index
    terms = sorted({"beta", "news", "alpha", "two", "zeta", "absent"})
    specs = [(fid, terms) for fid in range(len(ix.fields))]
    agg = {
        (r["field"], r["term"]): r
        for r in ix.postings()
        .filter(F.col("term").isin(terms))
        .groupBy("field", "term")
        .agg(
            F.sum("n").alias("df"),
            F.max(F.array_max("block_max_tf")).alias("mtf"),
            F.min(F.array_min("block_min_dl")).alias("mdl"),
        )
        .collect()
    }
    batched = ix._legs_stats(specs)
    assert len(batched) == len(specs)
    for (fid, _), (dfs, idf, ubs) in zip(specs, batched):
        want = {t: r for (f, t), r in agg.items() if f == fid}
        assert dfs == {t: int(r["df"]) for t, r in want.items()}
        assert idf == {t: _idf(ix.n_docs, d) for t, d in dfs.items()}
        avgdl = ix.avgdl_by_field[fid]
        assert ubs == {
            t: idf[t] * _tfn(float(r["mtf"]), float(r["mdl"]), avgdl)
            for t, r in want.items()
        }
    assert any(dfs for dfs, _, _ in batched)
    assert "absent" not in set().union(*(dfs for dfs, _, _ in batched))

    copy = str(tmp_path / "idx")
    shutil.copytree(ix.dir, copy)
    b = bucket_of("beta", ix.n_buckets)
    shutil.rmtree(f"{copy}/term_dict/bucket={b}")
    assert InvertedIndex(ix.spark, copy).term_stats(["beta"], "body") == {}
    shutil.rmtree(f"{copy}/term_dict")
    with pytest.raises(FileNotFoundError, match="term_dict"):
        InvertedIndex(ix.spark, copy).term_stats(["beta"], "body")


def test_lloyd_kmeans_deterministic_and_partitions_data():
    rng = np.random.default_rng(5)
    X = rng.standard_normal((300, 16))
    a = _lloyd_kmeans(X, 8, seed=42)
    b = _lloyd_kmeans(X, 8, seed=42)
    assert np.array_equal(a, b)  # bit-identical across calls
    assert a.shape == (8, 16)
    # every point is closest to SOME center with finite distance and the
    # clustering is non-degenerate (more than one center used)
    d = ((X[:, None, :] - a[None, :, :]) ** 2).sum(-1)
    assert np.isfinite(d).all()
    assert len(set(d.argmin(1))) > 1
    # k > n degenerates to n centers, no crash
    small = _lloyd_kmeans(X[:3], 8, seed=1)
    assert small.shape[0] == 3


def test_theta_gate_preserves_ranks(built_index):
    """The adaptive θ skip must be invisible in results: forced-bootstrap
    (prune_min_postings=0) and gated (huge) plans return identical runs."""
    old = built_index.prune_min_postings
    try:
        built_index.prune_min_postings = 0
        forced = [(r["doc_id"], round(r["score"], 9))
                  for r in built_index.topk("the and of", k=10).collect()]
        built_index.prune_min_postings = 1 << 60
        gated = [(r["doc_id"], round(r["score"], 9))
                 for r in built_index.topk("the and of", k=10).collect()]
    finally:
        built_index.prune_min_postings = old
    assert forced == gated


def test_pydaemon_path_aware_importlib():
    """The engine daemon's importlib facade must invalidate exactly when
    sys.path changes (the sc.addPyFile contract) and no-op otherwise."""
    import sys

    from dart_importer_spark.pydaemon import _PathAwareImportlib

    calls = []
    shim = _PathAwareImportlib()
    real = sys.modules["importlib"].invalidate_caches
    sys.modules["importlib"].invalidate_caches = lambda: calls.append(1)
    try:
        shim.invalidate_caches()  # first call: path unseen -> invalidate
        shim.invalidate_caches()  # unchanged path -> no-op
        assert len(calls) == 1
        sys.path.append("/tmp/_pydaemon_test_sentinel")
        try:
            shim.invalidate_caches()  # path changed -> invalidate
        finally:
            sys.path.remove("/tmp/_pydaemon_test_sentinel")
        assert len(calls) == 2
        shim.invalidate_caches()  # changed back -> invalidate again
        assert len(calls) == 3
    finally:
        sys.modules["importlib"].invalidate_caches = real
    # delegation for everything else
    assert shim.import_module("json").dumps({"a": 1}) == '{"a": 1}'


def test_pydaemon_active_and_python_path_round_trips(spark):
    """The session must point Spark at the engine daemon, and a Python-
    worker stage must round-trip correctly under it (the conf only takes
    effect at JVM start, but the module itself must patch cleanly)."""
    import pandas as pd

    assert (
        spark.sparkContext.getConf().get("spark.python.daemon.module")
        == "dart_importer_spark.pydaemon"
    )
    # worker transport: unix domain sockets (host-local IPC at any scale)
    assert (
        spark.sparkContext.getConf().get(
            "spark.python.unix.domain.socket.enabled"
        )
        == "true"
    )
    import dart_importer_spark.pydaemon as pdm

    # the daemon wrapper kept the stock manager and patched the worker fn
    assert pdm.manager is not None
    assert pdm._daemon.worker.__name__ == "_freezing_worker"

    df = spark.range(0, 100, 1, 4)

    def double(batches):
        for b in batches:
            yield pd.DataFrame({"v": b["id"] * 2})

    got = sorted(r["v"] for r in df.mapInPandas(double, "v long").collect())
    assert got == [2 * i for i in range(100)]


def test_widen_for_python_scale_adaptive(spark):
    """widen_for_python must widen narrow plans to the session parallelism,
    leave already-wide plans untouched, and never change values."""
    from dart_importer_spark.functions.partitioning import widen_for_python

    par = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 100, 1, 1)
    wide = widen_for_python(narrow, "id")
    assert wide.rdd.getNumPartitions() == par
    assert sorted(r["id"] for r in wide.collect()) == list(range(100))
    # a plan at/above parallelism passes through object-identical
    already = spark.range(0, 100, 1, par)
    assert widen_for_python(already, "id") is already


def test_lit_double_array_bit_exact(spark):
    """The single-expr double-array literal must be bit-identical to the
    classic F.array(F.lit(...)) form, including denormals and -0.0, and
    fall back cleanly for empty/non-finite input."""
    import math
    import struct

    from pyspark.sql import functions as F

    from dart_importer_spark.functions.localrel import lit_double_array

    vec = [1.0, -0.0, 2**-1074, 1e-300, -1e308, 3.141592653589793, 0.1]
    classic = spark.range(1).select(
        F.array(*[F.lit(float(x)) for x in vec]).alias("a")
    ).first()["a"]
    fast = spark.range(1).select(lit_double_array(vec).alias("a")).first()["a"]
    assert [struct.pack("d", x) for x in classic] == [
        struct.pack("d", x) for x in fast
    ]
    assert spark.range(1).select(
        lit_double_array([]).alias("a")
    ).first()["a"] == []
    nan_row = spark.range(1).select(
        lit_double_array([1.0, float("nan")]).alias("a")
    ).first()["a"]
    assert nan_row[0] == 1.0 and math.isnan(nan_row[1])


def test_ppjoin_filters_lossless_vs_unfiltered(spark):
    """The PPJoin positional + length filters added to the AllPairs prefix
    join must be invisible in results: prefix_filter=True (with the new
    filters) and prefix_filter=False (exhaustive inverted join) must emit
    the IDENTICAL pair set at several thresholds, on a corpus mixing sizes,
    near-dups, exact dups, and sub-shingle docs."""
    import random

    from dart_importer_spark.operators import dedup

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(60):
        n = rng.randint(1, 18)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    # planted near-dups and exact dups
    rows.append((100, rows[0][1] + " extra token here"))
    rows.append((101, rows[1][1]))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.3, 0.5, 0.8, 0.95, 0.999999):
        a = {
            (r["a"], r["b"], round(r["jaccard"], 9))
            for r in dedup.ngram_jaccard_pairs(
                docs, threshold=t, prefix_filter=True
            ).collect()
        }
        b = {
            (r["a"], r["b"], round(r["jaccard"], 9))
            for r in dedup.ngram_jaccard_pairs(
                docs, threshold=t, prefix_filter=False
            ).collect()
        }
        assert a == b, f"threshold {t}: prefix+ppjoin diverged"

"""Budget-fallback equivalence: with id_push_budget forced to 0 every
mask/candidate push degrades to its distributed form (anti-join/semi-join
instead of broadcast numpy masks) — results must be identical across the
whole query surface. Plus empty-corpus edges."""

from __future__ import annotations

import pandas as pd
import pytest


@pytest.fixture(scope="module")
def pos_tx_index(spark, transcripts_df, tmp_path_factory):
    """Positional index over the transcripts corpus (phrase/sqs/rescore
    exercise the positional decode under the forced fallback)."""
    from dart_importer_spark.index.build import BuildConfig, build_index
    from dart_importer_spark.query.engine import InvertedIndex

    out = str(tmp_path_factory.mktemp("fbpos") / "idx")
    build_index(
        spark, transcripts_df, out,
        BuildConfig(n_segments=4, n_buckets=8, store_positions=True),
    )
    return InvertedIndex(spark, out)


def _pdf(df) -> pd.DataFrame:
    out = df.toPandas()
    return out.reindex(sorted(out.columns), axis=1)


QUERIES = [
    ("topk_or", lambda ix: ix.topk("the and", k=10, round_scores=6)),
    ("topk_and", lambda ix: ix.topk("the and", k=10, mode="and", round_scores=6)),
    ("topk_mn", lambda ix: ix.topk("the", k=10, must_not="w00042", round_scores=6)),
    ("phrase", lambda ix: ix.match_phrase("the and", k=50)),
    ("sqs", lambda ix: ix.simple_query_string('the "the and" w0004* -w00123', k=10, round_scores=6)),
    ("sig", lambda ix: ix.significant_terms("w00042", k=5)),
    ("msearch", lambda ix: ix.msearch({"a": "the and", "b": "w00042"}, k=5, round_scores=6)),
    ("rescore", lambda ix: ix.rescore("the and", "the and", k=10, window_size=20, round_scores=6)),
]


@pytest.mark.parametrize("name,fn", QUERIES, ids=[n for n, _ in QUERIES])
def test_budget_fallback_equivalence(pos_tx_index, name, fn):
    ix = pos_tx_index
    want = _pdf(fn(ix))
    saved = ix.id_push_budget
    try:
        ix.id_push_budget = 0  # every push falls back to distributed
        got = _pdf(fn(ix))
    finally:
        ix.id_push_budget = saved
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True)
    )


def test_empty_corpus_build_and_query(spark, tmp_path):
    from dart_importer_spark.index.build import BuildConfig, build_index
    from dart_importer_spark.query.engine import InvertedIndex

    empty = spark.createDataFrame(
        [], "conv_id string, turn_idx int, text string"
    )
    out = str(tmp_path / "empty_idx")
    build_index(spark, empty, out, BuildConfig(n_segments=2, n_buckets=4))
    ix = InvertedIndex(spark, out)
    assert ix.count() == 0
    assert ix.topk("anything", k=5).count() == 0
    assert ix.match_all().count() == 0
    assert ix.count_query("anything") == 0


def test_build_on_top_of_empty_index(spark, tmp_path):
    """ES flow: create empty index, then index documents into it — the
    empty build's root-level files must not break partition discovery."""
    from pyspark.sql import functions as F

    from dart_importer_spark.index.build import BuildConfig, build_index
    from dart_importer_spark.query.engine import InvertedIndex

    out = str(tmp_path / "grow_idx")
    empty = spark.createDataFrame([], "conv_id string, turn_idx int, text string")
    build_index(spark, empty, out, BuildConfig(n_segments=2, n_buckets=4))
    assert InvertedIndex(spark, out).count() == 0
    docs = spark.createDataFrame(
        [("c1", 0, "alpha beta"), ("c2", 0, "beta gamma")],
        "conv_id string, turn_idx int, text string",
    )
    build_index(spark, docs, out, BuildConfig(n_segments=2, n_buckets=4))
    ix = InvertedIndex(spark, out)
    assert ix.count() == 2
    assert [r["doc_id"] for r in ix.topk("beta", k=5).collect()] != []


def test_all_skipped_resume_with_missing_meta_preserves_data(spark, tmp_path):
    """A missing meta.json means 'no commit': every segment rebuilds over
    the surviving tables (dynamic partition overwrite), and the healthy
    data is not lost to the empty-build full overwrite (that flag is keyed
    on the input being empty, not on the lineage)."""
    import os

    from dart_importer_spark.index.build import BuildConfig, build_index
    from dart_importer_spark.query.engine import InvertedIndex

    out = str(tmp_path / "repair_idx")
    docs = spark.createDataFrame(
        [("c1", 0, "alpha beta"), ("c2", 0, "beta gamma")],
        "conv_id string, turn_idx int, text string",
    )
    build_index(spark, docs, out, BuildConfig(n_segments=2, n_buckets=4))
    os.remove(os.path.join(out, "meta.json"))
    build_index(spark, docs, out, BuildConfig(n_segments=2, n_buckets=4))
    ix = InvertedIndex(spark, out)
    assert ix.count() == 2
    assert ix.topk("beta", k=5).count() == 2

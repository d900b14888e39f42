"""Checkpoint-resume via per-partition lineage manifests + the input_hint
per-turn text-equality invariant.

The reference's resume logic skips (corp, year) units already present
(import_dart_data.py:543-550) but its lineage index is dead code (:606-625
builds a history dict never indexed). Here manifests are real: these tests
assert (a) a re-run rebuilds nothing, (b) deleting one manifest row rebuilds
exactly that segment, (c) key-monotone appends rebuild only the segments
that received new docs, and (d) doc_id assignment is the stable
(conv_id, turn_idx) rank so per-turn text equality holds end-to-end.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dart_importer_spark.datagen import generate_transcripts
from dart_importer_spark.index.build import BuildConfig, build_index
from dart_importer_spark.query.engine import InvertedIndex

CFG = BuildConfig(n_segments=4, n_buckets=8)


@pytest.fixture(scope="module")
def resume_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("resume") / "idx")
    tr = generate_transcripts(spark, 150)
    m = build_index(spark, tr, out, CFG)
    assert sorted(m["built_segments"]) == [0, 1, 2, 3]
    return out


def test_rerun_skips_everything(spark, resume_dir):
    tr = generate_transcripts(spark, 150)
    m = build_index(spark, tr, resume_dir, CFG)
    assert m["built_segments"] == []
    assert m["skipped_segments"] == [0, 1, 2, 3]


def test_missing_manifest_rebuilds_exactly_that_segment(spark, resume_dir, tmp_path):
    manifests = spark.read.parquet(f"{resume_dir}/manifests").toPandas()
    damaged = manifests[manifests["partition_id"] != 2]
    spark.createDataFrame(damaged).coalesce(1).write.mode("overwrite").parquet(
        f"{resume_dir}/manifests"
    )
    tr = generate_transcripts(spark, 150)
    m = build_index(spark, tr, resume_dir, CFG)
    assert m["built_segments"] == [2]
    assert sorted(m["skipped_segments"]) == [0, 1, 3]


def test_monotone_append_rebuilds_only_touched_segments(spark, tmp_path):
    """Incremental contract: appended conv_ids sort after existing ones
    (time-ordered ingestion), so existing doc_ids are rank-stable and only
    segments that received new conversations rebuild."""
    out = str(tmp_path / "idx")
    build_index(spark, generate_transcripts(spark, 100), out, CFG)
    before = InvertedIndex(spark, out)
    ids_before = {
        (r["conv_id"], r["turn_idx"]): r["doc_id"]
        for r in before.doc_stats().select("conv_id", "turn_idx", "doc_id").collect()
    }

    tr2 = generate_transcripts(spark, 140)  # superset: convs 100..139 are new
    m = build_index(spark, tr2, out, CFG)
    touched = (
        tr2.filter(F.col("conv_id") >= "conv00000100")
        .select(
            F.pmod(F.crc32(F.encode("conv_id", "utf-8")), F.lit(CFG.n_segments))
            .cast("int")
            .alias("seg")
        )
        .distinct()
        .collect()
    )
    assert sorted(m["built_segments"]) == sorted({r["seg"] for r in touched})

    after = InvertedIndex(spark, out)
    assert after.n_docs > before.n_docs
    ids_after = {
        (r["conv_id"], r["turn_idx"]): r["doc_id"]
        for r in after.doc_stats().select("conv_id", "turn_idx", "doc_id").collect()
    }
    for k, v in ids_before.items():
        assert ids_after[k] == v, f"doc_id shifted for {k}"


def test_per_turn_text_equality_invariant(spark, transcripts_df, built_index):
    """input_hint invariant: doc_id is the global rank under stable
    (conv_id, turn_idx) ordering, so joining the index's doc mapping back to
    the source reproduces every turn's text exactly, and sum(tf) per doc
    equals the stored dl (index faithfully represents each turn's tokens)."""
    src = transcripts_df.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    mapping = (
        built_index.doc_stats()
        .select("doc_id", "conv_id", "turn_idx", "dl")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(src) == len(mapping)
    assert (mapping["doc_id"].to_numpy() == range(len(src))).all()
    pd.testing.assert_series_equal(
        mapping["conv_id"], src["conv_id"], check_names=False
    )
    assert (mapping["turn_idx"].to_numpy() == src["turn_idx"].to_numpy()).all()

    # text equality via the pinned tokenizer: dl == token count of the text
    from dart_importer_spark.functions.tokenizer import tokenize_series

    toks = tokenize_series(src["text"])
    assert (mapping["dl"].to_numpy() == toks.str.len().to_numpy()).all()


def test_corrupt_manifests_make_resume_raise(spark, resume_dir, tmp_path):
    """A never-written manifests table means 'no lineage' without a Spark
    read; an unreadable one fails the resume instead of silently
    rebuilding every segment."""
    import os
    import shutil

    from dart_importer_spark.index.build import read_manifests

    assert read_manifests(spark, str(tmp_path)) is None
    out = str(tmp_path / "idx")
    shutil.copytree(resume_dir, out)
    mdir = os.path.join(out, "manifests")
    for name in os.listdir(mdir):
        path = os.path.join(mdir, name)
        if name.endswith(".crc"):
            os.remove(path)
        elif name.endswith(".parquet"):
            with open(path, "wb") as f:
                f.write(b"not a parquet file")
    with pytest.raises(Exception):
        build_index(spark, generate_transcripts(spark, 150), out, CFG)


def test_build_jobs_all_carry_the_callers_job_group(spark, tmp_path):
    """The build's parallel writes run on pool threads; every job they
    submit must still carry the caller's job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    tr = generate_transcripts(spark, 60)
    untagged_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("t6", "job-group attribution test")
    try:
        build_index(spark, tr, str(tmp_path / "idx"), CFG)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert tracker.getJobIdsForGroup("t6")
    assert set(tracker.getJobIdsForGroup(None)) <= untagged_before

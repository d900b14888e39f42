"""The ``meta.json`` commit record: one atomically replaced file holds the
layout, the corpus counters and the lineage of an index.

Kill points: the commit writer raises once (monkeypatched, no process
kill), after every data write of a build, an append or a compaction. The
previous record must keep the index readable and the next run must repair
it. Also pinned: an open runs no Spark job, the job counts of a build, an
append and a compaction, the construct-time job counts of canonical
queries, term-sorted postings and term_dict files, term_dict's statistics
equal to an aggregate of the postings, an append keeps the first build's
``created_ts`` (rollover age), and an index of another ``format_version``
is refused with ``IndexFormatError``.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dart_importer_spark.datagen import TRANSCRIPTS_SCHEMA, generate_transcripts
from dart_importer_spark.index import build as build_mod
from dart_importer_spark.index import merge as merge_mod
from dart_importer_spark.index.aliases import AliasRegistry, rollover
from dart_importer_spark.index.build import BuildConfig, append_index, build_index
from dart_importer_spark.index.commit import IndexFormatError, commit_meta, read_meta
from dart_importer_spark.index.merge import compact_index
from dart_importer_spark.query.engine import InvertedIndex
from dart_importer_spark.streaming import refresh as refresh_mod
from dart_importer_spark.streaming.refresh import incremental_refresh
from tests.oracle import BM25Oracle

CFG = BuildConfig(n_segments=2, n_buckets=4)
SPLIT = "conv00000040"
QUERY = "the and data"
# jobs of one build_index of 40 conversations into 2 segments, of one
# append_index of 20 conversations onto it, and of compacting the result
BUILD_JOBS_MAX = 24
APPEND_JOBS_MAX = 23
COMPACT_JOBS_MAX = 24
# Spark jobs that building each query's DataFrame runs (warm handle), on
# an index of the first 40 conversations with positions: per-term
# statistics come from term_dict without a job; the phrase's jobs collect
# its rarest term's doc ids
QUERY_CONSTRUCT_JOBS_MAX = {
    "topk_one_term": 0,
    "topk_or": 0,
    "match_phrase": 2,
    "query_string": 0,
}


class KillPoint(RuntimeError):
    pass


def fail_once(monkeypatch, module, skip: int = 0) -> None:
    """Make ``module.commit_meta`` raise on its (skip+1)-th call only."""
    real = module.commit_meta
    calls = []

    def commit(*args, **kwargs):
        calls.append(1)
        if len(calls) == skip + 1:
            raise KillPoint("killed at commit")
        return real(*args, **kwargs)

    monkeypatch.setattr(module, "commit_meta", commit)


def top(ix: InvertedIndex) -> list:
    return [tuple(r) for r in ix.topk(QUERY, k=10, round_scores=9).collect()]


def assert_is_full_index(ix: InvertedIndex, oracle: BM25Oracle) -> None:
    """``ix`` serves exactly an uninterrupted build of all of ``tx``."""
    corpus = ix.meta["corpus"][0]
    assert ix.count() == ix.n_docs == corpus["n_docs"] == oracle.n_docs
    assert corpus["total_tokens"] == oracle.dl.sum()
    assert abs(corpus["avgdl"] - oracle.avgdl) < 1e-12
    want = oracle.topk(QUERY, k=10)
    got = top(ix)
    assert [r[0] for r in got] == want["doc_id"].tolist()
    assert max(abs(r[1] - w) for r, w in zip(got, want["score"])) < 1e-6


def jobs_of(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


@pytest.fixture(scope="module")
def tx(spark):
    df = generate_transcripts(spark, 60).persist()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def base_build(spark, tx, tmp_path_factory):
    """An index of the first 40 conversations, built under a job group."""
    out = str(tmp_path_factory.mktemp("commit") / "base")
    _res, jobs = jobs_of(spark, "build-pin", lambda: build_index(
        spark, tx.filter(F.col("conv_id") < SPLIT), out, CFG
    ))
    return out, jobs


@pytest.fixture(scope="module")
def base_dir(base_build):
    return base_build[0]


@pytest.fixture(scope="module")
def oracle(tx):
    src = tx.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    src["doc_id"] = range(len(src))
    return BM25Oracle(src)


@pytest.fixture(scope="module")
def appended(spark, tx, base_dir, tmp_path_factory):
    """A copy of ``base_dir`` with its first build backdated an hour, then
    the last 20 conversations appended under a job group."""
    out = str(tmp_path_factory.mktemp("commit") / "appended")
    shutil.copytree(base_dir, out)
    meta = read_meta(out)
    meta["created_ts"] -= 3600
    commit_meta(out, meta)
    res, jobs = jobs_of(spark, "append-pin", lambda: append_index(
        spark, tx.filter(F.col("conv_id") >= SPLIT), out, batch_tag="t1"
    ))
    return out, meta["created_ts"], res, jobs


@pytest.fixture(scope="module")
def compacted(spark, appended, tmp_path_factory):
    """``appended`` compacted under a job group."""
    out = str(tmp_path_factory.mktemp("commit") / "compacted")
    _res, jobs = jobs_of(spark, "compact-pin", lambda: compact_index(
        spark, appended[0], out
    ))
    return out, jobs


def test_build_and_compact_job_counts_are_pinned(spark, base_build, compacted, oracle):
    assert 0 < len(base_build[1]) <= BUILD_JOBS_MAX, len(base_build[1])
    out, jobs = compacted
    assert 0 < len(jobs) <= COMPACT_JOBS_MAX, len(jobs)
    assert_is_full_index(InvertedIndex(spark, out), oracle)


def test_term_dict_statistics_equal_the_postings_aggregate(spark, base_dir, appended, compacted):
    """term_dict's (field, term, df, max_tf, min_dl) after a build, an
    append and a compaction is exactly the aggregate of that index's
    postings that queries used to compute."""
    for idx in (base_dir, appended[0], compacted[0]):
        post = (
            spark.read.parquet(os.path.join(idx, "postings"))
            .groupBy("field", "term")
            .agg(
                F.sum("n").alias("df"),
                F.max(F.array_max("block_max_tf")).alias("max_tf"),
                F.min(F.array_min("block_min_dl")).alias("min_dl"),
            )
        )
        td = spark.read.parquet(os.path.join(idx, "term_dict")).select(
            "field", "term", "df", "max_tf", "min_dl"
        )
        assert td.count() == post.count() > 0, idx
        assert td.exceptAll(post).count() == 0, idx
        assert post.exceptAll(td).count() == 0, idx


@pytest.fixture(scope="module")
def positions_ix(spark, tx, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("commit") / "positions")
    build_index(
        spark, tx.filter(F.col("conv_id") < SPLIT), out,
        BuildConfig(n_segments=2, n_buckets=4, store_positions=True),
    )
    return InvertedIndex(spark, out)


def test_query_construct_job_counts_are_pinned(spark, positions_ix):
    ix = positions_ix
    queries = {
        "topk_one_term": lambda: ix.topk("the", 10),
        "topk_or": lambda: ix.topk("the and data", 10),
        "match_phrase": lambda: ix.match_phrase("of the", 10),
        "query_string": lambda: ix.query_string(
            "(the AND and) OR (data AND NOT of)", 10
        ),
    }
    for name, build in queries.items():
        build()  # warm: the handle resolves its table readers once
        df, jobs = jobs_of(spark, f"query-pin-{name}", build)
        assert len(jobs) <= QUERY_CONSTRUCT_JOBS_MAX[name], (name, len(jobs))
        assert df.count() == 10, name


def test_postings_and_term_dict_files_are_term_sorted(base_dir, appended, compacted):
    """Every postings and term_dict file that a build, an append and a
    compaction wrote holds its rows in term order, so parquet row-group
    min/max stats on ``term`` can skip row groups."""
    n_files = 0
    for idx in (base_dir, appended[0], compacted[0]):
        assert "term_seg_df" not in os.listdir(idx)
        for table in ("postings", "term_dict"):
            for root, _dirs, files in os.walk(os.path.join(idx, table)):
                for f in (f for f in files if f.endswith(".parquet")):
                    path = os.path.join(root, f)
                    terms = pq.read_table(path, columns=["term"])["term"].to_pylist()
                    assert terms == sorted(terms), path
                    n_files += 1
    assert n_files > 20


def test_open_runs_no_spark_job(spark, base_dir):
    ix, jobs = jobs_of(spark, "open-pin", lambda: InvertedIndex(spark, base_dir))
    assert jobs == []
    assert ix.n_docs == read_meta(base_dir)["corpus"][0]["n_docs"] > 0


def test_append_commits_once_with_pinned_job_count(spark, tx, appended, oracle):
    out, _created, res, jobs = appended
    assert 0 < len(jobs) <= APPEND_JOBS_MAX, len(jobs)
    assert read_meta(out)["lineage"]["append-t1"]["status"] == "committed"
    assert res["n_docs"] == oracle.n_docs
    assert_is_full_index(InvertedIndex(spark, out), oracle)
    assert not {"manifests", "corpus_stats", "term_seg_df"} & set(os.listdir(out))
    # the append's doc_stats files are clustered by seg like a build's
    for seg in ("seg=0", "seg=1"):
        files = [f for f in os.listdir(os.path.join(out, "doc_stats", seg))
                 if f.endswith(".parquet")]
        assert len(files) == 2, files  # one from the build, one appended
    # XOR-combined lineage fingerprints: a resume skips every segment
    assert build_index(spark, tx, out, CFG)["built_segments"] == []


def test_append_keeps_created_ts_for_rollover_age(spark, appended, tmp_path):
    out, created, _res, _jobs = appended
    assert read_meta(out)["created_ts"] == created
    reg = AliasRegistry(str(tmp_path / "aliases.json"))
    reg.put("w", out, is_write_index=True)
    res = rollover(spark, reg, "w", str(tmp_path / "next"),
                   max_age_seconds=1800, dry_run=True)
    # meta.json was just rewritten by the append; the age is still an hour
    assert res["conditions"] == {"[max_age: 1800s]": True}


def test_build_killed_before_commit_resumes(spark, tx, base_dir, oracle, tmp_path, monkeypatch):
    out = str(tmp_path / "idx")
    shutil.copytree(base_dir, out)
    before = read_meta(out)
    fail_once(monkeypatch, build_mod)
    with pytest.raises(KillPoint):
        build_index(spark, tx, out, CFG)
    assert read_meta(out) == before  # the last commit still stands
    assert build_index(spark, tx, out, CFG)["built_segments"]
    assert_is_full_index(InvertedIndex(spark, out), oracle)
    assert build_index(spark, tx, out, CFG)["built_segments"] == []


def test_append_killed_before_commit_is_torn_and_repaired(spark, tx, oracle, tmp_path, monkeypatch):
    landing, idx = str(tmp_path / "landing"), str(tmp_path / "idx")
    first = tx.filter(F.col("conv_id") < SPLIT)
    second = tx.filter(F.col("conv_id") >= SPLIT)
    first.coalesce(1).write.parquet(landing)
    incremental_refresh(spark, landing, idx, TRANSCRIPTS_SCHEMA, CFG)

    fail_once(monkeypatch, build_mod, skip=1)  # pending commits, final dies
    with pytest.raises(KillPoint):
        append_index(spark, second, idx, batch_tag="killed")
    monkeypatch.undo()
    meta = read_meta(idx)
    assert meta["lineage"]["append-killed"]["status"] == "pending"
    assert refresh_mod._append_state(meta, "next") == "torn"

    second.coalesce(1).write.mode("append").parquet(landing)
    m = incremental_refresh(spark, landing, idx, TRANSCRIPTS_SCHEMA, CFG)
    assert [r["mode"] for r in m] == ["torn_repair_rebuild"]
    assert "append-killed" in m[0]["repaired_append_tags"]
    assert refresh_mod._append_state(read_meta(idx), "next") == "clean"
    assert_is_full_index(InvertedIndex(spark, idx), oracle)


def test_compact_killed_before_commit_leaves_source_serving(spark, base_dir, tmp_path, monkeypatch):
    out = str(tmp_path / "compacted")
    want = top(InvertedIndex(spark, base_dir))
    fail_once(monkeypatch, merge_mod)
    with pytest.raises(KillPoint):
        compact_index(spark, base_dir, out)
    assert os.path.isdir(os.path.join(out, "postings"))  # data was written
    with pytest.raises(FileNotFoundError):
        InvertedIndex(spark, out)  # ... but never committed
    assert top(InvertedIndex(spark, base_dir)) == want


def test_old_format_is_refused(spark, tx, base_dir, tmp_path):
    old = str(tmp_path / "old")
    shutil.copytree(base_dir, old)
    meta = read_meta(old)
    del meta["format_version"]
    with open(os.path.join(old, "meta.json"), "w") as f:
        json.dump(meta, f)
    with pytest.raises(IndexFormatError):
        InvertedIndex(spark, old)
    with pytest.raises(IndexFormatError):
        append_index(spark, tx, old)
    with pytest.raises(IndexFormatError):
        compact_index(spark, old, str(tmp_path / "c"))
    with pytest.raises(ValueError, match="format_version"):
        build_index(spark, tx, old, CFG)
    # version 1 term_dicts lack max_tf/min_dl: no reader opens them
    meta["format_version"] = 1
    with open(os.path.join(old, "meta.json"), "w") as f:
        json.dump(meta, f)
    with pytest.raises(IndexFormatError, match="format_version 1"):
        InvertedIndex(spark, old)


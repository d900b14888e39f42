"""Compaction (sorted merge) + delete_by_query tombstone semantics.

Mirrors what the reference gets from Lucene background merges and ES
delete_by_query (reference import_dart_data.py:470-477), rebuilt natively:
compaction must be invisible to query results, deletes must be visible
immediately and physically applied at the next compaction.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from dart_importer_spark.index.merge import compact_index
from dart_importer_spark.query.engine import InvertedIndex

QUERIES = ["the and of", "삼성 전자", "zq0marker", "w00042 w00123"]


def _topk_rows(ix, q, **kw):
    return [(r["doc_id"], round(r["score"], 9)) for r in ix.topk(q, k=25, **kw).collect()]


@pytest.fixture(scope="module")
def compacted(spark, built_index, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("compact") / "idx")
    metrics = compact_index(spark, built_index.dir, out)
    assert metrics["n_docs"] == built_index.n_docs
    return InvertedIndex(spark, out)


def test_compaction_rank_identical(built_index, compacted):
    for q in QUERIES:
        assert _topk_rows(built_index, q) == _topk_rows(compacted, q), q
    assert _topk_rows(built_index, "the w00042", mode="and") == _topk_rows(
        compacted, "the w00042", mode="and"
    )


def test_compaction_reduces_runs(spark, built_index, compacted):
    orig = spark.read.parquet(f"{built_index.dir}/postings")
    comp = spark.read.parquet(f"{compacted.dir}/postings")
    # every term collapses to ceil(df/target_run) runs; with 4 segments the
    # uncompacted index has >= 1 run per (seg, term) it appears in
    o = orig.groupBy("term").count().agg(F.avg("count")).collect()[0][0]
    c = comp.groupBy("term").count().agg(F.avg("count")).collect()[0][0]
    assert c <= o
    assert comp.agg(F.sum("n")).collect()[0][0] == orig.agg(F.sum("n")).collect()[0][0]
    # stats preserved
    assert compacted.n_docs == built_index.n_docs
    assert abs(compacted.avgdl - built_index.avgdl) < 1e-9


@pytest.fixture()
def mutable_index(spark, built_index, tmp_path):
    dst = str(tmp_path / "mut_idx")
    shutil.copytree(built_index.dir, dst)
    return InvertedIndex(spark, dst)


def test_delete_by_query_tombstones(spark, mutable_index, tmp_path):
    ix = mutable_index
    n0 = ix.count()
    n_tool = ix.count(F.col("role") == "tool")
    assert n_tool > 0
    deleted = ix.delete_by_query(F.col("role") == "tool")
    assert deleted == n_tool
    # immediate visibility: counts, match_all, get_by_key, topk
    assert ix.count() == n0 - n_tool
    assert ix.match_all().filter(F.col("role") == "tool").count() == 0
    dead = {r["doc_id"] for r in spark.read.parquet(f"{ix.dir}/tombstones").collect()}
    for q in QUERIES:
        hits = {r["doc_id"] for r in ix.topk(q, k=50).collect()}
        assert not hits & dead, q
    # idempotent-ish: deleting again matches nothing new
    assert ix.delete_by_query(F.col("role") == "tool") == 0

    # compaction physically drops tombstones and republishes stats
    out = str(tmp_path / "compacted_after_delete")
    metrics = compact_index(spark, ix.dir, out)
    assert metrics["n_tombstones_dropped"] == n_tool
    cx = InvertedIndex(spark, out)
    assert cx.n_docs == n0 - n_tool
    assert cx._tombstones() is None
    post = spark.read.parquet(f"{out}/postings")
    # no posting references a dead doc: decode-level check via doc_stats join
    live = {r["doc_id"] for r in cx.doc_stats().select("doc_id").collect()}
    assert not live & dead
    # df republished: total postings shrank
    orig_post = spark.read.parquet(f"{ix.dir}/postings")
    assert (
        post.agg(F.sum("n")).collect()[0][0]
        < orig_post.agg(F.sum("n")).collect()[0][0]
    )


def test_delete_then_query_matches_filtered_original(built_index, mutable_index):
    """Deleting role='tool' then querying must equal the ORIGINAL index
    queried with a role!='tool' filter (scores unchanged: stale-stats
    model, exactly Lucene's deletes-before-merge behavior)."""
    ix = mutable_index
    ix.delete_by_query(F.col("role") == "tool")
    for q in ["the and of", "삼성 전자"]:
        got = _topk_rows(ix, q)
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in built_index.topk(
                q, k=25, filters=F.col("role") != "tool"
            ).collect()
        ]
        assert got == want, q


def test_compact_refuses_in_place(spark, mutable_index):
    with pytest.raises(ValueError, match="out_dir"):
        compact_index(spark, mutable_index.dir, mutable_index.dir)


def test_compaction_oversized_tombstones_anti_join_path(
    spark, mutable_index, tmp_path
):
    """Above the broadcast budget compaction switches to the exploded
    anti-join path; results must be identical to the broadcast path."""
    ix = mutable_index
    n_tool = ix.delete_by_query(F.col("role") == "tool")
    out_aj = str(tmp_path / "compact_aj")
    m = compact_index(spark, ix.dir, out_aj, tomb_broadcast_limit=1)
    assert m["n_tombstones_dropped"] == n_tool
    out_bc = str(tmp_path / "compact_bc")
    compact_index(spark, ix.dir, out_bc)
    a, b = InvertedIndex(spark, out_aj), InvertedIndex(spark, out_bc)
    assert a.n_docs == b.n_docs
    for q in QUERIES:
        assert _topk_rows(a, q) == _topk_rows(b, q), q


def test_point_in_time_pins_deletes(spark, built_index, tmp_path):
    """ES PIT + search_after: a snapshot opened before a delete keeps
    returning the deleted docs (consistent deep pagination), while the
    live index drops them immediately; compaction expires the PIT with
    an explicit error."""
    import os

    dst = str(tmp_path / "pit_idx")
    shutil.copytree(built_index.dir, dst)
    ix = InvertedIndex(spark, dst)

    pit0 = ix.open_pit()           # before any delete: no tombstone files
    n0 = ix.count()
    n_tool = ix.delete_by_query(F.col("role") == "tool")
    assert n_tool > 0

    snap = ix.with_pit(pit0)
    assert snap.count() == n0                      # snapshot: pre-delete view
    assert ix.count() == n0 - n_tool               # live: post-delete view
    assert snap.match_all().filter(F.col("role") == "tool").count() == n_tool

    # a PIT opened AFTER the delete sees the delete, and pins out any
    # further deletes
    pit1 = ix.open_pit()
    assert len(pit1["tombstone_files"]) > 0
    snap1 = ix.with_pit(pit1)
    more = ix.delete_by_query(F.col("role") == "user")
    assert more > 0
    assert snap1.count() == n0 - n_tool
    assert ix.count() == n0 - n_tool - more

    # expiry: dropping a snapshot's tombstone file (what compaction does)
    # must raise an explicit 'expired' error, never silently resurrect
    os.remove(pit1["tombstone_files"][0])
    with pytest.raises(RuntimeError, match="expired"):
        snap1.count()
    # the empty-snapshot PIT (pit0) is unaffected by tombstone drops
    assert snap.count() == n0


def test_pit_in_search_body(spark, built_index, tmp_path):
    """The ES body form: {"pit": {"id": <open_pit() dict>}} pins the
    search view through the DSL dispatcher."""
    from dart_importer_spark.query.dsl import DslError, search

    dst = str(tmp_path / "pit_dsl_idx")
    shutil.copytree(built_index.dir, dst)
    ix = InvertedIndex(spark, dst)
    pit = ix.open_pit()
    before = {
        r["doc_id"] for r in search(ix, {
            "query": {"term": {"role": "tool"}}, "size": 10000,
        }).collect()
    }
    assert before
    ix.delete_by_query(F.col("role") == "tool")
    body = {"query": {"term": {"role": "tool"}}, "size": 10000}
    assert search(ix, body).count() == 0
    pinned = search(ix, {**body, "pit": {"id": pit}})
    assert {r["doc_id"] for r in pinned.collect()} == before
    with pytest.raises(DslError, match="pit"):
        search(ix, {**body, "pit": {"id": "not-a-snapshot"}})


def _corrupt_parquet_files(table_dir, first_only=False):
    """Overwrite a table's parquet data files with junk (and drop their
    checksum sidecars, so the parquet reader itself sees the junk)."""
    import os

    names = sorted(f for f in os.listdir(table_dir) if f.endswith(".parquet"))
    assert names
    for name in names[:1] if first_only else names:
        with open(os.path.join(table_dir, name), "wb") as f:
            f.write(b"not a parquet file")
        crc = os.path.join(table_dir, f".{name}.crc")
        if os.path.exists(crc):
            os.remove(crc)


def test_corrupt_tombstone_file_raises(spark, mutable_index, tmp_path):
    """An unreadable tombstone file must fail the query and the compaction
    instead of reading as 'no deletes' and resurrecting the deleted doc."""
    import os

    ix = mutable_index
    victim = ix.topk("the and of", k=1).collect()[0]["doc_id"]
    assert ix.delete_by_query(F.col("doc_id") == victim) == 1
    tdir = os.path.join(ix.dir, "tombstones")
    _corrupt_parquet_files(tdir, first_only=True)
    with pytest.raises(Exception):
        ix.topk("the and of", k=25).collect()
    with pytest.raises(Exception):
        compact_index(spark, ix.dir, str(tmp_path / "compacted"))
    # absent and empty tombstone directories still mean "no deletes"
    shutil.rmtree(tdir)
    assert ix._tombstones() is None
    os.makedirs(tdir)
    assert ix._tombstones() is None

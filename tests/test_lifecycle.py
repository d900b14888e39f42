"""Index lifecycle edge cases (round-3 ADVICE items): doc_id assignment
after delete -> compact -> append, layout-config guards on resume,
torn-append repair permanence, and multi-get input validation."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dart_importer_spark.datagen import TRANSCRIPTS_SCHEMA, generate_transcripts
from dart_importer_spark.index.build import BuildConfig, append_index, build_index
from dart_importer_spark.index.commit import commit_meta, lineage_entry, read_meta
from dart_importer_spark.index.merge import compact_index
from dart_importer_spark.query.engine import InvertedIndex
from dart_importer_spark.streaming.refresh import incremental_refresh

CFG = BuildConfig(n_segments=4, n_buckets=8)


def test_delete_compact_append_no_doc_id_collision(spark, tmp_path):
    """ADVICE r02 (high): after compaction drops tombstoned rows, doc_ids are
    sparse (count < max+1); the next append must base new ids on max+1, not
    count(*), or two documents silently merge under one id."""
    all_tr = generate_transcripts(spark, 40).persist()
    first = all_tr.filter(F.col("conv_id") < "conv00000030")
    second = all_tr.filter(F.col("conv_id") >= "conv00000030")

    idx = str(tmp_path / "idx")
    build_index(spark, first, idx, CFG)
    ix = InvertedIndex(spark, idx)
    n_deleted = ix.delete_by_query(F.col("conv_id") < "conv00000005")
    assert n_deleted > 0

    compacted = str(tmp_path / "compacted")
    compact_index(spark, idx, compacted)

    m = append_index(spark, second, compacted, batch_tag="post-compact")
    assert m["appended_docs"] == second.count()

    ds = spark.read.parquet(f"{compacted}/doc_stats")
    total = ds.count()
    assert ds.select("doc_id").distinct().count() == total  # no collisions
    # every appended doc is individually retrievable (ids did not merge)
    ix2 = InvertedIndex(spark, compacted)
    probe = second.select("conv_id", "turn_idx").limit(3).collect()
    for r in probe:
        hits = ix2.get_by_key(r["conv_id"], r["turn_idx"]).collect()
        assert len(hits) == 1, (r, hits)
    all_tr.unpersist()


def test_build_rejects_layout_config_change_without_force(spark, tmp_path):
    """ADVICE r02: resuming into an index built under a different layout
    (store_positions / n_segments / fields) must not silently mix layouts."""
    tr = generate_transcripts(spark, 20)
    idx = str(tmp_path / "idx")
    build_index(spark, tr, idx, BuildConfig(n_segments=4, n_buckets=8))

    with pytest.raises(ValueError, match="layout config changed"):
        build_index(
            spark, tr, idx,
            BuildConfig(n_segments=4, n_buckets=8, store_positions=True),
        )
    with pytest.raises(ValueError, match="n_segments"):
        build_index(spark, tr, idx, BuildConfig(n_segments=2, n_buckets=8))


def test_forced_layout_change_wipes_stale_partitions(spark, tmp_path):
    """Shrinking n_segments with force=True must not leave orphan seg=...
    directories from the old layout (dynamic overwrite never touches them)."""
    tr = generate_transcripts(spark, 20)
    idx = str(tmp_path / "idx")
    build_index(spark, tr, idx, BuildConfig(n_segments=4, n_buckets=8))
    old_segs = {
        int(r["seg"])
        for r in spark.read.parquet(f"{idx}/doc_stats").select("seg").distinct().collect()
    }
    assert len(old_segs) > 2

    build_index(spark, tr, idx, BuildConfig(n_segments=2, n_buckets=8), force=True)
    ds = spark.read.parquet(f"{idx}/doc_stats")
    segs = {int(r["seg"]) for r in ds.select("seg").distinct().collect()}
    assert segs <= {0, 1}
    assert ds.count() == tr.count()  # not doubled by stale partitions
    ix = InvertedIndex(spark, idx)
    assert ix.n_docs == tr.count()
    assert len(ix.topk("the and", k=5).collect()) > 0


def test_torn_append_repair_is_permanent(spark, tmp_path):
    """ADVICE r02: one torn append must cost ONE repair rebuild, after which
    the stream returns to O(batch) appends — not rebuild-forever."""
    landing = str(tmp_path / "landing")
    idx = str(tmp_path / "idx")
    all_tr = generate_transcripts(spark, 60).persist()
    b1 = all_tr.filter(F.col("conv_id") < "conv00000020")
    b2 = all_tr.filter(
        (F.col("conv_id") >= "conv00000020") & (F.col("conv_id") < "conv00000040")
    )
    b3 = all_tr.filter(F.col("conv_id") >= "conv00000040")

    b1.coalesce(1).write.mode("append").parquet(landing)
    m1 = incremental_refresh(spark, landing, idx, TRANSCRIPTS_SCHEMA, CFG)
    assert [m["mode"] for m in m1] == ["initial_build"]

    # simulate a crash mid-append: a pending tag that never got committed
    meta = read_meta(idx)
    meta["lineage"]["append-torn0001"] = lineage_entry(
        "append-torn0001", -2, "pending", n_docs=5
    )
    commit_meta(idx, meta)

    b2.coalesce(1).write.mode("append").parquet(landing)
    m2 = incremental_refresh(spark, landing, idx, TRANSCRIPTS_SCHEMA, CFG)
    assert [m["mode"] for m in m2] == ["torn_repair_rebuild"]
    assert "append-torn0001" in m2[0]["repaired_append_tags"]

    # the decisive assertion: the NEXT batch appends in O(batch) again
    b3.coalesce(1).write.mode("append").parquet(landing)
    m3 = incremental_refresh(spark, landing, idx, TRANSCRIPTS_SCHEMA, CFG)
    assert [m["mode"] for m in m3] == ["append"]
    assert m3[0]["appended_docs"] == b3.count()

    ix = InvertedIndex(spark, idx)
    assert ix.n_docs == all_tr.count()
    all_tr.unpersist()


def test_get_by_keys_empty_and_mixed_arity(spark, built_index):
    assert built_index.get_by_keys([]).count() == 0
    with pytest.raises(ValueError, match="mixed key arities"):
        built_index.get_by_keys([("conv00000001", 0), ("conv00000002",)])
    with pytest.raises(ValueError, match="arity"):
        built_index.get_by_keys([("conv00000001", 0, "extra")])
    rows = built_index.get_by_keys([("conv00000001",)]).collect()
    assert {r["conv_id"] for r in rows} == {"conv00000001"}


def test_empty_build_refuses_to_overwrite_live_tables(spark, tmp_path):
    """meta.json gone but data tables intact: an empty-input build must
    refuse the non-partitioned (= full) overwrite instead of destroying
    the index (force=True is the explicit escape hatch)."""
    import os

    from dart_importer_spark.index.build import BuildConfig, build_index

    rows = [("c1", 0, "alpha beta"), ("c1", 1, "gamma")]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = str(tmp_path / "idx")
    build_index(spark, df, out, BuildConfig(n_segments=2, n_buckets=4))
    os.remove(os.path.join(out, "meta.json"))
    empty = spark.createDataFrame([], "conv_id string, turn_idx int, text string")
    with pytest.raises(ValueError, match="refusing to overwrite"):
        build_index(spark, empty, out, BuildConfig(n_segments=2, n_buckets=4))
    # the data tables survived the refused attempt
    assert spark.read.parquet(f"{out}/doc_stats").count() == 2


def test_reindex_rebuilds_live_docs(spark, tmp_path):
    from dart_importer_spark.index.merge import reindex_index

    tx = generate_transcripts(spark, 30)
    src = str(tmp_path / "re_src")
    build_index(
        spark, tx, src, BuildConfig(n_segments=2, n_buckets=4),
        meta_cols=("role", "tool", "ts", "text"),
    )
    ix = InvertedIndex(spark, src)
    ix.delete_by_query(F.col("role") == "tool")
    live = ix.count()

    out = str(tmp_path / "re_out")
    m = reindex_index(spark, src, out)
    assert m["n_docs"] == live
    ix2 = InvertedIndex(spark, out)
    assert ix2.count() == live
    # rank-identical on the live corpus (reindex = re-analysis, no
    # drift); doc ids are reassigned densely, so compare by stable keys
    am = [(r["conv_id"], r["turn_idx"])
          for r in ix.topk("the and", k=10, with_meta=True)
          .select("conv_id", "turn_idx").collect()]
    bm = [(r["conv_id"], r["turn_idx"])
          for r in ix2.topk("the and", k=10, with_meta=True)
          .select("conv_id", "turn_idx").collect()]
    assert am == bm

    # reindex-with-query: only assistant turns survive
    out2 = str(tmp_path / "re_out2")
    reindex_index(spark, src, out2, where=F.col("role") == "assistant")
    ix3 = InvertedIndex(spark, out2)
    assert 0 < ix3.count() < live

    # new layout on the way through
    from dart_importer_spark.index.merge import reindex_index as ri
    out3 = str(tmp_path / "re_out3")
    ri(spark, src, out3,
       config=BuildConfig(n_segments=3, n_buckets=2))
    assert InvertedIndex(spark, out3).meta["n_segments"] == 3

    # refuses without the stored text source
    bare = str(tmp_path / "re_bare")
    build_index(spark, tx, bare, BuildConfig(n_segments=2, n_buckets=4),
                meta_cols=("role",))
    with pytest.raises(ValueError, match="stored"):
        reindex_index(spark, bare, str(tmp_path / "re_never"))
    with pytest.raises(ValueError, match="differ"):
        reindex_index(spark, src, src)

    # CLI wrapper: new layout via flags
    from dart_importer_spark.cli import main
    out4 = str(tmp_path / "re_out4")
    assert main(["reindex", "--index", src, "--out", out4,
                 "--segments", "2", "--where", "role = 'user'"]) == 0
    assert InvertedIndex(spark, out4).count() > 0


def test_update_by_query_copy_on_write(spark, tmp_path):
    """ES _update_by_query over immutable segments: copy-on-write into a
    new epoch — every live doc survives, matches are rewritten by a
    {column: SQL expression} script, `updated` reports the match count,
    and rewriting an ANALYZED field re-analyzes it (the new token is
    searchable in the new epoch)."""
    from dart_importer_spark.index.merge import (
        reindex_index,
        update_by_query_index,
    )

    tx = generate_transcripts(spark, 30)
    src = str(tmp_path / "ub_src")
    build_index(spark, tx, src, BuildConfig(n_segments=2, n_buckets=4),
                meta_cols=("role", "tool", "ts", "text"))
    ix = InvertedIndex(spark, src)
    total = ix.count()
    n_user = ix.match_docs(filters=F.col("role") == "user").count()

    # filterish body -> pure scan-predicate path; meta-column rewrite
    out = str(tmp_path / "ub_out")
    m = update_by_query_index(
        spark, src, out,
        body={"query": {"term": {"role": "user"}}},
        script={"tool": "'rewritten'"},
    )
    assert m["updated"] == n_user > 0 and m["n_docs"] == total
    ds = InvertedIndex(spark, out).doc_stats()
    assert ds.filter((F.col("role") == "user")
                     & (F.col("tool") != "rewritten")).count() == 0
    assert ds.filter((F.col("role") != "user")
                     & (F.col("tool") == "rewritten")).count() == 0

    # text-query body -> doc-id semi-join path; rewriting the analyzed
    # field re-analyzes: the injected token is searchable afterwards
    out2 = str(tmp_path / "ub_out2")
    matched = ix.match_docs("the").count()
    m2 = update_by_query_index(
        spark, src, out2,
        body={"query": {"match": {"text": "the"}}},
        script={"text": "concat(text, ' zzupdated')"},
    )
    assert m2["updated"] == matched > 0 and m2["n_docs"] == total
    ix2 = InvertedIndex(spark, out2)
    assert ix2.count_query("zzupdated") == matched
    # untouched docs kept their text verbatim
    assert ix2.doc_stats().filter(
        F.col("text").contains("zzupdated")).count() == matched

    # ES _reindex script: applies to EVERY surviving doc (with-query)
    out3 = str(tmp_path / "ub_out3")
    reindex_index(spark, src, out3,
                  body={"query": {"term": {"role": "user"}}},
                  script={"tool": "upper(coalesce(tool, 'none'))"})
    ds3 = InvertedIndex(spark, out3).doc_stats()
    assert ds3.count() == n_user
    assert ds3.filter(F.col("tool") != F.upper(F.col("tool"))).count() == 0

    # refusals: key columns are immutable, unknown columns refuse,
    # in-place updates refuse (immutable segments)
    with pytest.raises(ValueError, match="doc-key"):
        update_by_query_index(spark, src, str(tmp_path / "nv"),
                              None, {"conv_id": "'x'"})
    with pytest.raises(ValueError, match="not a stored column"):
        update_by_query_index(spark, src, str(tmp_path / "nv2"),
                              None, {"nope": "1"})
    with pytest.raises(ValueError, match="differ"):
        update_by_query_index(spark, src, src, None, {"tool": "'x'"})

    # CLI round-trip
    from dart_importer_spark.cli import main
    out4 = str(tmp_path / "ub_cli")
    assert main(["update-by-query", "--index", src, "--out", out4,
                 "--body", '{"query": {"term": {"role": "user"}}}',
                 "--script", '{"tool": "\'cli\'"}']) == 0
    assert InvertedIndex(spark, out4).doc_stats().filter(
        F.col("tool") == "cli").count() == n_user

"""Codec round-trip properties — the analogue of the reference's round-trip
persistence test (reference test.py:83-101, TestDFM save/load)."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dart_importer_spark.functions.codec import (
    decode_runs,
    delta_decode,
    delta_encode,
    varbyte_decode,
    varbyte_encode,
)
from dart_importer_spark.index.build import (
    BLOCK_SIZE,
    bucket_col,
    bucket_of,
    pack_runs_bulk,
)


def test_varbyte_empty():
    assert varbyte_encode(np.array([], dtype=np.uint64)) == b""
    assert varbyte_decode(b"").size == 0


def test_varbyte_known_values():
    vals = np.array([0, 1, 127, 128, 129, 16383, 16384, 2**32, 2**63 - 1], dtype=np.uint64)
    enc = varbyte_encode(vals)
    assert np.array_equal(varbyte_decode(enc), vals)
    # 0..127 take 1 byte; 128..16383 take 2
    assert len(varbyte_encode(np.array([5], dtype=np.uint64))) == 1
    assert len(varbyte_encode(np.array([200], dtype=np.uint64))) == 2


@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**62), min_size=0, max_size=500)
)
def test_varbyte_roundtrip(xs):
    arr = np.array(xs, dtype=np.uint64)
    assert np.array_equal(varbyte_decode(varbyte_encode(arr)), arr)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=500)
)
def test_delta_roundtrip_sorted(xs):
    arr = np.unique(np.array(xs, dtype=np.uint64))
    assert np.array_equal(delta_decode(delta_encode(arr)), arr)


def test_delta_compression_ratio():
    # dense ascending ids should compress to ~1 byte per id
    arr = np.arange(10_000, dtype=np.uint64) + 5_000_000
    enc = delta_encode(arr)
    assert len(enc) < 10_000 + 10  # 1 byte/gap + first value


@st.composite
def _run_batches(draw):
    """A batch of posting-run rows packed by ``pack_runs_bulk``: several
    terms, single-posting runs, runs longer than BLOCK_SIZE, and a poss
    stream that is either present for every run or empty (positionless
    index). Returns (runs DataFrame, flat docs, tfs, dls)."""
    sizes = draw(
        st.lists(
            st.one_of(st.just(1), st.integers(1, 3 * BLOCK_SIZE)),
            min_size=1,
            max_size=8,
        )
    )
    terms = draw(
        st.lists(st.sampled_from("abc"), min_size=len(sizes), max_size=len(sizes))
    )
    with_pos = draw(st.booleans())
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    docs = []
    for size in sizes:
        gaps = rng.integers(1, 2**20, size)
        gaps[0] = rng.integers(0, 2**40)
        docs.append(np.cumsum(gaps))
    docs = np.concatenate(docs)
    tfs = rng.integers(1, 6, docs.size)
    dls = rng.integers(1, 1 << int(rng.integers(4, 32)), docs.size)
    ends = np.cumsum(sizes)
    starts = ends - np.asarray(sizes)
    pos = rng.integers(0, 10_000, int(tfs.sum())) if with_pos else None
    got_starts, fields = pack_runs_bulk(
        (np.repeat(np.arange(len(sizes)), sizes),), docs, tfs, dls, 1 << 17, pos
    )
    assert np.array_equal(got_starts, starts)
    runs = pd.DataFrame(
        {
            "term": terms,
            "n": fields["n"],
            "docs": fields["docs"],
            "tfs": fields["tfs"],
            "dls": fields["dls"],
            "poss": fields["poss"],
            "block_max_tf": [np.asarray(b) for b in fields["block_max_tf"]],
            "block_min_dl": [np.asarray(b) for b in fields["block_min_dl"]],
        }
    )
    return runs, docs, tfs, dls


def _per_run_reference(runs: pd.DataFrame) -> dict:
    """The one-run-at-a-time decode that ``decode_runs`` replaces."""
    out = {c: [] for c in ("run", "doc_id", "tf", "dl", "pos")}
    for i, r in enumerate(runs.itertuples(index=False)):
        ids = delta_decode(r.docs).astype(np.int64)
        out["run"].append(np.full(ids.size, i, dtype=np.int64))
        out["doc_id"].append(ids)
        out["tf"].append(varbyte_decode(r.tfs).astype(np.int64))
        out["dl"].append(varbyte_decode(r.dls).astype(np.int64))
        out["pos"].append(varbyte_decode(r.poss).astype(np.int64))
    return {c: np.concatenate(v) for c, v in out.items()}


@settings(max_examples=40, deadline=None)
@given(_run_batches())
def test_decode_runs_equals_per_run_decode(batch):
    runs, docs, tfs, dls = batch
    ref = _per_run_reference(runs)
    dec = decode_runs(runs)
    assert sorted(dec) == sorted(ref)
    for c in ref:
        assert dec[c].dtype == np.int64
        assert np.array_equal(dec[c], ref[c]), c
    assert np.array_equal(dec["doc_id"], docs)
    assert np.array_equal(dec["tf"], tfs)
    assert np.array_equal(dec["dl"], dls)
    # the decoded streams follow the columns the caller selected
    only_ids = decode_runs(runs[["term", "n", "docs"]])
    assert sorted(only_ids) == ["doc_id", "run"]
    assert np.array_equal(only_ids["doc_id"], ref["doc_id"])


@settings(max_examples=40, deadline=None)
@given(_run_batches(), st.integers(0, 2**32 - 1))
def test_decode_masked_equals_per_run_masks(batch, seed):
    from dart_importer_spark.query.engine import _decode_masked

    runs, docs, _, _ = batch
    rng = np.random.default_rng(seed)
    stray = rng.integers(0, 2**41, 5)  # ids that occur in no run
    dead = np.unique(np.concatenate([rng.choice(docs, docs.size // 3), stray]))
    allowed = np.unique(np.concatenate([rng.choice(docs, docs.size // 2), stray]))
    ref = _per_run_reference(runs)
    keep = ~np.isin(ref["doc_id"], dead) & np.isin(ref["doc_id"], allowed)
    got = _decode_masked(runs, dead, allowed)
    for c in ("run", "doc_id", "tf", "dl"):
        assert np.array_equal(got[c], ref[c][keep]), c
    pos_keep = np.repeat(keep, ref["tf"]) if ref["pos"].size else []
    assert np.array_equal(got["pos"], ref["pos"][pos_keep])
    # no mask at all is the plain decode
    plain = _decode_masked(runs)
    assert all(np.array_equal(plain[c], ref[c]) for c in ref)


def test_decode_runs_rejects_a_count_mismatch():
    _, fields = pack_runs_bulk(
        (np.zeros(2),), np.array([3, 9]), np.array([1, 2]), np.array([4, 4]),
        1 << 17,
    )
    runs = pd.DataFrame({"n": [3], "docs": fields["docs"]})
    with pytest.raises(ValueError, match="docs"):
        decode_runs(runs)


@settings(max_examples=60, deadline=None)
@given(_run_batches(), st.integers(0, 2**16))
def test_block_skipping_equals_per_run_blocks(batch, pick):
    """Bulk block-max skipping ≡ the per-run form: a run is decoded iff one
    of its blocks can reach θ, and a posting survives iff its block does.
    θ is one block's own bound, so it splits the blocks of a batch."""
    from dart_importer_spark.query.engine import _surviving_blocks, _tfn

    runs = batch[0]
    idf = {"a": 1.5, "b": 0.7, "c": 2.0}
    ubs = {"a": 0.9, "b": 0.3}  # "c" has no bound of its own
    ub_total, avgdl = sum(ubs.values()) + 0.1, 40.0
    block_ubs = [
        idf[r.term] * _tfn(
            np.asarray(r.block_max_tf, dtype=np.float64),
            np.asarray(r.block_min_dl, dtype=np.float64),
            avgdl,
        ) + (ub_total - ubs.get(r.term, 0.0))
        for r in runs.itertuples(index=False)
    ]
    flat = np.concatenate(block_ubs)
    theta = float(flat[pick % flat.size])
    kept, keep = _surviving_blocks(runs, idf, ubs, ub_total, theta, avgdl)
    want_runs = [i for i, ub in enumerate(block_ubs) if (ub >= theta).any()]
    want_keep = [
        np.repeat(block_ubs[i] >= theta, BLOCK_SIZE)[: runs["n"][i]]
        for i in want_runs
    ]
    assert want_runs and list(kept.index) == want_runs
    assert np.array_equal(keep, np.concatenate(want_keep))


@st.composite
def _posting_groups(draw):
    """Postings sorted by group under two keys (term, field), ascending
    doc_ids within a group, some groups longer than ``target_run``, and
    positions either for every posting or none. Returns (keys, docs, tfs,
    dls, poss | None, target_run, group sizes)."""
    target_run = draw(st.integers(1, 2 * BLOCK_SIZE))
    sizes = draw(st.lists(st.integers(1, 3 * BLOCK_SIZE), min_size=1, max_size=6))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    # distinct consecutive (term, field) pairs: one group each
    pairs = [("t%02d" % (i // 2), i % 2) for i in range(len(sizes))]
    terms = np.repeat(np.array([t for t, _ in pairs], dtype=object), sizes)
    fields = np.repeat(np.array([f for _, f in pairs]), sizes)
    docs = np.concatenate([np.cumsum(rng.integers(1, 2**20, n)) for n in sizes])
    tfs = rng.integers(1, 6, docs.size)
    dls = rng.integers(1, 2**33, docs.size)
    poss = rng.integers(0, 2**20, int(tfs.sum())) if draw(st.booleans()) else None
    return (terms, fields), docs, tfs, dls, poss, target_run, sizes


@settings(max_examples=60, deadline=None)
@given(_posting_groups())
def test_pack_runs_bulk_round_trips_and_cuts_at_target_run(batch):
    keys, docs, tfs, dls, poss, target_run, sizes = batch
    starts, cols = pack_runs_bulk(keys, docs, tfs, dls, target_run, poss)
    # each group is cut into ceil(size / target_run) runs of <= target_run
    group_starts = np.cumsum(sizes) - sizes
    want = np.concatenate([
        np.arange(g, g + n, target_run) for g, n in zip(group_starts, sizes)
    ])
    assert np.array_equal(starts, want)
    n = np.asarray(cols["n"])
    assert n.max() <= target_run and n.sum() == docs.size
    # decode gives back every posting and position, run by run
    dec = decode_runs(pd.DataFrame(cols))
    assert np.array_equal(dec["run"], np.repeat(np.arange(len(starts)), n))
    assert np.array_equal(dec["doc_id"], docs)
    assert np.array_equal(dec["tf"], tfs)
    assert np.array_equal(dec["dl"], dls)
    if poss is None:
        assert set(cols["poss"]) == {b""} and dec["pos"].size == 0
    else:
        assert np.array_equal(dec["pos"], poss)
    # per-run doc bounds and per-block metadata
    for i, (s, k) in enumerate(zip(starts, n)):
        assert cols["min_doc"][i] == docs[s] and cols["max_doc"][i] == docs[s + k - 1]
        blocks = range(s, s + k, BLOCK_SIZE)
        ends = [min(b + BLOCK_SIZE, s + k) for b in blocks]
        assert cols["block_first"][i] == [docs[b] for b in blocks]
        assert cols["block_max_tf"][i] == [tfs[b:e].max() for b, e in zip(blocks, ends)]
        assert cols["block_min_dl"][i] == [
            min(dls[b:e].min(), 2**31 - 1) for b, e in zip(blocks, ends)
        ]


def test_pack_runs_bulk_writes_empty_blobs_without_positions():
    args = ((np.array([0, 0, 1]),), np.array([2, 5, 1]), np.array([1, 3, 2]),
            np.array([7, 8, 9]), 1 << 17)
    for poss in (None, np.empty(0, dtype=np.int64)):
        _, cols = pack_runs_bulk(*args, poss)
        assert cols["poss"] == [b"", b""]


def test_bucket_of_agrees_with_bucket_col(spark):
    terms = [
        "data", "merge_2", "0", "x" * 40,  # ASCII
        "삼성", "전자", "一二三", "ㄱ",  # CJK
        "삼성\x1f전자", "the\x1fand", "a\x1fb\x1fc",  # shingles
    ]
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    for n in (1, 4, 7, 16):
        got = [r[0] for r in df.select(bucket_col("term", n)).collect()]
        assert got == [bucket_of(t, n) for t in terms], n

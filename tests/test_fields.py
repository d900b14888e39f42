"""Fielded indexing: per-field postings/df/avgdl, field-targeted match,
shingle subfields + search_as_you_type, interval-overlap join.

Mirrors the reference's multi-field analyzed mappings (reference
import_dart_data.py:389-440; fielded query at Running-ELK.md:145-152;
search_as_you_type subfields at import_dart_data.py:353-354,395-405).
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from dart_importer_spark.functions.tokenizer import shingle_text, tokenize_text
from dart_importer_spark.index.build import B, K1, BuildConfig, build_index
from dart_importer_spark.query.engine import InvertedIndex

ROWS = [
    ("c1", 0, "alpha beta gamma beta", "news one"),
    ("c1", 1, "beta delta", "blog two"),
    ("c2", 0, "alpha alpha epsilon", "news three"),
    ("c2", 1, "zeta eta theta iota", "wiki four"),
    ("c3", 0, "beta gamma", "news five"),
    ("c3", 1, "", "blog six"),
]


@pytest.fixture(scope="module")
def fielded_index(spark, tmp_path_factory):
    df = spark.createDataFrame(
        ROWS, "conv_id string, turn_idx int, body string, title string"
    )
    out = str(tmp_path_factory.mktemp("fielded") / "idx")
    build_index(
        spark,
        df,
        out,
        BuildConfig(n_segments=2, n_buckets=4),
        text_cols=("body", "title"),
        shingle_fields=(("body", 2),),
        meta_cols=(),
    )
    return InvertedIndex(spark, out)


def _bm25_oracle_field(rows, field_idx, query_terms, k=10):
    """Tiny pure-python per-field BM25 (field 0=body, 1=title)."""
    texts = [r[2] if field_idx == 0 else r[3] for r in rows]
    toks = [tokenize_text(t) for t in texts]
    n = len(rows)
    avgdl = sum(len(t) for t in toks) / n
    scores = {}
    for term in set(query_terms):
        df = sum(1 for t in toks if term in t)
        if df == 0:
            continue
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        for did, t in enumerate(toks):
            tf = t.count(term)
            if tf:
                dl = len(t)
                scores[did] = scores.get(did, 0.0) + idf * tf / (
                    tf + K1 * (1 - B + B * dl / avgdl)
                )
    order = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return order


def _doc_order(rows):
    """doc_id = rank under ORDER BY (conv_id, turn_idx) — ROWS is sorted."""
    return list(range(len(rows)))


def test_field_stats(fielded_index):
    ix = fielded_index
    assert ix.fields == ["body", "title", "body._2gram"]
    body_toks = [len(tokenize_text(r[2])) for r in ROWS]
    title_toks = [len(tokenize_text(r[3])) for r in ROWS]
    assert abs(ix.avgdl_by_field[0] - np.mean(body_toks)) < 1e-9
    assert abs(ix.avgdl_by_field[1] - np.mean(title_toks)) < 1e-9
    # per-field df: 'news' only exists in title
    assert ix.term_stats(["news"], field="title") == {"news": 3}
    assert ix.term_stats(["news"], field="body") == {}
    assert ix.term_stats(["beta"], field="body") == {"beta": 3}


def test_fielded_match_rank_identity(fielded_index):
    for fid, q in [(0, "beta gamma"), (1, "news"), (0, "alpha")]:
        got = [
            (r["doc_id"], r["score"])
            for r in fielded_index.topk(q, 10, field=fid).collect()
        ]
        want = _bm25_oracle_field(ROWS, fid, tokenize_text(q))
        assert [g[0] for g in got] == [w[0] for w in want]
        assert np.allclose([g[1] for g in got], [w[1] for w in want], atol=1e-9)


def test_field_isolation(fielded_index):
    # terms from one field never leak into another
    assert fielded_index.topk("news", 10).count() == 0  # default = body
    assert fielded_index.topk("alpha", 10, field="title").count() == 0


def test_shingle_subfield_match(fielded_index):
    # 'alpha beta' as a 2-gram only occurs in doc 0 (body)
    got = fielded_index.topk("alpha beta", 10, field="body._2gram").collect()
    assert [r["doc_id"] for r in got] == [0]
    # shingle analyzer applied to the query: 2 terms -> 1 shingle
    assert shingle_text("alpha beta", 2) == ["alpha\x1fbeta"]


def test_search_as_you_type(fielded_index):
    # 'beta gam' -> complete term 'beta' BM25 + prefix 'gam*' const +
    # 2-gram 'beta gam*'... (shingle 'beta\x1fgam' doesn't exist; prefix
    # component and the complete-term component drive the ranking)
    got = fielded_index.search_as_you_type("beta gam", k=10).toPandas()
    # docs with beta AND a gam* token (gamma) must outrank beta-only docs
    assert set(got["doc_id"]) >= {0, 1, 4}
    top2 = set(got["doc_id"][:2])
    assert top2 == {0, 4}  # both contain beta + gamma
    # full two-term shingle present -> its BM25 adds on top
    got2 = fielded_index.search_as_you_type("beta gamma", k=10).toPandas()
    assert set(got2["doc_id"][:2]) == {0, 4}
    d0 = dict(zip(got["doc_id"], got["score"]))
    d2 = dict(zip(got2["doc_id"], got2["score"]))
    assert d2[4] > d0[4]  # shingle contribution increased the score


def test_fielded_compaction_preserves_ranks(spark, fielded_index, tmp_path):
    from dart_importer_spark.index.merge import compact_index

    out = str(tmp_path / "fielded_compact")
    compact_index(spark, fielded_index.dir, out)
    cx = InvertedIndex(spark, out)
    assert cx.fields == fielded_index.fields
    assert cx.avgdl_by_field == fielded_index.avgdl_by_field
    for fid, q in [(0, "beta gamma"), (1, "news"), (2, "alpha beta")]:
        a = fielded_index.topk(q, 10, field=fid).toPandas()
        b = cx.topk(q, 10, field=fid).toPandas()
        assert list(a["doc_id"]) == list(b["doc_id"]), (fid, q)
        assert np.allclose(a["score"], b["score"], atol=1e-12)


def test_interval_overlap_join(spark):
    from dart_importer_spark.operators.intervals import interval_overlap_join

    a = spark.createDataFrame(
        [(1, 0.0, 10.0), (2, 50.0, 60.0), (3, 5.0, 55.0)],
        "aid int, a_start double, a_end double",
    )
    b = spark.createDataFrame(
        [(10, 8.0, 12.0), (20, 100.0, 110.0), (30, 0.0, 200.0)],
        "bid int, b_start double, b_end double",
    )
    got = {
        (r["aid"], r["bid"])
        for r in interval_overlap_join(
            a, b, "a_start", "a_end", "b_start", "b_end", bucket_width=7.0
        ).collect()
    }
    want = {
        (ra[0], rb[0])
        for ra in [(1, 0.0, 10.0), (2, 50.0, 60.0), (3, 5.0, 55.0)]
        for rb in [(10, 8.0, 12.0), (20, 100.0, 110.0), (30, 0.0, 200.0)]
        if ra[1] <= rb[2] and rb[1] <= ra[2]
    }
    assert got == want
    # exactly-once per pair (no duplicate bucket claims)
    cnt = interval_overlap_join(
        a, b, "a_start", "a_end", "b_start", "b_end", bucket_width=7.0
    ).count()
    assert cnt == len(want)


def test_fielded_append_matches_full_build(spark, tmp_path):
    """append_index must compose with fielded + shingle indexing: appending
    a key-monotone batch to a fielded index equals the from-scratch build."""
    from dart_importer_spark.index.build import append_index

    df = spark.createDataFrame(
        ROWS, "conv_id string, turn_idx int, body string, title string"
    )
    first = df.filter(F.col("conv_id") < "c3")
    second = df.filter(F.col("conv_id") >= "c3")
    kw = dict(text_cols=("body", "title"), shingle_fields=(("body", 2),), meta_cols=())

    inc = str(tmp_path / "inc_idx")
    build_index(spark, first, inc, BuildConfig(n_segments=2, n_buckets=4), **kw)
    m = append_index(spark, second, inc, batch_tag="t1", **kw)
    assert m["appended_docs"] == second.count()

    full = str(tmp_path / "full_idx")
    build_index(spark, df, full, BuildConfig(n_segments=2, n_buckets=4), **kw)

    a, b = InvertedIndex(spark, inc), InvertedIndex(spark, full)
    assert a.avgdl_by_field == b.avgdl_by_field
    for fid, q in [(0, "beta gamma"), (1, "news"), (2, "alpha beta")]:
        ga = [(r["doc_id"], round(r["score"], 9)) for r in a.topk(q, 10, field=fid).collect()]
        gb = [(r["doc_id"], round(r["score"], 9)) for r in b.topk(q, 10, field=fid).collect()]
        assert ga == gb, (fid, q)
    ga = a.search_as_you_type("beta gam", k=10).toPandas()
    gb = b.search_as_you_type("beta gam", k=10).toPandas()
    assert list(ga["doc_id"]) == list(gb["doc_id"])


def _rows6(df):
    return [(r["doc_id"], round(r["score"], 6)) for r in df.collect()]


def test_multi_match_pruned_equals_exhaustive(built_index, fielded_index):
    """VERDICT r02 #9: per-field WAND with summed cross-leg upper bounds
    must be rank-identical to the exhaustive plan."""
    # single-leg multi-term on a corpus big enough for theta to fire
    q = "the and of"
    legs = []
    fid = 0
    terms = sorted(set(built_index._analyze(q, None)))
    [(dfs, idf, ubs)] = built_index._legs_stats([(fid, terms)])
    legs.append((fid, [t for t in terms if t in dfs], dfs, idf, ubs))
    # force the θ bootstrap on this tiny corpus (the adaptive gate skips it
    # below prune_min_postings because exhaustive ≡ pruned there)
    built_index.prune_min_postings = 0
    assert built_index._theta(legs, 10) > 0.0  # pruning is live
    assert _rows6(built_index.multi_match(q, ["text"], k=10, prune=True)) == _rows6(
        built_index.multi_match(q, ["text"], k=10, prune=False)
    )
    # cross-field legs on the fielded corpus
    for q2 in ["beta news", "alpha beta two"]:
        assert _rows6(
            fielded_index.multi_match(q2, ["body", "title"], k=5, prune=True)
        ) == _rows6(
            fielded_index.multi_match(q2, ["body", "title"], k=5, prune=False)
        )


def test_multi_match_best_fields(built_index, fielded_index):
    """best_fields (dis_max): pruned == exhaustive, tie_breaker=1 == sum
    semantics, tie_breaker=0 == pure max."""
    for q2 in ["beta news", "alpha beta two"]:
        best = lambda **kw: _rows6(
            fielded_index.multi_match(
                q2, ["body", "title"], k=5, match_type="best_fields", **kw
            )
        )
        assert best(prune=True, tie_breaker=0.3) == best(
            prune=False, tie_breaker=0.3
        )
        assert best(tie_breaker=1.0) == _rows6(
            fielded_index.multi_match(q2, ["body", "title"], k=5)
        )
    # single-field: best_fields degenerates to most_fields for any tie_breaker
    assert _rows6(
        built_index.multi_match(
            "the and", ["text"], k=10, match_type="best_fields"
        )
    ) == _rows6(built_index.multi_match("the and", ["text"], k=10))
    import pytest as _pt

    with _pt.raises(ValueError):
        built_index.multi_match("x", ["text"], match_type="nope_fields")
    with _pt.raises(ValueError):
        built_index.multi_match("x", ["text"], match_type="best_fields",
                                tie_breaker=1.5)
    with _pt.raises(ValueError, match="operator"):
        built_index.multi_match("x", ["text"], match_type="best_fields",
                                operator="and")


def _cross_fields_oracle(rows, query_terms, tie=0.0, operator="or", k=5):
    """Pure-python cross_fields: blended (max-across-fields) df per term,
    per-field tf/length norms, per (doc, term) dis_max, summed."""
    body = [tokenize_text(r[2]) for r in rows]
    title = [tokenize_text(r[3]) for r in rows]
    n = len(rows)
    fields = [body, title]
    av = [sum(map(len, f)) / n for f in fields]
    scores: dict[int, float] = {}
    matched: dict[int, set] = {}
    for term in set(query_terms):
        bdf = max(sum(1 for t in f if term in t) for f in fields)
        if bdf == 0:
            continue
        idf = math.log(1 + (n - bdf + 0.5) / (bdf + 0.5))
        for did in range(n):
            per_f = []
            for fi, f in enumerate(fields):
                tf = f[did].count(term)
                if tf:
                    dl = len(f[did])
                    per_f.append(
                        idf * tf / (tf + K1 * (1 - B + B * dl / av[fi]))
                    )
            if per_f:
                s = max(per_f) + tie * (sum(per_f) - max(per_f))
                scores[did] = scores.get(did, 0.0) + s
                matched.setdefault(did, set()).add(term)
    if operator == "and":
        req = set(query_terms)
        scores = {d: s for d, s in scores.items() if matched[d] >= req}
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def test_multi_match_cross_fields(fielded_index):
    """cross_fields: blended-df term-centric scoring matches the python
    oracle exactly; operator AND keeps only docs covering every term (in
    ANY field); pruned == exhaustive on the OR path."""
    for q, tie in [("beta news", 0.3), ("alpha beta two", 0.0),
                   ("beta news", 1.0)]:
        got = _rows6(fielded_index.multi_match(
            q, ["body", "title"], k=5, match_type="cross_fields",
            tie_breaker=tie,
        ))
        want = [
            (d, round(s, 6))
            for d, s in _cross_fields_oracle(ROWS, q.split(), tie=tie)
        ]
        assert got == want, (q, tie)
        assert got == _rows6(fielded_index.multi_match(
            q, ["body", "title"], k=5, match_type="cross_fields",
            tie_breaker=tie, prune=False,
        ))
    # AND: 'beta' (body of 0,1,4) AND 'news' (title of 0,2,4) -> {0, 4}
    got_and = _rows6(fielded_index.multi_match(
        "beta news", ["body", "title"], k=5, match_type="cross_fields",
        operator="and",
    ))
    assert sorted(d for d, _ in got_and) == [0, 4]
    assert got_and == [
        (d, round(s, 6))
        for d, s in _cross_fields_oracle(
            ROWS, ["beta", "news"], operator="and"
        )
    ]
    # AND with a term matching no field at all -> empty
    assert fielded_index.multi_match(
        "beta zzzzterm", ["body", "title"], match_type="cross_fields",
        operator="and",
    ).count() == 0


def test_sayt_pruned_equals_exhaustive(built_index, fielded_index):
    for ix, q in [
        (built_index, "the and o"),
        (built_index, "the w0004"),
        (fielded_index, "alpha beta gam"),
        (fielded_index, "beta al"),
    ]:
        assert _rows6(ix.search_as_you_type(q, k=10, prune=True)) == _rows6(
            ix.search_as_you_type(q, k=10, prune=False)
        ), q


def test_multi_match_field_boost_syntax(fielded_index):
    """fields=["body^2"] doubles that leg's contributions — pruned plan
    included (idf scaling keeps θ and the bounds consistent)."""
    plain = _rows6(fielded_index.multi_match("beta news", ["body", "title"], k=5))
    boosted = _rows6(
        fielded_index.multi_match("beta news", ["body^2", "title"], k=5)
    )
    assert boosted != plain  # the boost reorders/rescales
    assert _rows6(
        fielded_index.multi_match("beta news", ["body^2", "title"], k=5,
                                  prune=True)
    ) == _rows6(
        fielded_index.multi_match("beta news", ["body^2", "title"], k=5,
                                  prune=False)
    )
    # boost of 1 is the identity
    assert _rows6(
        fielded_index.multi_match("beta news", ["body^1", "title"], k=5)
    ) == plain


def test_query_string_field_scoping(fielded_index):
    # title:news matches docs 0, 2, 4 via the title field's postings;
    # AND body:beta narrows to docs 0 and 4; default field stays body
    got = {
        int(r["doc_id"])
        for r in fielded_index.query_string("title:news AND beta", k=10).collect()
    }
    assert got == {0, 4}
    # unknown fields raise like ES does
    with pytest.raises(KeyError):
        fielded_index.query_string("nosuch:term", k=5).collect()


def test_query_string_field_scoped_scoring_matches_match(fielded_index):
    # a single field-scoped term must score exactly like topk on that field
    qs = {
        int(r["doc_id"]): round(float(r["score"]), 9)
        for r in fielded_index.query_string("title:news", k=10).collect()
    }
    tk = {
        int(r["doc_id"]): round(float(r["score"]), 9)
        for r in fielded_index.topk("news", k=10, field="title").collect()
    }
    assert qs == tk

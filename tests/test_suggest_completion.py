"""ES completion suggester (doc-valued: suggestions = live values of a
stored string column), checked against hand-computed oracles — prefix
matching is case-insensitive, ranking is (score desc, suggestion asc),
score = max weight column value or live doc count."""

from __future__ import annotations

import pytest

from dart_importer_spark.index.build import BuildConfig, build_index
from dart_importer_spark.query.engine import InvertedIndex

ROWS = [
    # (conv_id, turn_idx, text, title, w)
    ("c1", 0, "alpha", "Samsung Electronics", 10.0),
    ("c1", 1, "alpha", "Samsung Electronics", 3.0),
    ("c2", 0, "alpha", "Samsung Display", 7.0),
    ("c2", 1, "alpha", "samsung display", 2.0),
    ("c3", 0, "alpha", "SK Hynix", 50.0),
    ("c3", 1, "alpha", "Samsong Heavy", 1.0),
    ("c4", 0, "alpha", None, 9.0),
]


@pytest.fixture(scope="module")
def comp_index(spark, tmp_path_factory):
    df = spark.createDataFrame(
        ROWS, "conv_id string, turn_idx int, text string, title string, "
              "w double"
    )
    out = str(tmp_path_factory.mktemp("completion") / "idx")
    build_index(
        spark, df, out, BuildConfig(n_segments=2, n_buckets=4),
        meta_cols=("title", "w"),
    )
    return InvertedIndex(spark, out)


def test_completion_unweighted_count_ranking(comp_index):
    # score = live doc count; ties break suggestion ASC (binary order:
    # 'Samsong' < 'Samsung' < 'samsung')
    out = comp_index.suggest_completion("sams", on="title", k=10).collect()
    assert [(r["suggestion"], r["score"]) for r in out] == [
        ("Samsung Electronics", 2.0),
        ("Samsong Heavy", 1.0),
        ("Samsung Display", 1.0),
        ("samsung display", 1.0),
    ]


def test_completion_weighted_and_size(comp_index):
    out = comp_index.suggest_completion(
        "sams", on="title", k=10, weight="w"
    ).collect()
    assert [(r["suggestion"], r["score"]) for r in out] == [
        ("Samsung Electronics", 10.0),
        ("Samsung Display", 7.0),
        ("samsung display", 2.0),
        ("Samsong Heavy", 1.0),
    ]
    top2 = comp_index.suggest_completion(
        "sams", on="title", k=2, weight="w"
    ).collect()
    assert [r["suggestion"] for r in top2] == [
        "Samsung Electronics", "Samsung Display",
    ]


def test_completion_case_insensitive_prefix(comp_index):
    out = comp_index.suggest_completion("SAMSUNG D", on="title", k=10).collect()
    assert sorted(r["suggestion"] for r in out) == [
        "Samsung Display", "samsung display",
    ]


def test_completion_fuzzy(comp_index):
    # exact prefix 'samsong' alone matches only the typo'd doc
    exact = comp_index.suggest_completion("samsong", on="title").collect()
    assert [r["suggestion"] for r in exact] == ["Samsong Heavy"]
    # fuzziness=1: 'samsung' leads are one substitution away -> all match
    fz = comp_index.suggest_completion(
        "samsong", on="title", k=10, fuzziness=1
    ).collect()
    assert sorted(r["suggestion"] for r in fz) == [
        "Samsong Heavy", "Samsung Display", "Samsung Electronics",
        "samsung display",
    ]
    # fuzzy_prefix_length: first char must match exactly by default
    none = comp_index.suggest_completion(
        "zamsung", on="title", k=10, fuzziness=1
    ).collect()
    assert none == []
    loose = comp_index.suggest_completion(
        "zamsung", on="title", k=10, fuzziness=1, fuzzy_prefix_length=0
    ).collect()
    assert sorted(r["suggestion"] for r in loose) == [
        "Samsung Display", "Samsung Electronics", "samsung display",
    ]


def test_completion_fuzzy_length_changing_edits(comp_index):
    # a DELETION in the typed prefix ('samsng' -> 'samsung' needs one
    # insertion) shifts the prefix boundary — the match must compare
    # against suggestion prefixes of len(p) +/- fuzziness, not a fixed cut
    dele = comp_index.suggest_completion(
        "samsng", on="title", k=10, fuzziness=1
    ).collect()
    # 'samsng' is one insertion from BOTH 'samsung' and 'samsong'
    assert sorted(r["suggestion"] for r in dele) == [
        "Samsong Heavy", "Samsung Display", "Samsung Electronics",
        "samsung display",
    ]
    # an INSERTION in the typed prefix ('samsuung')
    ins = comp_index.suggest_completion(
        "samsuung", on="title", k=10, fuzziness=1
    ).collect()
    assert sorted(r["suggestion"] for r in ins) == [
        "Samsung Display", "Samsung Electronics", "samsung display",
    ]
    # still bounded: two edits stay out at fuzziness=1
    assert comp_index.suggest_completion(
        "sxmsxng", on="title", k=10, fuzziness=1
    ).collect() == []


def test_completion_guards_and_nulls(comp_index):
    with pytest.raises(ValueError, match="empty prefix"):
        comp_index.suggest_completion("", on="title")
    # null titles never surface; a prefix with no matches returns []
    assert comp_index.suggest_completion("zzz", on="title").collect() == []


def test_dsl_suggest_section(comp_index):
    from dart_importer_spark.query.dsl import DslError, suggest

    out = suggest(comp_index, {"suggest": {
        "fix": {"text": "alpah", "term": {"field": "text", "size": 3}},
        "comp": {"prefix": "sams", "completion": {
            "field": "title", "size": 2, "weight_field": "w"}},
    }})
    assert set(out) == {"fix", "comp"}
    fix = out["fix"].collect()
    assert fix and fix[0]["term"] == "alpha"  # transposition, Damerau dist 1
    comp = [r["suggestion"] for r in out["comp"].collect()]
    assert comp == ["Samsung Electronics", "Samsung Display"]
    # fuzzy completion through the body form
    fz = suggest(comp_index, {"suggest": {"c": {
        "prefix": "samsong",
        "completion": {"field": "title", "size": 10,
                       "fuzzy": {"fuzziness": 1}},
    }}})["c"].collect()
    assert len(fz) == 4
    # guards
    with pytest.raises(DslError, match="one of"):
        suggest(comp_index, {"suggest": {"x": {"text": "a"}}})
    with pytest.raises(DslError, match="field is required"):
        suggest(comp_index, {"suggest": {"x": {"text": "a", "term": {}}}})
    with pytest.raises(DslError, match="no 'suggest' section"):
        suggest(comp_index, {"query": {"match_all": {}}})


def test_search_suggest_runs_a_term_suggester(comp_index):
    out = comp_index.search_suggest({"suggest": {
        "fix": {"text": "alpah", "term": {"field": "text", "size": 3}},
    }})
    assert list(out) == ["fix"]
    assert out["fix"].collect()[0]["term"] == "alpha"


def test_dsl_suggest_global_text_and_fuzzy_options(comp_index):
    from dart_importer_spark.query.dsl import DslError, suggest

    # ES global form: top-level "text" inherited by suggesters without
    # their own (regression: it used to be parsed as a suggester name)
    out = suggest(comp_index, {"suggest": {
        "text": "alpah",
        "fix": {"term": {"field": "text", "size": 3}},
    }})
    fix = out["fix"].collect()
    assert fix and fix[0]["term"] == "alpha"
    # "fuzzy": false must DISABLE fuzziness (it used to enable dist 1)
    exact = suggest(comp_index, {"suggest": {"c": {
        "prefix": "samsong",
        "completion": {"field": "title", "size": 10, "fuzzy": False},
    }}})["c"].collect()
    assert [r["suggestion"] for r in exact] == ["Samsong Heavy"]
    # "AUTO" fuzziness maps to the ES ladder (7-char prefix -> 2 edits)
    auto = suggest(comp_index, {"suggest": {"c": {
        "prefix": "samsong",
        "completion": {"field": "title", "size": 10,
                       "fuzzy": {"fuzziness": "AUTO"}},
    }}})["c"].collect()
    assert len(auto) >= 4
    with pytest.raises(DslError, match="fuzziness must be"):
        suggest(comp_index, {"suggest": {"c": {
            "prefix": "sams",
            "completion": {"field": "title",
                           "fuzzy": {"fuzziness": "banana"}},
        }}})
    with pytest.raises(DslError, match="needs >= 1 suggester"):
        suggest(comp_index, {"suggest": {"text": "alpah"}})

"""Query shapes of the two mixes, each with its expected result.

A shape is one public call on ``InvertedIndex`` (or an ES body through
``InvertedIndex.search``) plus how its collected output maps to the key
space the oracle answers in. Ids q01..q12 follow the reference query set
in FIXTURES.md. Each mix lists first the ``BURST`` shapes of the short
burst that runs on the tombstoned index.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from corpus import Terms
from truth import Truth, ranked_equal

BURST = 3


@dataclass(frozen=True)
class Shape:
    name: str
    layer: str  # span name: "engine.<method>" or "dsl.search"
    call: Callable[[Any], Any]  # InvertedIndex -> DataFrame | int
    expect: Callable[[Truth], Any]
    kind: str  # ranked | keys | count | row


def _role(t: Truth, role: str) -> np.ndarray:
    return (t.docs["role"] == role).to_numpy()


def selective(w: Terms) -> list[Shape]:
    """Rare and mid-frequency terms: little postings work per call."""
    body = {
        "query": {"bool": {"must": [{"match": {"text": w.mid}}],
                           "filter": [{"term": {"role": "user"}}]}},
        "size": 10,
    }
    return [
        Shape("q10_count", "engine.count", lambda ix: ix.count(),
              lambda t: t.count(), "count"),
        Shape("q11_get", "engine.get_by_key", lambda ix: ix.get_by_key(*w.get_key),
              lambda t: t.row(w.get_key), "row"),
        Shape("q02_marker", "engine.topk", lambda ix: ix.topk(w.marker, 10),
              lambda t: t.topk(w.marker), "ranked"),
        Shape("q03_cjk", "engine.topk", lambda ix: ix.topk(w.cjk, 10),
              lambda t: t.topk(w.cjk), "ranked"),
        Shape("q07_bash_rare", "engine.topk",
              lambda ix: ix.topk(w.rare_bash, 10, filters=F.col("tool") == "bash"),
              lambda t: t.topk(w.rare_bash, mask=(t.docs["tool"] == "bash").to_numpy()),
              "ranked"),
        Shape("q08_wildcard", "engine.wildcard", lambda ix: ix.wildcard(w.prefix, 10),
              lambda t: t.prefix(w.prefix), "keys"),
        Shape("q09_tool_rare", "engine.topk",
              lambda ix: ix.topk(w.rare_tool, 10, filters=F.col("tool").isNotNull()),
              lambda t: t.topk(w.rare_tool, mask=t.docs["tool"].notna().to_numpy()),
              "ranked"),
        Shape("dsl_bool_filter", "dsl.search", lambda ix: ix.search(body),
              lambda t: t.topk(w.mid, mask=_role(t, "user")), "ranked"),
    ]


def broad(w: Terms) -> list[Shape]:
    """Stopword-heavy queries: long postings lists and positional decode."""
    c = w.common
    qs = f"({c[0]} AND {c[1]}) OR ({w.mid} AND NOT {c[2]})"
    cut = pd.Timestamp(w.ts_cut)
    return [
        Shape("q01_common", "engine.topk", lambda ix: ix.topk(c[0], 10),
              lambda t: t.topk(c[0]), "ranked"),
        Shape("q04_or3", "engine.topk", lambda ix: ix.topk(" ".join(c[:3]), 10),
              lambda t: t.topk(" ".join(c[:3])), "ranked"),
        Shape("q05_and_role", "engine.topk",
              lambda ix: ix.topk(f"{c[1]} {c[3]}", 10, mode="and",
                                 filters=F.col("role") == "assistant"),
              lambda t: t.topk(f"{c[1]} {c[3]}", mode="and", mask=_role(t, "assistant")),
              "ranked"),
        Shape("q06_ts_range", "engine.topk",
              lambda ix: ix.topk(f"{c[2]} {c[4]}", 10, filters=F.col("ts") >= F.lit(cut)),
              lambda t: t.topk(f"{c[2]} {c[4]}", mask=(t.docs["ts"] >= cut).to_numpy()),
              "ranked"),
        Shape("q12_k100", "engine.topk", lambda ix: ix.topk(f"{c[0]} {c[5]}", 100),
              lambda t: t.topk(f"{c[0]} {c[5]}", k=100), "ranked"),
        Shape("phrase_bigram", "engine.match_phrase",
              lambda ix: ix.match_phrase(" ".join(w.bigram), 10),
              lambda t: t.phrase(w.bigram), "keys"),
        Shape("query_string_bool", "engine.query_string",
              lambda ix: ix.query_string(qs, 10),
              lambda t: t.query_string_or_of_ands((c[0], c[1]), w.mid, c[2]), "ranked"),
    ]


def normalize(kind: str, out: Any, key_of: dict) -> Any:
    """Collected engine output in the oracle's key space."""
    if kind == "count":
        return int(out)
    if kind == "ranked":
        return [(key_of.get(r["doc_id"]), float(r["score"])) for r in out]
    if kind == "keys":
        return [key_of.get(r["doc_id"]) for r in out]
    return [((r["conv_id"], int(r["turn_idx"])), r["role"], r["tool"],
             pd.Timestamp(r["ts"])) for r in out]


def matches(kind: str, got: Any, want: Any) -> bool:
    return ranked_equal(got, want) if kind == "ranked" else got == want

"""Expected results for one index state, from the BM25 oracle in
``tests/oracle.py`` (brute-force Lucene BM25 over the source rows).

A state is the set of documents the index holds plus the subset still
live. Before compaction a delete only masks documents: scoring statistics
stay those of every document ever indexed (Lucene semantics). After
compaction the state is rebuilt over the live documents alone, so the
statistics are fresh.
"""

from __future__ import annotations

import copy
import functools

import numpy as np
import pandas as pd

import tests.oracle
from tests.oracle import BM25Oracle

# The oracle tokenizes every row it is given, and the index states of one
# run share most rows: tokenize each distinct text once.
tests.oracle.tokenize_text = functools.lru_cache(maxsize=None)(tests.oracle.tokenize_text)

SCORE_TOL = 1e-6


class Truth:
    def __init__(self, docs: pd.DataFrame, live: np.ndarray | None = None):
        """``docs`` carries the expected ``doc_id`` of every indexed row."""
        self.oracle = BM25Oracle(docs)
        self.docs = self.oracle.docs
        self.live = np.ones(len(self.docs), bool) if live is None else live
        self.token_sets = [set(t) for t in self.oracle.tokens]
        self.keys = list(zip(self.docs["conv_id"], self.docs["turn_idx"].astype(int)))
        self.key_of = dict(zip(self.oracle.doc_ids.tolist(), self.keys))

    def masked(self, live: np.ndarray) -> "Truth":
        """The same documents and statistics with fewer live rows."""
        t = copy.copy(self)
        t.live = live
        return t

    def _has(self, term: str) -> np.ndarray:
        return np.fromiter((term in s for s in self.token_sets), bool, len(self.docs))

    def _ranked(self, scores: pd.DataFrame, k: int) -> list:
        s = scores.sort_values(["score", "doc_id"], ascending=[False, True]).head(k)
        return [(self.key_of[d], float(v)) for d, v in zip(s["doc_id"], s["score"])]

    def topk(self, query: str, k: int = 10, mode: str = "or",
             mask: np.ndarray | None = None) -> list:
        m = self.live if mask is None else self.live & mask
        return self._ranked(
            self.oracle.topk(query, k, mode=mode, mask=m), k
        )

    def query_string_or_of_ands(self, pos_and: tuple[str, str], pos: str,
                                neg: str, k: int = 10) -> list:
        """``(a AND b) OR (pos AND NOT neg)``: gate by the boolean, score
        by the sum of BM25 contributions of the positive leaves present."""
        a, b = pos_and
        gate = (self._has(a) & self._has(b)) | (self._has(pos) & ~self._has(neg))
        row_of = pd.Series(np.arange(len(self.docs)), index=self.oracle.doc_ids)
        total = np.zeros(len(self.docs))
        for t in sorted({a, b, pos}):
            s = self.oracle.scores(t)
            total[row_of[s["doc_id"]].to_numpy()] += s["score"].to_numpy()
        keep = gate & self.live
        out = pd.DataFrame({"doc_id": self.oracle.doc_ids[keep], "score": total[keep]})
        return self._ranked(out, k)

    def _first_live(self, hit: np.ndarray, k: int) -> list:
        ids = self.oracle.doc_ids[hit & self.live]
        return [self.key_of[d] for d in np.sort(ids)[:k].tolist()]

    def phrase(self, terms: tuple[str, ...], k: int = 10) -> list:
        """First ``k`` live docs (doc_id order) whose token stream holds
        ``terms`` at consecutive positions."""
        n = len(terms)
        hit = np.fromiter(
            (any(tuple(toks[i:i + n]) == terms for i in range(len(toks) - n + 1))
             for toks in self.oracle.tokens),
            bool, len(self.docs),
        )
        return self._first_live(hit, k)

    def prefix(self, prefix: str, k: int = 10) -> list:
        hit = np.fromiter(
            (any(t.startswith(prefix) for t in s) for s in self.token_sets),
            bool, len(self.docs),
        )
        return self._first_live(hit, k)

    def count(self) -> int:
        return int(self.live.sum())

    def row(self, key: tuple[str, int]) -> list:
        """The source row's stored columns, or nothing once deleted."""
        if key not in self.keys or not self.live[self.keys.index(key)]:
            return []
        r = self.docs.iloc[self.keys.index(key)]
        tool = None if pd.isna(r["tool"]) else r["tool"]
        return [(key, r["role"], tool, pd.Timestamp(r["ts"]))]


def ranked_equal(got: list, want: list) -> bool:
    return len(got) == len(want) and all(
        gk == wk and abs(gs - ws) <= SCORE_TOL
        for (gk, gs), (wk, ws) in zip(got, want)
    )

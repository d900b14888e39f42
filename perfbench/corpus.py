"""Seeded transcripts corpus: generation, parquet materialization and the
query terms picked from it by document-frequency band.

The rows come from ``datagen.generate_transcripts_pandas`` (the driver-side
twin of ``generate_transcripts``: identical rows for the same seed and
conversation ordinals), so the benchmark holds the exact input the program
reads and can score it with the BM25 oracle. Conversations are split by
ordinal into a base table and append batches, which keeps every batch's
keys above the keys before it (the ``append_index`` contract).
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from dart_importer_spark.datagen import CJK_WORDS, generate_transcripts_pandas

KEY_COLS = ["conv_id", "turn_idx"]


def conv_ordinal(conv_id: pd.Series) -> np.ndarray:
    return conv_id.str.slice(4).astype(np.int64).to_numpy()


def generate(seed: int, n_base: int, n_batches: int = 0, batch_convs: int = 0):
    """Base table of ``n_base`` conversations plus ``n_batches`` append
    batches of ``batch_convs`` conversations each, all key-sorted."""
    total = n_base + n_batches * batch_convs
    pdf = generate_transcripts_pandas(total, seed=seed)
    pdf = pdf.sort_values(KEY_COLS, kind="stable").reset_index(drop=True)
    ords = conv_ordinal(pdf["conv_id"])
    base = pdf[ords < n_base].reset_index(drop=True)
    batches = []
    for i in range(n_batches):
        lo = n_base + i * batch_convs
        sel = (ords >= lo) & (ords < lo + batch_convs)
        batches.append(pdf[sel].reset_index(drop=True))
    return base, batches


def write_parquet(pdf: pd.DataFrame, path: str, n_files: int) -> int:
    """Write ``pdf`` as ``n_files`` parquet files split on conversation
    boundaries; returns the bytes written. Timestamps are stored as UTC
    microseconds, which Spark reads back as TimestampType."""
    os.makedirs(path, exist_ok=True)
    out = pdf.copy()
    out["ts"] = out["ts"].dt.tz_localize("UTC")
    ords = conv_ordinal(out["conv_id"])
    edges = np.linspace(ords.min(), ords.max() + 1, n_files + 1)
    total = 0
    for i in range(n_files):
        part = out[(ords >= edges[i]) & (ords < edges[i + 1])]
        if not len(part):
            continue
        f = os.path.join(path, f"part-{i:03d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False), f,
            coerce_timestamps="us",
        )
        total += os.path.getsize(f)
    return total


@dataclass(frozen=True)
class Terms:
    """Query terms chosen from the base corpus by document frequency."""

    marker: str
    cjk: str
    rare_bash: str
    rare_tool: str
    prefix: str
    mid: str
    common: tuple[str, ...]
    bigram: tuple[str, str]
    ts_cut: pd.Timestamp
    get_key: tuple[str, int]


def choose_terms(docs: pd.DataFrame, tokens: list[list[str]], df: Counter,
                 rng: np.random.Generator, n_warm: int) -> Terms:
    """Rare band: 3 <= df <= 30; mid band: 0.5%..3% of the documents;
    common: the twelve highest-df terms, in df order; bigram: the most
    frequent adjacent pair. Choices within a band are seeded by ``rng``.

    Every chosen term also occurs in the first ``n_warm`` rows (the warm-up
    table) and the ``get_key`` row is one of them, so the cold calls on the
    warm-up index find hits and take the paths the measured calls take."""
    n = len(docs)
    warm = Counter(t for toks in tokens[:n_warm] for t in set(toks))
    in_warm = np.arange(n) < n_warm

    def pick(cands):
        cands = sorted(cands)
        if not cands:
            raise RuntimeError("corpus too small for a query term band")
        return cands[int(rng.integers(len(cands)))]

    def rare_in(mask: np.ndarray) -> str:
        rows = np.flatnonzero(mask)
        for r in rng.permutation(rows):
            cands = [t for t in set(tokens[r]) if 3 <= df[t] <= 30]
            if cands:
                return pick(cands)
        raise RuntimeError("no rare term in the selected rows")

    markers = [t for t in warm if t.startswith("zq") and t.endswith("marker")]
    rare_words = [t for t in warm if t.startswith("w") and 3 <= df[t] <= 30]
    bigrams: Counter = Counter()
    for toks in tokens:
        bigrams.update(zip(toks, toks[1:]))
    tool = docs["tool"]
    row = int(rng.integers(n_warm))
    return Terms(
        marker=pick(markers),
        cjk=pick(w for w in CJK_WORDS if warm[w] > 0),
        rare_bash=rare_in((tool == "bash").to_numpy() & in_warm),
        rare_tool=rare_in(tool.notna().to_numpy() & in_warm),
        prefix=pick(rare_words)[:-1],
        mid=pick(t for t in warm if t.startswith("w") and 0.005 * n <= df[t] <= 0.03 * n),
        common=tuple(t for t, _ in df.most_common(12)),
        bigram=bigrams.most_common(1)[0][0],
        ts_cut=docs["ts"].sort_values().iloc[n // 2],
        get_key=(docs["conv_id"].iat[row], int(docs["turn_idx"].iat[row])),
    )

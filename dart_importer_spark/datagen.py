"""Deterministic synthetic fixtures (FIXTURES.md T1).

Pure-function-of-seed generation so golden top-k results are stable —
mirroring the reference's golden-value test style (exact count 97,568 at
reference test.py:80). Generation is distributed: ``spark.range(n_convs)``
fans conversations out across executors and a vectorized pandas stage
(``mapInPandas``) expands each conversation into turns — no driver-side
materialization, so the same code scales the corpus with the cluster.

Vocabulary: Zipf(s=1.1) over 20k words incl. ~30 planted high-frequency
stopwords (skew exercise for the salted repartition-by-term), low-frequency
``zq{k}marker`` tokens for exact-hit goldens, and a CJK slice mirroring the
reference's Korean query terms (reference Running-ELK.md:148,160).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

SEED = 42
VOCAB_SIZE = 20_000
ZIPF_S = 1.1

STOPWORDS = [
    "the", "and", "of", "to", "a", "in", "is", "it", "you", "that",
    "he", "was", "for", "on", "are", "as", "with", "his", "they", "i",
    "at", "be", "this", "have", "from", "or", "one", "had", "by", "but",
]
CJK_WORDS = ["삼성", "전자", "재무제표", "분기", "보고서", "감사", "연결", "손익"]
N_MARKERS = 10  # zq0marker .. zq9marker
TOOLS = ["search", "bash", "python", "browser"]
ROLES_BASE = ["user", "assistant"]

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)


def _vocab() -> list[str]:
    """20k-word vocab: stopwords first (highest Zipf mass), then synthetic
    word ids, with the CJK slice spliced into the mid-frequency band."""
    words = list(STOPWORDS)
    for i in range(VOCAB_SIZE - len(STOPWORDS)):
        words.append(f"w{i:05d}")
    # splice CJK words into mid-frequency ranks (rank 200..207)
    for j, w in enumerate(CJK_WORDS):
        words[200 + j] = w
    return words


def _zipf_cdf() -> np.ndarray:
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    p = ranks ** (-ZIPF_S)
    p /= p.sum()
    return np.cumsum(p)


def _gen_conv_batch(conv_ids: np.ndarray, seed: int) -> pd.DataFrame:
    """Expand a batch of conversation ordinals into turn rows.

    Each conversation is seeded independently (seed ^ conv ordinal) so the
    output is identical regardless of partitioning — the determinism
    contract the resume/lineage tests rely on.
    """
    vocab = np.array(_vocab(), dtype=object)
    cdf = _zipf_cdf()
    out_conv, out_turn, out_role, out_text, out_tool, out_ts = [], [], [], [], [], []
    base_ts = np.datetime64("2024-01-01T00:00:00")
    for c in conv_ids:
        rng = np.random.default_rng(np.uint64(seed) ^ np.uint64(c * 2654435761 + 1))
        n_turns = int(rng.integers(2, 17))
        for t in range(n_turns):
            role = ROLES_BASE[t % 2]
            tool = None
            # every 5th assistant turn is followed by a tool turn: emulate by
            # making turns where (t % 10 == 9) tool-role turns
            if t % 10 == 9:
                role = "tool"
                tool = TOOLS[int(rng.integers(0, len(TOOLS)))]
            n_tokens = int(rng.integers(5, 121))
            u = rng.random(n_tokens)
            idx = np.searchsorted(cdf, u)
            toks = vocab[idx]
            # plant rare marker tokens deterministically in known turns
            if c % 997 == 0 and t == 0:
                toks = np.append(toks, f"zq{c % N_MARKERS}marker")
            out_conv.append(f"conv{c:08d}")
            out_turn.append(t)
            out_role.append(role)
            out_text.append(" ".join(toks.tolist()))
            out_tool.append(tool)
            out_ts.append(base_ts + np.timedelta64(int(c) * 60 + t * 5, "s"))
    return pd.DataFrame(
        {
            "conv_id": out_conv,
            "turn_idx": np.array(out_turn, dtype=np.int32),
            "role": out_role,
            "text": out_text,
            "tool": out_tool,
            "ts": pd.to_datetime(out_ts),
        }
    )


def generate_transcripts(
    spark: SparkSession,
    n_convs: int,
    seed: int = SEED,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic transcripts table (input_hint shape)."""
    if partitions is None:
        partitions = max(8, spark.sparkContext.defaultParallelism)

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _gen_conv_batch(pdf["id"].to_numpy(), seed)

    convs = spark.range(0, n_convs, numPartitions=partitions)
    return convs.mapInPandas(expand, schema=TRANSCRIPTS_SCHEMA)


def generate_transcripts_pandas(n_convs: int, seed: int = SEED) -> pd.DataFrame:
    """Driver-side generation for small oracle fixtures (identical rows)."""
    return _gen_conv_batch(np.arange(n_convs, dtype=np.int64), seed)

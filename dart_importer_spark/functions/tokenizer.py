"""Pinned text analyzer shared by the engine, the oracle, and the fixtures.

The reference delegates analysis to the Elasticsearch standard analyzer via
``text`` / ``search_as_you_type`` mappings (reference import_dart_data.py:353-354,
389-440). Our analyzer spec is pinned so rank-identity is well-defined:

    lowercase; a token is a maximal run of ``[0-9a-z_]`` OR a maximal
    contiguous run of CJK codepoints (Hangul jamo/syllables U+3131-U+D7DD,
    CJK unified ideographs U+4E00-U+9FFF).

The same regex runs in three places and must agree:
  1. Spark: `F.regexp_extract_all` — JVM-side, whole-stage-codegen'd (the
     *fast* path: no Python in the tokenize hot loop at all).
  2. pandas: `tokenize_series` — used inside pandas UDFs and the pure-Python
     BM25 oracle.
  3. DuckDB (driver correctness oracle): `regexp_extract_all(lower(text), ...)`.

All three regex engines (java.util.regex, Python `re`, RE2) treat these
explicit BMP codepoint ranges identically.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# The single source of truth for the token pattern.
TOKEN_PATTERN = r"[0-9a-z_]+|[ㄱ-ퟝ一-鿿]+"

_RE = re.compile(TOKEN_PATTERN)


def tokenize_col(col: Column | str) -> Column:
    """JVM-side tokenizer: lowercase + regexp_extract_all -> array<string>.

    This is the hot-path tokenizer for index builds: pure Catalyst
    expressions, no Python round-trip, fully inside whole-stage codegen.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(TOKEN_PATTERN), 0)


def tokenize_text(text: str) -> list[str]:
    """Reference (oracle-side) tokenizer for a single string."""
    if text is None:
        return []
    return _RE.findall(text.lower())


def tokenize_series(s: pd.Series) -> pd.Series:
    """Vectorized pandas tokenizer (same spec) for UDF internals/oracle."""
    return s.fillna("").str.lower().str.findall(_RE)


# DuckDB-side equivalent expression, parameterized on the column name. Used
# by __spark_entry__.oracle_sql so the driver's DuckDB check shares the spec.
DUCKDB_TOKENIZE = (
    "regexp_extract_all(lower({col}), '[0-9a-z_]+|[ㄱ-ퟝ一-鿿]+')"
)

def shingles_of(toks: Column, n: int, sep: str) -> Column:
    """Word n-gram shingles of a token array as JVM expressions.

    Built from n aligned ``slice``s folded with ``zip_with`` — NOT
    ``transform(sequence, i -> element_at(toks, i+j))``: a lambda body
    re-evaluates its subexpressions per element, so the element_at form
    re-runs the tokenizer regex 3x per shingle (measured 10x slower on the
    documents table). Returns an empty array when size(toks) < n.
    """
    sz = F.size(toks)
    m = F.greatest(sz - (n - 1), F.lit(0))
    acc = F.slice(toks, 1, m)
    for j in range(1, n):
        nxt = F.slice(toks, j + 1, m)
        acc = F.zip_with(acc, nxt, lambda a, b: F.concat(a, F.lit(sep), b))
    return acc


# Separator for word-shingle terms (search_as_you_type 2/3-gram subfields).
# U+001F never appears in tokens (not in TOKEN_PATTERN's charset), so a
# shingle term can't collide with a plain term or a different split.
SHINGLE_SEP = "\x1f"


def shingle_list(tokens: list[str], n: int, sep: str = SHINGLE_SEP) -> list[str]:
    """Word n-gram shingles of an already-tokenized list: the analyzer of ES
    search_as_you_type ._2gram/._3gram subfields (reference
    import_dart_data.py:353-354,395-405). For fewer than n tokens, ES's
    shingle filter emits the whole (shorter) token run as one shingle;
    zero tokens emit nothing. Must agree with build._field_dl_col."""
    if not tokens:
        return []
    if len(tokens) < n:
        return [sep.join(tokens)]
    return [sep.join(tokens[j : j + n]) for j in range(len(tokens) - n + 1)]


def shingle_text(text: str, n: int, sep: str = SHINGLE_SEP) -> list[str]:
    """Driver-side shingle tokenizer (query analysis for shingle fields)."""
    return shingle_list(tokenize_text(text), n, sep)

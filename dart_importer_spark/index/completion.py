"""ES completion suggester: a dedicated prefix-optimized suggestion
structure built once from (input, weight[, contexts]) rows and queried
by typed prefix — ES's third suggester, next to the term and phrase
suggesters in query/engine.py (reference type-ahead need: the corp-name
lookup fields pinned as search_as_you_type subfields,
import_dart_data.py:353-354,395-405; completion is the ES-native API
for the same).

(The zero-setup counterpart is
:meth:`dart_importer_spark.query.engine.InvertedIndex.suggest_completion`
— an ad-hoc doc-valued suggester over any stored/runtime column, the
form the ES ``suggest`` body section drives; THIS module is the
prebuilt structure for suggest-heavy serving.)

ES backs completion with an in-memory FST per shard; the Spark-first
equivalent turns the FST's prefix walk into storage pruning:

- every entry lands in a ``p1`` partition = first char of the
  case-folded input, so a prefix query prunes to ONE partition. ES
  fuzzy completion keeps ``prefix_length=1`` exact by default, so even
  the fuzzy path stays partition-pruned.
- entries are sorted by ``input_folded`` within each partition, so
  parquet row-group min/max stats prune longer prefixes inside the
  partition (the startswith predicate pushes into the scan).
- top-k by (weight desc, input asc, doc_id asc) is a TakeOrdered —
  never a full sort.

At 100 TB corpus scale the suggestion table is dictionary-sized
(distinct inputs), orders of magnitude below the corpus; a suggest
query reads one partition's worth of row groups and shuffles nothing
except the k-row limit.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .commit import write_json

_FORMAT_VERSION = 1


def build_completion(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    input_col: str = "input",
    weight_col: str = "weight",
    doc_id_col: str = "doc_id",
    context_cols: Sequence[str] = (),
) -> dict:
    """Build a completion index from (input, weight, doc_id[, contexts])
    rows. Empty/null inputs are dropped (ES rejects empty completion
    inputs). Weights cast to long (ES completion weights are positive
    ints). Returns build metrics."""
    for c in (input_col, weight_col, doc_id_col, *context_cols):
        if c not in df.columns:
            raise ValueError(f"build_completion: missing column {c!r}")
    folded = F.lower(F.col(input_col))
    rows = (
        df.filter(F.col(input_col).isNotNull() & (F.length(folded) > 0))
        .select(
            F.col(input_col).cast("string").alias("input"),
            folded.alias("input_folded"),
            F.substring(folded, 1, 1).alias("p1"),
            F.col(weight_col).cast("long").alias("weight"),
            F.col(doc_id_col).cast("long").alias("doc_id"),
            *[F.col(c) for c in context_cols],
        )
    )
    (
        rows.repartition("p1")
        .sortWithinPartitions("p1", "input_folded")
        .write.mode("overwrite")
        # build_index sets the SESSION to dynamic partition overwrite; a
        # completion rebuild must replace the whole table, not just the
        # p1 partitions present in the new input (stale-prefix hazard)
        .option("partitionOverwriteMode", "static")
        .partitionBy("p1")
        .parquet(os.path.join(out_dir, "entries"))
    )
    n = spark.read.parquet(os.path.join(out_dir, "entries")).count()
    write_json(os.path.join(out_dir, "meta.json"), {
        "format_version": _FORMAT_VERSION,
        "context_cols": list(context_cols),
        "n_entries": n,
    })
    return {"n_entries": n}


class CompletionIndex:
    """Query side of the completion suggester."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.dir = path
        with open(os.path.join(path, "meta.json")) as f:
            self.meta = json.load(f)
        if self.meta.get("format_version") != _FORMAT_VERSION:
            raise ValueError(
                f"completion index at {path} has format_version "
                f"{self.meta.get('format_version')}, expected {_FORMAT_VERSION}"
            )

    def entries(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.dir, "entries"))

    @staticmethod
    def _auto_fuzziness(prefix: str) -> int:
        # same ES AUTO length bands as fuzzy search (query/engine.py)
        n = len(prefix)
        return 0 if n < 3 else (1 if n <= 5 else 2)

    def suggest(
        self,
        prefix: str,
        k: int = 5,
        skip_duplicates: bool = False,
        contexts: dict[str, Sequence] | None = None,
        fuzziness: int | str = 0,
        prefix_length: int = 1,
        min_length: int = 3,
    ) -> DataFrame:
        """ES completion suggest: entries whose case-folded input starts
        with the case-folded ``prefix``, top-k by (weight desc, input
        asc, doc_id asc).

        ``contexts`` filters on context columns declared at build (ES
        category contexts): {"lang": ["en", "ko"]} keeps entries whose
        lang is in the list.

        ``fuzziness`` (int or "AUTO", ES cap 2): additionally matches
        entries whose same-length stored prefix is within Damerau-
        Levenshtein distance of the typed prefix — this engine's exact
        contract for ES's FST-consumption fuzzy matching (documented so
        the DuckDB value oracle is a true equality). ES parity knobs:
        ``prefix_length`` (default 1) keeps the first N typed chars
        exact — at >= 1 the p1 partition pruning survives fuzz;
        ``min_length`` (default 3) disables fuzz for shorter prefixes.

        ``skip_duplicates`` keeps one entry per suggestion text — the
        highest-weight (then lowest doc_id), ES's duplicate-pruned
        stream."""
        p = prefix.lower()
        if not p:
            raise ValueError("suggest: prefix must be non-empty")
        if isinstance(fuzziness, str):
            if fuzziness.upper() != "AUTO":
                raise ValueError(
                    f"suggest: fuzziness must be an int or 'AUTO', "
                    f"got {fuzziness!r}"
                )
            fuzziness = self._auto_fuzziness(p)
        if len(p) < max(0, int(min_length)):
            fuzziness = 0  # ES min_length: short prefixes stay exact
        t = self.entries()
        if contexts:
            declared = set(self.meta["context_cols"])
            for col, vals in contexts.items():
                if col not in declared:
                    raise ValueError(
                        f"suggest: {col!r} is not a context column "
                        f"(declared: {sorted(declared)})"
                    )
                t = t.filter(F.col(col).isin(list(vals)))
        exact: Column = F.col("input_folded").startswith(p)
        if fuzziness <= 0:
            t = t.filter(F.col("p1") == p[:1]).filter(exact)
        else:
            from dart_importer_spark.query.engine import InvertedIndex

            pl = max(0, min(int(prefix_length), len(p)))
            stored = F.substring("input_folded", pl + 1, len(p) - pl)
            fuzzy = (
                InvertedIndex._dl_dist(stored, p[pl:], int(fuzziness))
                <= int(fuzziness)
            ) & (F.length("input_folded") >= len(p))
            if pl >= 1:
                # first typed char exact -> the p1 pruning survives
                t = t.filter(F.col("p1") == p[:1]).filter(
                    F.substring("input_folded", 1, pl) == p[:pl]
                )
            t = t.filter(exact | fuzzy)
        if skip_duplicates:
            w = Window.partitionBy("input").orderBy(
                F.desc("weight"), F.asc("doc_id")
            )
            t = (
                t.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        return (
            t.select("input", "weight", "doc_id")
            .orderBy(F.desc("weight"), F.asc("input"), F.asc("doc_id"))
            .limit(k)
        )

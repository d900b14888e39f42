"""ES ``indices.create`` parity: compile the reference's index-DDL dicts
(mappings + settings, import_dart_data.py:337-468) into a build plan.

The reference creates every index with ES mapping bodies of exactly this
shape::

    client.indices.create(
        index="corp_code",
        settings={"number_of_shards": 1},
        mappings={"properties": {
            "corp_code":   {"type": "search_as_you_type"},
            "corp_name":   {"type": "search_as_you_type"},
            "stock_code":  {"type": "text"},
            "modify_date": {"type": "date", "format": "yyyyMMdd"},
        }},
    )

:func:`create_index` accepts those dicts verbatim and translates them —
Spark-first, all schema-on-read, no data pass beyond the build itself:

- ``text``                → an analyzed indexed field (``text_cols``)
- ``search_as_you_type``  → the field plus its ``._2gram`` / ``._3gram``
  shingle subfields, the exact subfields ES synthesizes for that type
  (positions on, so match_phrase works — ES text fields index positions
  by default)
- ``date`` (+ ``format``) → a stored doc_stats column parsed with
  ``to_timestamp``; ES date formats are Java DateTimeFormatter patterns,
  which is precisely Spark's datetime-pattern dialect, so the format
  string passes through untranslated (``yyyyMMdd``, ``yyyy`` …;
  ``||``-chained formats try left to right, ``epoch_millis`` legs map to
  a cast)
- ``keyword`` / ``integer`` / ``long`` / ``short`` / ``byte`` /
  ``float`` / ``double`` / ``boolean`` → stored doc_stats columns with
  the matching Spark cast (ES keyword = stored-not-analyzed, which is
  what a doc_stats metadata column is)
- ``settings.number_of_shards`` → ``n_segments`` (the unit of build
  parallelism and resume, like a shard is ES's unit of distribution)

Unknown field types raise ``ValueError`` naming the supported set —
never a silently-dropped field. The mapping body is persisted next to
``meta.json`` so ``InvertedIndex.mapping()`` answers ``GET _mapping``.

Re-running against an existing index is the reference's
``ignore_status=400`` flow: same layout resumes (skip-if-present), a
LAYOUT change raises unless ``force=True`` (build_index's guard — the
analogue of ES refusing to mutate a live mapping in place).
"""
from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import BuildConfig, build_index
from .commit import read_json, write_json

_NUMERIC = {
    "integer": "int",
    "long": "bigint",
    "short": "smallint",
    "byte": "tinyint",
    "float": "float",
    "double": "double",
    "boolean": "boolean",
}
_SUPPORTED = sorted(
    {"text", "search_as_you_type", "keyword", "date"} | set(_NUMERIC)
)


def _parse_date(col, fmt: str | None):
    """ES date ``format`` → a timestamp expression. ``||`` chains try
    left-to-right (coalesce); epoch legs are casts."""
    legs = [f.strip() for f in (fmt or "strict_date_optional_time").split("||")]
    exprs = []
    for leg in legs:
        if leg in ("epoch_millis",):
            exprs.append(F.timestamp_millis(col.cast("bigint")))
        elif leg in ("epoch_second",):
            exprs.append(F.timestamp_seconds(col.cast("bigint")))
        elif leg in ("strict_date_optional_time", "date_optional_time"):
            exprs.append(F.to_timestamp(col.cast("string")))
        else:
            # ES date formats ARE Java DateTimeFormatter patterns — the
            # same dialect Spark's datetime patterns use; pass through
            exprs.append(F.to_timestamp(col.cast("string"), leg))
    return F.coalesce(*exprs) if len(exprs) > 1 else exprs[0]


def compile_mappings(
    mappings: dict | None, columns: list[str]
) -> tuple[list[str], list[tuple[str, int]], list[str], dict]:
    """(text_cols, shingle_fields, meta_cols, column_exprs) for
    build_index. ``column_exprs`` maps column name → transformed Column
    (date parses, numeric casts) to apply before the build."""
    props = (mappings or {}).get("properties", {})
    if not isinstance(props, dict):
        raise ValueError("mappings: expected {'properties': {...}}")
    text_cols: list[str] = []
    shingles: list[tuple[str, int]] = []
    meta_cols: list[str] = []
    exprs: dict = {}
    for name, spec in props.items():
        if not isinstance(spec, dict) or "type" not in spec:
            raise ValueError(
                f"mappings: field {name!r} needs a {{'type': ...}} dict"
            )
        if name not in columns:
            raise ValueError(
                f"mappings: field {name!r} is not a column of the input "
                f"(available: {sorted(columns)})"
            )
        typ = spec["type"]
        if typ == "text":
            text_cols.append(name)
        elif typ == "search_as_you_type":
            text_cols.append(name)
            shingles.extend([(name, 2), (name, 3)])
        elif typ == "keyword":
            meta_cols.append(name)
        elif typ == "date":
            meta_cols.append(name)
            exprs[name] = _parse_date(F.col(name), spec.get("format"))
        elif typ in _NUMERIC:
            meta_cols.append(name)
            exprs[name] = F.col(name).cast(_NUMERIC[typ])
        else:
            raise ValueError(
                f"mappings: unsupported type {typ!r} for field {name!r} "
                f"(supported: {_SUPPORTED})"
            )
    if not text_cols:
        raise ValueError("mappings: at least one text/search_as_you_type field")
    return text_cols, shingles, meta_cols, exprs


def create_index(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    mappings: dict,
    settings: dict | None = None,
    doc_key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    config: BuildConfig | None = None,
    force: bool = False,
) -> dict:
    """Build (or resume) an index from an ES ``indices.create`` body —
    see the module docstring for the translation. Returns build metrics.

    ``settings.number_of_shards`` overrides ``config.n_segments``; every
    other BuildConfig knob (buckets, target_run) comes from ``config``.
    ``store_positions`` is ON (ES text fields index positions by
    default — match_phrase must work on a mapped index)."""
    text_cols, shingles, meta_cols, exprs = compile_mappings(
        mappings, df.columns
    )
    cfg = config or BuildConfig()
    shards = int((settings or {}).get("number_of_shards", cfg.n_segments))
    cfg = BuildConfig(
        n_segments=shards,
        n_buckets=cfg.n_buckets,
        target_run=cfg.target_run,
        doc_id_partitions=cfg.doc_id_partitions,
        store_positions=True,
    )
    for name, expr in exprs.items():
        df = df.withColumn(name, expr)
    metrics = build_index(
        spark,
        df,
        out_dir,
        cfg,
        doc_key_cols=doc_key_cols,
        meta_cols=tuple(meta_cols),
        force=force,
        text_cols=tuple(text_cols),
        shingle_fields=tuple(shingles),
    )
    write_json(
        os.path.join(out_dir, "mapping.json"),
        {"mappings": mappings, "settings": settings or {}},
    )
    return metrics


# --------------------------------------------------------------------------
# index templates (ES _index_template): mapping bodies auto-applied to new
# indexes whose name matches a registered pattern — the reference creates a
# fresh dart-* index per corp/data-type, which is exactly the workflow
# templates exist for. One JSON registry file (``commit.write_json``), like
# the alias registry: template metadata is driver-side bookkeeping, never data.
# --------------------------------------------------------------------------


class TemplateError(ValueError):
    pass


class TemplateRegistry:
    """File-backed ES index-template registry under a base directory that
    holds one index per subdirectory."""

    def __init__(self, base_dir: str):
        self.base_dir = base_dir
        self.path = os.path.join(base_dir, "_index_templates.json")

    def _load(self) -> dict:
        return read_json(self.path) or {}

    def _save(self, data: dict) -> None:
        os.makedirs(self.base_dir, exist_ok=True)
        write_json(self.path, data)

    def put(
        self,
        name: str,
        index_patterns: list[str],
        mappings: dict,
        settings: dict | None = None,
        priority: int = 0,
    ) -> None:
        """PUT _index_template/{name}. The mapping body is validated NOW
        (compile_mappings dry-run against its own declared fields) so a
        broken template fails at registration, not at first index
        creation."""
        if not index_patterns:
            raise TemplateError("index template: need index_patterns")
        compile_mappings(
            mappings, list((mappings.get("properties") or {}).keys())
        )
        data = self._load()
        data[name] = {
            "index_patterns": list(index_patterns),
            "mappings": mappings,
            "settings": settings or {},
            "priority": int(priority),
        }
        self._save(data)

    def delete(self, name: str) -> None:
        data = self._load()
        if name not in data:
            raise TemplateError(f"no index template {name!r}")
        del data[name]
        self._save(data)

    def get(self) -> dict:
        return self._load()

    def resolve(self, index_name: str) -> dict | None:
        """The highest-priority template whose pattern matches — ES's
        composition rule for non-composable templates (ties raise, as ES
        rejects ambiguous priorities at create time)."""
        import fnmatch

        hits = [
            (t["priority"], nm, t)
            for nm, t in self._load().items()
            if any(fnmatch.fnmatch(index_name, p) for p in t["index_patterns"])
        ]
        if not hits:
            return None
        hits.sort(key=lambda h: (-h[0], h[1]))
        if len(hits) > 1 and hits[0][0] == hits[1][0]:
            raise TemplateError(
                f"index {index_name!r} matches templates "
                f"{hits[0][1]!r} and {hits[1][1]!r} at equal priority "
                f"{hits[0][0]} — set distinct priorities"
            )
        return hits[0][2]

    def create_index(
        self,
        spark: SparkSession,
        df: DataFrame,
        index_name: str,
        doc_key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
        config: BuildConfig | None = None,
        force: bool = False,
    ) -> dict:
        """Create ``{base_dir}/{index_name}`` with the matching template's
        mappings+settings applied — ES's create-with-template flow. No
        matching template raises (an untemplated create should go through
        create_index explicitly, not silently build a default layout)."""
        t = self.resolve(index_name)
        if t is None:
            raise TemplateError(
                f"no index template matches {index_name!r} — register one "
                "or call create_index() with explicit mappings"
            )
        return create_index(
            spark,
            df,
            os.path.join(self.base_dir, index_name),
            t["mappings"],
            settings=t["settings"],
            doc_key_cols=doc_key_cols,
            config=config,
            force=force,
        )

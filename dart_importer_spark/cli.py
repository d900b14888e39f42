"""Command-line entry point — the Spark-native counterpart of the
reference's argparse CLI (reference import_dart_data.py:682-719: main with
--import-data / --delete-index / --check-imported and the query helpers in
test.py). Runs under plain python or spark-submit:

    python -m dart_importer_spark build   --input tx.parquet --index ./idx
    python -m dart_importer_spark append  --input new.parquet --index ./idx
    python -m dart_importer_spark query   --index ./idx --q "삼성 전자" --k 10
    python -m dart_importer_spark search  --index ./idx --type sqs \
        --q 'data "part filter" merg* -window'
    python -m dart_importer_spark agg     --index ./idx --agg terms \
        --q "data" --by lang
    python -m dart_importer_spark count   --index ./idx [--where "role='user'"]
    python -m dart_importer_spark delete  --index ./idx --where "role='tool'"
    python -m dart_importer_spark compact --index ./idx --out ./idx2
    python -m dart_importer_spark refresh --landing ./landing --index ./idx

Results print as JSON lines (machine-readable, like the reference's
dump_json helpers).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F


def _spark(args):
    from .session import get_spark

    return get_spark("dart-importer-spark-cli", cores=args.cores)


def _cfg(args):
    from .index.build import BuildConfig

    return BuildConfig(n_segments=args.segments, n_buckets=args.buckets)


def _build_kwargs(args) -> dict:
    kw: dict = {"doc_key_cols": tuple(args.key_cols)}
    if args.text_cols:
        kw["text_cols"] = tuple(args.text_cols)
    else:
        kw["text_col"] = args.text_col
    if args.shingle:
        kw["shingle_fields"] = tuple(
            (s.rsplit(":", 1)[0], int(s.rsplit(":", 1)[1])) for s in args.shingle
        )
    return kw


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="dart_importer_spark")
    ap.add_argument("--cores", type=int, default=8)
    sub = ap.add_subparsers(dest="cmd", required=True)

    def add_build_opts(p):
        p.add_argument("--segments", type=int, default=8)
        p.add_argument("--buckets", type=int, default=16)
        p.add_argument("--key-cols", nargs="+", default=["conv_id", "turn_idx"])
        p.add_argument("--text-col", default="text")
        p.add_argument("--text-cols", nargs="+", default=None)
        p.add_argument("--shingle", nargs="+", default=None,
                       help="search_as_you_type subfields, e.g. text:2 text:3")

    p = sub.add_parser("build")
    p.add_argument("--input", required=True)
    p.add_argument("--index", required=True)
    p.add_argument("--force", action="store_true")
    add_build_opts(p)

    p = sub.add_parser(
        "create", help="build an index from an ES indices.create body"
    )
    p.add_argument("--input", required=True)
    p.add_argument("--index", required=True)
    p.add_argument("--body-file", required=True,
                   help="JSON {mappings: {...}, settings: {...}}")
    p.add_argument("--key-cols", nargs="+", default=["conv_id", "turn_idx"])
    p.add_argument("--buckets", type=int, default=16)
    p.add_argument("--force", action="store_true")

    p = sub.add_parser("mapping", help="GET _mapping")
    p.add_argument("--index", required=True)

    p = sub.add_parser("append")
    p.add_argument("--input", required=True)
    p.add_argument("--index", required=True)
    p.add_argument("--tag", default="cli")
    add_build_opts(p)

    p = sub.add_parser("query")
    p.add_argument("--index", required=True)
    p.add_argument("--q", required=True)
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--mode", choices=["or", "and"], default="or")
    p.add_argument("--field", default=None)
    p.add_argument("--where", default=None)
    p.add_argument("--offset", type=int, default=0)

    p = sub.add_parser("search", help="the round-3 query DSL surface")
    p.add_argument("--index", required=True)
    p.add_argument(
        "--type", required=True,
        choices=[
            "sqs", "qs", "mlt", "phrase", "phrase_prefix", "wildcard",
            "fuzzy", "regexp", "suggest", "sayt", "highlight",
            "span_near", "span_first", "span_or", "span_containing",
            "bool_prefix", "sort",
            "suggest_phrase", "phrase_scored", "rank_feature",
            "distance_feature", "pinned", "random_score",
            "combined_fields", "terms_lookup",
        ],
    )
    p.add_argument("--q", required=True)
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--field", default=None)
    p.add_argument("--operator", choices=["or", "and"], default="or")
    p.add_argument("--slop", type=int, default=0)
    p.add_argument("--max-expansions", type=int, default=50)
    p.add_argument("--unordered", action="store_true",
                   help="span_near: allow clauses in any order "
                        "(default requires order, the ES/Lucene default)")
    p.add_argument("--end", type=int, default=3,
                   help="span_first: first N token positions")
    p.add_argument("--little", default=None,
                   help="span_containing: the contained span term "
                        "(--q holds the big span's clause terms)")
    p.add_argument("--by", default=None,
                   help="sort: stored field to rank by (desc)")
    p.add_argument("--on", default=None,
                   help="rank_feature/distance_feature: numeric doc column")
    p.add_argument("--pivot", type=float, default=None,
                   help="rank_feature saturation/sigmoid pivot; "
                        "distance_feature pivot distance")
    p.add_argument("--origin", type=float, default=0.0,
                   help="distance_feature origin")
    p.add_argument("--fn", default="saturation",
                   choices=["saturation", "log", "sigmoid"],
                   help="rank_feature function")
    p.add_argument("--ids", default=None,
                   help="pinned: comma-separated doc ids, promoted order")
    p.add_argument("--seed", type=int, default=0,
                   help="random_score seed")
    p.add_argument("--fields", default=None,
                   help="combined_fields: comma-separated field[^boost] list")
    p.add_argument("--lookup-key", default=None,
                   help="terms_lookup: comma-separated doc key values")
    p.add_argument("--lookup-col", default=None,
                   help="terms_lookup: stored column supplying the terms")

    p = sub.add_parser("agg", help="aggregations over the match set")
    p.add_argument("--index", required=True)
    p.add_argument(
        "--agg", required=True,
        choices=[
            "terms", "stats", "histogram", "date_histogram", "cardinality",
            "percentiles", "facet_stats", "top_hits", "sig_terms", "collapse",
            "dh_pipeline", "dh_filled", "bucket_stats", "bucket_sort",
            "weighted_avg", "value_count", "boxplot", "mad",
            "top_metrics", "matrix_stats", "auto_date_histogram",
            "serial_diff", "rare_terms", "extended_stats", "range",
            "filters", "missing", "percentile_ranks", "string_stats",
            "t_test", "multi_terms", "global",
            "sig_text", "sampler", "div_sampler",
        ],
    )
    p.add_argument("--q", required=True)
    p.add_argument("--on", default=None, help="numeric/timestamp column")
    p.add_argument("--by", default=None, help="bucket column")
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--interval", default="month")
    p.add_argument("--shard-size", type=int, default=0,
                   help="sampler/div_sampler sample size; sig_text "
                        "foreground sample (0 = default / whole match set)")
    p.add_argument("--max-per-value", type=int, default=1,
                   help="div_sampler: max docs per --on value in the sample")
    p.add_argument("--target-buckets", type=int, default=10,
                   help="auto_date_histogram: coarsen until <= this many "
                        "buckets (--k stays the output row limit)")
    p.add_argument("--values", default=None,
                   help="percentile_ranks: comma-separated probe values")
    p.add_argument("--ranges", default=None,
                   help="range: comma-separated from:to pairs, blank = open "
                        "(e.g. ':100,100:400,400:')")
    p.add_argument("--filters", default=None,
                   help="filters: semicolon-separated name=SQL-expr pairs")
    p.add_argument("--cols", default=None,
                   help="filters/t_test: comma-separated doc_stats columns "
                        "the expressions reference")
    p.add_argument("--split", default=None,
                   help="t_test: SQL boolean expr naming sample A")

    p = sub.add_parser(
        "dsl", help="run an ES _search request body verbatim"
    )
    p.add_argument("--index", required=True)
    p.add_argument("--body", default=None,
                   help="the JSON request body (a curl _search payload)")
    p.add_argument("--body-file", default=None,
                   help="path to a file holding the JSON body")
    p.add_argument("--aggs", action="store_true",
                   help="run the body's aggs section instead of the hits")
    p.add_argument("--count", action="store_true",
                   help="run the body as _count instead of _search")
    p.add_argument("--validate", action="store_true",
                   help="ES _validate/query: compile only, report validity")
    p.add_argument("--scan", action="store_true",
                   help="ES helpers.scan: stream every matching doc as "
                        "NDJSON (unscored, snapshot-pinned scroll)")
    p.add_argument("--params", default=None,
                   help="ES _search/template: treat the body as a mustache "
                        "template source and render it with this params "
                        "JSON first")
    p.add_argument("--round", type=int, default=6,
                   help="round scores to this many decimals")
    p.add_argument("--emb", default=None,
                   help="embedding table parquet path (knn/retriever bodies)")
    p.add_argument("--emb-id-col", default="vec_id")
    p.add_argument("--emb-vec-col", default="embedding")

    p = sub.add_parser(
        "msearch", help="ES _msearch: an NDJSON file of header/body lines"
    )
    p.add_argument("--index", required=True)
    p.add_argument("--body-file", required=True,
                   help="NDJSON: alternating header and body lines "
                        "(headers may be empty {}; single-index engine)")
    p.add_argument("--round", type=int, default=6)

    p = sub.add_parser(
        "rank-eval", help="ES _rank_eval: score ranked results vs ratings"
    )
    p.add_argument("--index", required=True)
    p.add_argument("--body-file", required=True,
                   help='JSON {"requests": [{"id", "query", "ratings":'
                        ' {doc_id: rating}}], "metric": {...}}')

    p = sub.add_parser(
        "field-caps", help="ES _field_caps: per-field capabilities"
    )
    p.add_argument("--index", required=True)

    p = sub.add_parser(
        "stats", help="ES _stats: docs/deleted/store-size/segments"
    )
    p.add_argument("--index", required=True)

    p = sub.add_parser(
        "terms-enum", help="ES _terms_enum: enumerate a field's terms"
    )
    p.add_argument("--index", required=True)
    p.add_argument("--field", required=True)
    p.add_argument("--string", default=None, help="prefix to match")
    p.add_argument("--size", type=int, default=10)
    p.add_argument("--case-insensitive", action="store_true")
    p.add_argument("--search-after", default=None)

    p = sub.add_parser("count")
    p.add_argument("--index", required=True)
    p.add_argument("--where", default=None)

    p = sub.add_parser("delete")
    p.add_argument("--index", required=True)
    p.add_argument("--where", required=True)

    p = sub.add_parser("compact")
    p.add_argument("--index", required=True)
    p.add_argument("--out", required=True)

    p = sub.add_parser(
        "reindex", help="ES _reindex: re-analyze live docs into a new index"
    )
    p.add_argument("--index", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--where", default=None,
                   help="SQL predicate over stored doc columns")
    p.add_argument("--body", default=None,
                   help="ES query body JSON (reindex-with-query)")
    p.add_argument("--script", default=None,
                   help="transform JSON {column: SQL expression}")
    p.add_argument("--segments", type=int, default=0,
                   help="new layout (0 = keep source layout)")
    p.add_argument("--buckets", type=int, default=0)

    p = sub.add_parser(
        "update-by-query",
        help="ES _update_by_query: rewrite matching docs by a script "
             "into a new index epoch (copy-on-write; swap via alias "
             "rollover)",
    )
    p.add_argument("--index", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--body", default=None,
                   help="ES query body JSON (default: match_all)")
    p.add_argument("--script", required=True,
                   help="transform JSON {column: SQL expression}")

    p = sub.add_parser("refresh")
    p.add_argument("--landing", required=True)
    p.add_argument("--index", required=True)
    p.add_argument("--schema", default=None,
                   help="DDL schema of landing files (default: transcripts)")
    add_build_opts(p)

    p = sub.add_parser(
        "alias", help="ES _aliases: add/remove/list (file-backed registry)"
    )
    p.add_argument("--registry", required=True)
    p.add_argument("--add", nargs=2, metavar=("ALIAS", "INDEX"), default=None)
    p.add_argument("--filter", default=None,
                   help="query-DSL clause JSON for a filtered alias")
    p.add_argument("--write", action="store_true",
                   help="mark the added index as the alias's write index")
    p.add_argument("--remove", nargs="+", metavar="ALIAS_THEN_INDEX",
                   default=None,
                   help="alias name, optionally followed by one index dir")
    p.add_argument("--list", action="store_true")

    p = sub.add_parser(
        "rollover",
        help="ES _rollover: repoint the alias's write index when a "
             "max-docs/size/age condition is met",
    )
    p.add_argument("--registry", required=True)
    p.add_argument("--alias", required=True)
    p.add_argument("--new-index", required=True)
    p.add_argument("--max-docs", type=int, default=None)
    p.add_argument("--max-size-bytes", type=int, default=None)
    p.add_argument("--max-age-seconds", type=float, default=None)
    p.add_argument("--dry-run", action="store_true")

    p = sub.add_parser(
        "sql",
        help="ES _sql: SQL over the index with MATCH()/QUERY()/SCORE() "
             "full-text extensions (FROM idx)",
    )
    p.add_argument("--index", required=True)
    p.add_argument("--query", required=True)
    p.add_argument("--table", default="idx")
    p.add_argument("--round", type=int, default=6,
                   help="round SCORE() to this many decimals")

    p = sub.add_parser(
        "esql",
        help="ES|QL _query: pipe queries over the index "
             '(FROM idx | WHERE MATCH(text, "...") | STATS ... BY ...)',
    )
    p.add_argument("--index", required=True)
    p.add_argument("--query", required=True)
    p.add_argument("--table", default="idx",
                   help="name the index resolves to in FROM")

    p = sub.add_parser(
        "script-score",
        help="ES script_score: Painless expression rescore "
             "(_score, doc['f'].value, params.x, Math.*)",
    )
    p.add_argument("--index", required=True)
    p.add_argument("--q", required=True)
    p.add_argument("--script", required=True)
    p.add_argument("--params", default=None, help="JSON params object")
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--min-score", type=float, default=None)
    p.add_argument("--field", default=None)
    p.add_argument("--round", type=int, default=6)

    p = sub.add_parser(
        "snapshot",
        help="ES _snapshot: create/list/delete incremental file-level "
             "backups in a repository directory",
    )
    p.add_argument("--repo", required=True)
    p.add_argument("--create", default=None, metavar="NAME")
    p.add_argument("--index", default=None,
                   help="index dir to snapshot (with --create)")
    p.add_argument("--delete", default=None, metavar="NAME")
    p.add_argument("--list", action="store_true")

    p = sub.add_parser(
        "restore",
        help="ES _restore: materialize a snapshot as a fresh index dir",
    )
    p.add_argument("--repo", required=True)
    p.add_argument("--name", required=True)
    p.add_argument("--out", required=True)

    p = sub.add_parser(
        "alias-search",
        help="GET <alias>/_search: body across member indexes, stored "
             "alias filters applied, merged by score",
    )
    p.add_argument("--registry", required=True)
    p.add_argument("--alias", required=True)
    p.add_argument("--body", default=None)
    p.add_argument("--body-file", default=None)
    p.add_argument("--count", action="store_true")
    p.add_argument("--round", type=int, default=6)

    args = ap.parse_args(argv)
    spark = _spark(args)

    if args.cmd == "build":
        from .index.build import build_index

        m = build_index(
            spark, spark.read.parquet(args.input), args.index, _cfg(args),
            force=args.force, **_build_kwargs(args),
        )
        print(json.dumps({k: v for k, v in m.items() if k != "phases"}, default=str))
    elif args.cmd == "create":
        from .index.build import BuildConfig
        from .index.ddl import create_index

        with open(args.body_file) as fh:
            ddl_body = json.load(fh)
        m = create_index(
            spark, spark.read.parquet(args.input), args.index,
            mappings=ddl_body.get("mappings", {}),
            settings=ddl_body.get("settings"),
            doc_key_cols=tuple(args.key_cols),
            config=BuildConfig(n_buckets=args.buckets),
            force=args.force,
        )
        print(json.dumps({k: v for k, v in m.items() if k != "phases"},
                         default=str))
    elif args.cmd == "mapping":
        from .query.engine import InvertedIndex

        print(json.dumps(InvertedIndex(spark, args.index).mapping(),
                         indent=1))
    elif args.cmd == "append":
        from .index.build import append_index

        m = append_index(
            spark, spark.read.parquet(args.input), args.index,
            batch_tag=args.tag, **_build_kwargs(args),
        )
        print(json.dumps(m, default=str))
    elif args.cmd == "query":
        from .query.engine import InvertedIndex

        ix = InvertedIndex(spark, args.index)
        flt = F.expr(args.where) if args.where else None
        rows = ix.topk(
            args.q, k=args.k, mode=args.mode, field=args.field,
            filters=flt, offset=args.offset, with_meta=True,
        ).collect()
        for r in rows:
            print(json.dumps(r.asDict(), default=str))
    elif args.cmd == "search":
        from .query.engine import InvertedIndex

        ix = InvertedIndex(spark, args.index)
        t, q, k, fld = args.type, args.q, args.k, args.field
        if t == "sqs":
            df = ix.simple_query_string(
                q, k=k, default_operator=args.operator, field=fld,
                max_expansions=args.max_expansions,
            )
        elif t == "qs":
            df = ix.query_string(
                q, k=k, default_operator=args.operator, field=fld,
                max_expansions=args.max_expansions,
            )
        elif t == "mlt":
            df = ix.more_like_this(q, k=k, field=fld)
        elif t == "phrase":
            df = ix.match_phrase(q, k=k, field=fld, slop=args.slop)
        elif t == "phrase_prefix":
            df = ix.match_phrase_prefix(
                q, k=k, field=fld, max_expansions=args.max_expansions
            )
        elif t == "wildcard":
            df = ix.wildcard(q, k=k, field=fld, max_expansions=args.max_expansions)
        elif t == "fuzzy":
            df = ix.fuzzy(q, k=k, field=fld, max_expansions=args.max_expansions)
        elif t == "regexp":
            df = ix.regexp(q, k=k, field=fld, max_expansions=args.max_expansions)
        elif t == "suggest":
            df = ix.suggest_terms(q, k=k, field=fld)
        elif t == "sayt":
            df = ix.search_as_you_type(q, k=k, base_field=fld,
                                       max_expansions=args.max_expansions)
        elif t == "span_near":
            df = ix.span_near(
                q.split(), slop=args.slop, in_order=not args.unordered,
                k=k, field=fld,
            )
        elif t == "span_first":
            df = ix.span_first(q, args.end, k=k, field=fld)
        elif t == "span_or":
            df = ix.span_or(
                [c.strip() for c in q.split(",") if c.strip()], k=k, field=fld
            )
        elif t == "span_containing":
            if not args.little:
                raise SystemExit("span_containing requires --little")
            df = ix.span_containing(
                q.split(), args.little, slop=args.slop,
                in_order=not args.unordered, k=k, field=fld,
            )
        elif t == "bool_prefix":
            df = ix.match_bool_prefix(
                q, k=k, field=fld, max_expansions=args.max_expansions
            )
        elif t == "suggest_phrase":
            df = ix.suggest_phrase(q, k=k, field=fld)
        elif t == "phrase_scored":
            df = ix.match_phrase_scored(q, k=k, field=fld)
        elif t == "sort":
            if not args.by:
                ap.error("search --type sort requires --by <column>")
            df = ix.sort_by(q, by=args.by, k=k, field=fld)
        elif t == "rank_feature":
            if not args.on:
                ap.error("search --type rank_feature requires --on <column>")
            df = ix.rank_feature(q, k=k, on=args.on, fn=args.fn,
                                 pivot=args.pivot, field=fld)
        elif t == "distance_feature":
            if not args.on or args.pivot is None:
                ap.error("search --type distance_feature requires --on and "
                         "--pivot")
            df = ix.distance_feature(q, k=k, on=args.on, origin=args.origin,
                                     pivot=args.pivot, field=fld)
        elif t == "pinned":
            if not args.ids:
                ap.error("search --type pinned requires --ids")
            df = ix.pinned(q, ids=[int(i) for i in args.ids.split(",")],
                           k=k, field=fld)
        elif t == "random_score":
            df = ix.random_score(q, seed=args.seed, k=k, field=fld)
        elif t == "combined_fields":
            if not args.fields:
                ap.error("search --type combined_fields requires --fields")
            df = ix.combined_fields(q, fields=args.fields.split(","), k=k)
        elif t == "terms_lookup":
            if not args.lookup_key or not args.lookup_col:
                ap.error("search --type terms_lookup requires --lookup-key "
                         "and --lookup-col (--q is unused)")
            key = tuple(
                int(v) if v.lstrip("-").isdigit() else v
                for v in args.lookup_key.split(",")
            )
            df = ix.terms_lookup(key, args.lookup_col, field=fld, k=k)
        else:  # highlight
            df = ix.highlight(q, k=k, field=fld)
        for r in df.collect():
            print(json.dumps(r.asDict(), default=str))
    elif args.cmd == "agg":
        from .query.engine import InvertedIndex

        ix = InvertedIndex(spark, args.index)
        a, q, k = args.agg, args.q, args.k
        needs_on = {"stats", "histogram", "date_histogram", "cardinality",
                    "percentiles", "facet_stats", "dh_pipeline", "dh_filled",
                    "bucket_stats", "weighted_avg", "value_count", "boxplot",
                    "mad", "top_metrics", "matrix_stats",
                    "auto_date_histogram", "serial_diff", "extended_stats",
                    "range", "missing", "percentile_ranks", "string_stats",
                    "t_test", "global"}
        needs_by = {"terms", "facet_stats", "top_hits", "collapse",
                    "bucket_sort", "weighted_avg", "top_metrics",
                    "matrix_stats", "rare_terms", "multi_terms"}
        if a in needs_on and not args.on:
            ap.error(f"agg --agg {a} requires --on <column>")
        if a in needs_by and not args.by:
            ap.error(f"agg --agg {a} requires --by <column>")
        if a == "histogram":
            try:
                hist_interval = float(args.interval)
            except ValueError:
                ap.error(
                    "agg --agg histogram needs a NUMERIC --interval "
                    "(calendar intervals belong to date_histogram)"
                )
        if a == "terms":
            df = ix.facet(q, by=args.by, k=k)
        elif a == "stats":
            df = ix.stats_agg(q, on=args.on)
        elif a == "histogram":
            df = ix.histogram(q, by=args.on, interval=hist_interval)
        elif a == "date_histogram":
            df = ix.date_histogram(q, on=args.on, interval=args.interval)
        elif a == "cardinality":
            df = ix.cardinality(q, on=args.on)
        elif a == "percentiles":
            df = ix.percentiles(q, on=args.on)
        elif a == "facet_stats":
            df = ix.facet_stats(q, by=args.by, on=args.on, k=k)
        elif a == "top_hits":
            df = ix.top_hits(q, by=args.by, size=k)
        elif a == "sig_terms":
            df = ix.significant_terms(q, k=k)
        elif a == "sig_text":
            # duplicate-text filtering needs the text meta column; the CLI
            # build does not store it by default, so expose the sampled
            # foreground here and leave dup-filtering to the dsl command
            # over indexes that carry text
            df = ix.significant_text(
                q, k=k, filter_duplicate_text="text" in ix.doc_stats().columns,
                sample_size=args.shard_size if args.shard_size > 0 else None,
            )
        elif a == "sampler":
            df = ix.sampler_agg(
                q, by=args.by, k=k,
                shard_size=args.shard_size if args.shard_size > 0 else 100,
            )
        elif a == "div_sampler":
            if not args.on:
                raise SystemExit(
                    "div_sampler requires --on (the de-biasing value column)"
                )
            df = ix.sampler_agg(
                q, by=args.by, k=k,
                shard_size=args.shard_size if args.shard_size > 0 else 100,
                diversify_on=args.on, max_docs_per_value=args.max_per_value,
            )
        elif a == "dh_pipeline":
            df = ix.date_histogram_pipeline(q, on=args.on, interval=args.interval)
        elif a == "dh_filled":
            df = ix.date_histogram_filled(q, on=args.on, interval=args.interval)
        elif a == "bucket_stats":
            df = ix.bucket_stats_pipeline(q, on=args.on, interval=args.interval)
        elif a == "bucket_sort":
            df = ix.bucket_sort(q, by=args.by, size=k)
        elif a == "weighted_avg":   # --on value, --by weight
            df = ix.weighted_avg(q, value=args.on, weight=args.by)
        elif a == "value_count":
            df = ix.value_count(q, on=args.on)
        elif a == "boxplot":
            df = ix.boxplot(q, on=args.on)
        elif a == "mad":
            df = ix.median_absolute_deviation(q, on=args.on)
        elif a == "top_metrics":    # --on metric, --by sort column
            df = ix.top_metrics(q, metric=args.on, sort=args.by)
        elif a == "matrix_stats":   # --on first column, --by second
            df = ix.matrix_stats(q, col_a=args.on, col_b=args.by)
        elif a == "auto_date_histogram":
            df = ix.auto_date_histogram(
                q, on=args.on, target_buckets=args.target_buckets
            )
        elif a == "serial_diff":
            df = ix.serial_diff(q, on=args.on, interval=args.interval)
        elif a == "rare_terms":
            df = ix.rare_terms(q, by=args.by, k=k)
        elif a == "extended_stats":
            df = ix.extended_stats_agg(q, on=args.on)
        elif a == "missing":
            df = ix.missing_agg(q, on=args.on)
        elif a == "string_stats":
            df = ix.string_stats(q, on=args.on)
        elif a == "global":
            df = ix.global_agg(q, on=args.on)
        elif a == "percentile_ranks":
            if not args.values:
                ap.error("agg --agg percentile_ranks requires --values")
            df = ix.percentile_ranks(
                q, on=args.on,
                values=[float(v) for v in args.values.split(",") if v.strip()],
            )
        elif a == "range":
            if not args.ranges:
                ap.error("agg --agg range requires --ranges")
            ranges = []
            for pair in args.ranges.split(","):
                lo, _, hi = pair.partition(":")
                ranges.append(
                    (float(lo) if lo.strip() else None,
                     float(hi) if hi.strip() else None)
                )
            df = ix.range_agg(q, on=args.on, ranges=ranges)
        elif a == "filters":
            if not args.filters or not args.cols:
                ap.error("agg --agg filters requires --filters and --cols")
            named = {}
            for pair in args.filters.split(";"):
                name, _, expr = pair.partition("=")
                if not name.strip() or not expr.strip():
                    ap.error(f"agg --filters: malformed pair {pair!r}")
                named[name.strip()] = F.expr(expr)
            df = ix.filters_agg(q, named, cols=args.cols.split(","))
        elif a == "t_test":
            if not args.split:
                ap.error("agg --agg t_test requires --split <bool expr>")
            df = ix.t_test(
                q, on=args.on, split=F.expr(args.split),
                cols=args.cols.split(",") if args.cols else (),
            )
        elif a == "multi_terms":
            df = ix.multi_terms(q, by=args.by.split(","), k=k)
        else:  # collapse
            df = ix.collapse(q, by=args.by, k=k)
        for r in df.collect():
            print(json.dumps(r.asDict(), default=str))
    elif args.cmd == "dsl":
        from .query.engine import InvertedIndex

        if (args.body is None) == (args.body_file is None):
            raise SystemExit("dsl: pass exactly one of --body / --body-file")
        raw = (
            args.body if args.body is not None
            else open(args.body_file).read()
        )
        body = json.loads(raw)
        ix = InvertedIndex(spark, args.index)
        emb = spark.read.parquet(args.emb) if args.emb else None
        if args.params is not None:
            from .query.dsl import render_template

            body = render_template(body, json.loads(args.params))
        if args.validate:
            from .query.dsl import validate as _dsl_validate

            print(json.dumps(_dsl_validate(
                ix, body, emb=emb,
                emb_id_col=args.emb_id_col, emb_vec_col=args.emb_vec_col,
            )))
        elif args.count:
            print(json.dumps({"count": ix.count_body(body)}))
        elif args.scan:
            for doc in ix.scan(body):
                print(json.dumps(doc, default=str))
        elif args.aggs:
            for name, df in ix.search_aggs(body).items():
                for r in df.collect():
                    print(json.dumps({"agg": name, **r.asDict()},
                                     default=str))
        else:
            df = ix.search(
                body, round_scores=args.round, emb=emb,
                emb_id_col=args.emb_id_col, emb_vec_col=args.emb_vec_col,
            )
            for r in df.collect():
                print(json.dumps(r.asDict(), default=str))
    elif args.cmd == "msearch":
        from .query.dsl import msearch as _dsl_msearch
        from .query.engine import InvertedIndex

        lines = [
            json.loads(s) for s in open(args.body_file)
            if s.strip()
        ]
        if len(lines) % 2:
            raise SystemExit(
                "msearch: NDJSON must alternate header and body lines"
            )
        bodies = {f"s{i}": lines[2 * i + 1] for i in range(len(lines) // 2)}
        ix = InvertedIndex(spark, args.index)
        for qid, df in _dsl_msearch(ix, bodies, round_scores=args.round).items():
            for r in df.collect():
                print(json.dumps({"query_id": qid, **r.asDict()},
                                 default=str))
    elif args.cmd == "rank-eval":
        from .query.engine import InvertedIndex

        body = json.loads(open(args.body_file).read())
        ix = InvertedIndex(spark, args.index)
        reqs = [
            {**r, "ratings": {int(k): v for k, v in r["ratings"].items()}}
            for r in body["requests"]
        ]
        for r in ix.rank_eval(reqs, body["metric"]).collect():
            print(json.dumps(r.asDict(), default=str))
    elif args.cmd == "field-caps":
        from .query.engine import InvertedIndex

        print(json.dumps(InvertedIndex(spark, args.index).field_caps(),
                         indent=1))
    elif args.cmd == "stats":
        from .query.engine import InvertedIndex

        print(json.dumps(InvertedIndex(spark, args.index).index_stats(),
                         indent=1))
    elif args.cmd == "alias":
        from .index.aliases import AliasRegistry

        reg = AliasRegistry(args.registry)
        if args.add:
            filt = json.loads(args.filter) if args.filter else None
            reg.put(args.add[0], args.add[1], filter=filt,
                    is_write_index=args.write)
            print(json.dumps({"acknowledged": True}))
        elif args.remove:
            if len(args.remove) > 2:
                raise SystemExit("alias --remove takes ALIAS [INDEX]")
            reg.remove(args.remove[0],
                       args.remove[1] if len(args.remove) > 1 else None)
            print(json.dumps({"acknowledged": True}))
        else:
            print(json.dumps(reg.get(), indent=1))
    elif args.cmd == "rollover":
        from .index.aliases import AliasRegistry
        from .index.aliases import rollover as _rollover

        print(json.dumps(_rollover(
            spark, AliasRegistry(args.registry), args.alias, args.new_index,
            max_docs=args.max_docs, max_size_bytes=args.max_size_bytes,
            max_age_seconds=args.max_age_seconds, dry_run=args.dry_run,
        )))
    elif args.cmd == "sql":
        from .query.engine import InvertedIndex

        ix = InvertedIndex(spark, args.index)
        for r in ix.sql(args.query, table=args.table,
                        round_scores=args.round).collect():
            print(json.dumps(r.asDict(), default=str))
    elif args.cmd == "esql":
        from .query.engine import InvertedIndex
        from .query.esql import EsqlEngine

        ix = InvertedIndex(spark, args.index)
        eng = EsqlEngine(spark, {args.table: ix})
        for r in eng.query(args.query).collect():
            print(json.dumps(r.asDict(), default=str))
    elif args.cmd == "script-score":
        from .query.engine import InvertedIndex

        ix = InvertedIndex(spark, args.index)
        params = json.loads(args.params) if args.params else None
        for r in ix.script_score(
            args.q, args.script, params=params, k=args.k,
            min_score=args.min_score, field=args.field,
            round_scores=args.round,
        ).collect():
            print(json.dumps(r.asDict(), default=str))
    elif args.cmd == "snapshot":
        from .index.snapshot import SnapshotRepo

        repo = SnapshotRepo(args.repo)
        if args.create:
            if not args.index:
                raise SystemExit("snapshot --create needs --index")
            print(json.dumps(repo.create(args.create, args.index)))
        elif args.delete:
            print(json.dumps(repo.delete(args.delete)))
        else:
            print(json.dumps(repo.list(), indent=1))
    elif args.cmd == "restore":
        from .index.snapshot import SnapshotRepo

        print(json.dumps(SnapshotRepo(args.repo).restore(args.name,
                                                         args.out)))
    elif args.cmd == "alias-search":
        from .index.aliases import AliasRegistry, count_alias, search_alias

        if (args.body is None) == (args.body_file is None):
            raise SystemExit(
                "alias-search: pass exactly one of --body / --body-file"
            )
        raw = (
            args.body if args.body is not None
            else open(args.body_file).read()
        )
        body = json.loads(raw)
        reg = AliasRegistry(args.registry)
        if args.count:
            print(json.dumps(
                {"count": count_alias(spark, reg, args.alias, body)}
            ))
        else:
            hits = search_alias(spark, reg, args.alias, body,
                                round_scores=args.round)
            for r in hits.collect():
                print(json.dumps(r.asDict(), default=str))
    elif args.cmd == "terms-enum":
        from .query.engine import InvertedIndex

        ix = InvertedIndex(spark, args.index)
        rows = ix.terms_enum(
            args.field, string=args.string, size=args.size,
            case_insensitive=args.case_insensitive,
            search_after=args.search_after,
        ).collect()
        print(json.dumps({"terms": [r["term"] for r in rows]}))
    elif args.cmd == "count":
        from .query.engine import InvertedIndex

        ix = InvertedIndex(spark, args.index)
        flt = F.expr(args.where) if args.where else None
        print(json.dumps({"count": ix.count(flt)}))
    elif args.cmd == "delete":
        from .query.engine import InvertedIndex

        ix = InvertedIndex(spark, args.index)
        print(json.dumps({"deleted": ix.delete_by_query(F.expr(args.where))}))
    elif args.cmd == "compact":
        from .index.merge import compact_index

        print(json.dumps(compact_index(spark, args.index, args.out), default=str))
    elif args.cmd == "reindex":
        from .index.build import BuildConfig
        from .index.merge import reindex_index

        cfg = None
        if args.segments or args.buckets:
            from .index.commit import read_meta

            m = read_meta(args.index)
            cfg = BuildConfig(
                n_segments=args.segments or int(m["n_segments"]),
                n_buckets=args.buckets or int(m["n_buckets"]),
                store_positions=bool(m.get("store_positions")),
            )
        out = reindex_index(
            spark, args.index, args.out, config=cfg,
            where=F.expr(args.where) if args.where else None,
            body=json.loads(args.body) if args.body else None,
            script=json.loads(args.script) if args.script else None,
        )
        print(json.dumps(out, default=str))
    elif args.cmd == "update-by-query":
        from .index.merge import update_by_query_index

        out = update_by_query_index(
            spark, args.index, args.out,
            body=json.loads(args.body) if args.body else None,
            script=json.loads(args.script),
        )
        print(json.dumps(out, default=str))
    elif args.cmd == "refresh":
        from .datagen import TRANSCRIPTS_SCHEMA
        from .streaming.refresh import incremental_refresh

        schema = args.schema or TRANSCRIPTS_SCHEMA
        ms = incremental_refresh(
            spark, args.landing, args.index, schema, _cfg(args), **_build_kwargs(args)
        )
        print(json.dumps(ms, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())

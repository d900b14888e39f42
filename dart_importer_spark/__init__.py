"""dart_importer_spark — a PySpark-native inverted-index + BM25 top-k engine.

A from-scratch re-expression of the query/data-processing capabilities of the
reference repo ``tohichoi/dart-importer`` (which delegates all indexing and
full-text query to Elasticsearch/Lucene). Here the inverted index — posting
lists, compression, positions, document statistics, merge, block-max top-k
scoring — is built natively on Spark DataFrames plus vectorized pandas/Arrow
UDFs.

Layout
------
- ``functions``  : tokenizer + shingle analyzers (pinned spec), varbyte/delta
                   codec, portable oracle hashing
- ``index``      : fielded index build (postings/term_dict/doc_stats),
                   one meta.json commit record (corpus counters, lineage)
                   + checkpoint-resume,
                   O(batch) monotone appends, segment merge/compaction
- ``query``      : BM25 top-k (block-max pruning), fielded match, bool
                   (must+should), multi_match, match_phrase (positional),
                   search_as_you_type, wildcard/fuzzy/exists/range filters,
                   facet, count, get-by-id, delete_by_query
- ``operators``  : dedup (exact/minhash-LSH/simhash/ngram-jaccard/embedding),
                   similarity search (brute-force + persisted LSH ANN),
                   text analysis, interval joins, sessionization, multimodal
- ``sources``    : zipped-XML archives -> DataFrame
- ``streaming``  : incremental index refresh (foreachBatch, exactly-once)
- ``cli``        : ``python -m dart_importer_spark`` command-line entry point
"""

__version__ = "0.2.0"

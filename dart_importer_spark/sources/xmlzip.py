"""Zipped-XML source: zip archives of XML documents -> DataFrame.

The reference downloads DART's corpCode archive and parses CORPCODE.xml out
of it single-threaded on the driver (reference import_dart_data.py:107-111
``download_corp_code``, :194-216 ``generate_corp_code_doc`` — zipfile +
BeautifulSoup row loop). Spark-native form: ``binaryFile`` source (one task
per archive — zips are not splittable, parallelism = number of archives),
unzip + stream-parse inside ``mapInPandas``.

Scale notes:
- xml.etree ``iterparse`` streams each member with ``elem.clear()`` after
  every record, so task memory is O(record), not O(member).
- rows are yielded in Arrow batches; no per-row Python beyond the parser
  itself (the unavoidable cost of an XML wire format).
- the reference's skip-if-downloaded resume (S2) is subsumed by the index
  lineage: re-ingesting an unchanged archive re-derives the same rows and
  the fingerprint-gated build skips every segment.
"""

from __future__ import annotations

import io
import zipfile
from typing import Iterator
from xml.etree import ElementTree

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


def read_zipped_xml(
    spark: SparkSession,
    path: str,
    record_tag: str,
    fields: tuple[str, ...],
    member_suffix: str = ".xml",
) -> DataFrame:
    """Parse every ``<record_tag>`` element of every ``*.xml`` member of
    every zip under ``path`` into one row per record; ``fields`` are child
    element tags extracted as strings (missing -> null). Adds ``src_file``
    (archive path) for lineage."""
    schema = ", ".join(f"`{f}` string" for f in fields) + ", src_file string"

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                out: dict[str, list] = {f: [] for f in fields}
                n = 0
                with zipfile.ZipFile(io.BytesIO(row.content)) as zf:
                    for name in zf.namelist():
                        if not name.endswith(member_suffix):
                            continue
                        with zf.open(name) as fh:
                            # iterparse streams; clear() keeps memory O(record)
                            for _, elem in ElementTree.iterparse(fh, events=("end",)):
                                if elem.tag != record_tag:
                                    continue
                                for f in fields:
                                    out[f].append(elem.findtext(f))
                                n += 1
                                elem.clear()
                if n:
                    out_pdf = pd.DataFrame(out)
                    out_pdf["src_file"] = row.path
                    yield out_pdf

    bf = spark.read.format("binaryFile").load(path).select("path", "content")
    return bf.mapInPandas(parse, schema=schema)

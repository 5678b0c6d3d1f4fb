"""Minimal WARC (Web ARChive) source — Common Crawl's native format.

The corpus contract (`BASELINE.json` input_hint) is an Iceberg/parquet
pages table; real crawls START from WARC files, so this source turns
`WARC/1.0` response records into exactly that schema: ``(url, warc_ts,
html)``.

Scale design: records are split by Spark's TEXT source with a custom
record separator (``lineSep = "WARC/1.0\\r\\n"``) — the JVM reader splits
large files at record boundaries across tasks, no whole-file
single-row reads, no Python in the parse path. Header fields and the
payload are extracted with built-in expressions (regexp_extract /
substring_index), so the whole source stays in whole-stage codegen.

Deliberately minimal: plain (uncompressed) WARC; ``.gz`` members load
via the text source's codec support but are non-splittable per file —
at 100 TB you either store per-record-gzip WARCs (CC's actual layout,
one task per member) or land the corpus into parquet once and scan
that ever after (the engine's main path).

Format (ISO 28500): each record is ``WARC/1.0\\r\\n`` + header lines +
``\\r\\n\\r\\n`` + payload; response payloads are full HTTP responses, so
the html body starts after the SECOND blank line of the record.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

_SEP = "WARC/1.0\r\n"


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Parse WARC response records at ``path`` into ``(url, warc_ts,
    html)``. Non-response records (request, metadata, warcinfo) are
    dropped; the record's trailing ``\\r\\n\\r\\n`` separator is stripped."""
    raw = spark.read.text(path, lineSep=_SEP)
    rec = F.col("value")
    wtype = F.regexp_extract(rec, r"WARC-Type:\s*([^\r\n]+)", 1)
    url = F.regexp_extract(rec, r"WARC-Target-URI:\s*([^\r\n]+)", 1)
    ts = F.to_timestamp(
        F.regexp_extract(rec, r"WARC-Date:\s*([^\r\n]+)", 1),
        "yyyy-MM-dd'T'HH:mm:ss'Z'",
    )
    # record = WARC headers  BLANK  http headers  BLANK  body [BLANK]
    # body := text after the 2nd blank line, trailing separator stripped
    # substring_index(…, 2) = headers + 1st blank + http headers, so the
    # body begins 4 separator chars + 1 (1-based substring) past its end
    after2 = F.expr(
        "substring(value, length(substring_index(value, '\r\n\r\n', 2)) + 5)"
    )
    # strip the record's trailing separator artifacts (any CR/LF run —
    # writers differ in whether a bare \n follows the \r\n\r\n separator)
    body = F.regexp_replace(after2, r"[\r\n]+$", "")
    return (
        raw.filter(wtype == "response")
        .select(url.alias("url"), ts.alias("warc_ts"), body.alias("html"))
    )


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """Parse WET conversion records (Common Crawl's extracted-TEXT
    sibling of WARC — ``WARC-Type: conversion``, plain-text body after
    ONE blank line, no HTTP header block) into ``(url, warc_ts, text)``.
    Same text-source + codegen-parse shape as :func:`read_warc`; a
    pipeline that consumes CC-WET instead of raw WARC starts here and
    skips html extraction entirely."""
    raw = spark.read.text(path, lineSep=_SEP)
    rec = F.col("value")
    wtype = F.regexp_extract(rec, r"WARC-Type:\s*([^\r\n]+)", 1)
    url = F.regexp_extract(rec, r"WARC-Target-URI:\s*([^\r\n]+)", 1)
    ts = F.to_timestamp(
        F.regexp_extract(rec, r"WARC-Date:\s*([^\r\n]+)", 1),
        "yyyy-MM-dd'T'HH:mm:ss'Z'",
    )
    # conversion record = WARC headers  BLANK  text body — the body
    # starts 4 separator chars + 1 past the FIRST blank line
    after1 = F.expr(
        "substring(value, length(substring_index(value, '\r\n\r\n', 1)) + 5)"
    )
    body = F.regexp_replace(after1, r"[\r\n]+$", "")
    return (
        raw.filter(wtype == "conversion")
        .select(url.alias("url"), ts.alias("warc_ts"), body.alias("text"))
    )

"""WARC (Web ARChive, ISO 28500) source — the container format crawl dumps
ship in (Common Crawl publishes ~1 GiB gzipped WARC segments), parsed with
the stdlib alone (gzip + byte scanning, no warcio dependency).

This is the step BEFORE everything else in the crawl pipeline:
``read_warc`` -> :func:`~duckdb_vss_spark.operators.web.extract_html_text`
-> URL curation (:mod:`~duckdb_vss_spark.operators.web`) -> dedup/quality.

Format notes (ISO 28500 §4): a WARC file is a sequence of records, each

    WARC/1.0\r\n
    <header-name>: <value>\r\n ...
    \r\n
    <Content-Length bytes of block>
    \r\n\r\n

``response`` records carry an HTTP response (status line + headers + body)
as their block. A ``.warc.gz`` is one gzip MEMBER per record, but
``gzip.decompress`` handles concatenated members transparently, so the
same byte scanner serves both.

Scale shape: files arrive via Spark's ``binaryFile`` source — ONE file per
row/task, whole-file bytes in memory (that is also how real pipelines
process Common Crawl: the ~1 GiB segment is the parallelism unit). Records
never shuffle: parsing is ``mapInPandas``, and the output rows carry only
the fields + body. Set ``spark.sql.execution.arrow.maxRecordsPerBatch=1``
upstream if segment sizes approach executor memory; for > a few GiB per
file, split segments at the archive level (the format is record-aligned
under gzip, so any member boundary is a valid split).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

__all__ = ["parse_warc_bytes", "read_warc"]

_SCHEMA = (
    "warc_file string, record_id string, warc_type string, url string, "
    "warc_date string, content_type string, http_status int, "
    "http_content_type string, body binary, n_bytes long"
)


def _parse_http_block(block: bytes):
    """Split an HTTP-response block into (status, content-type, body)."""
    sep = block.find(b"\r\n\r\n")
    if sep < 0 or not block[:5] in (b"HTTP/",):
        return None, None, block
    head, body = block[:sep], block[sep + 4 :]
    lines = head.split(b"\r\n")
    try:
        status = int(lines[0].split()[1])
    except (IndexError, ValueError):
        status = None
    ctype = None
    for ln in lines[1:]:
        if ln.lower().startswith(b"content-type:"):
            ctype = ln.split(b":", 1)[1].strip().decode("latin-1")
            break
    return status, ctype, body


def parse_warc_bytes(data: bytes, warc_file: str = "") -> list[dict]:
    """Parse raw WARC (or ``.warc.gz``) bytes into record dicts — the
    executor-side kernel of :func:`read_warc`, exposed for testing and for
    callers holding bytes from elsewhere (reference layout: ISO 28500 §4;
    byte-exact record framing via Content-Length, never line scanning
    inside blocks)."""
    if data[:2] == b"\x1f\x8b":
        import gzip

        data = gzip.decompress(data)  # concatenated members decompress as one
    out: list[dict] = []
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record CRLFs
        while pos < n and data[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        if not data.startswith(b"WARC/", pos):
            raise ValueError(f"malformed WARC at byte {pos}: no version line")
        hdr_end = data.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            raise ValueError("truncated WARC header")
        headers: dict[str, str] = {}
        for line in data[pos:hdr_end].split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().decode("latin-1").lower()] = v.strip().decode("latin-1")
        length = int(headers.get("content-length", "0"))
        block = data[hdr_end + 4 : hdr_end + 4 + length]
        pos = hdr_end + 4 + length
        wtype = headers.get("warc-type", "")
        status, http_ctype, body = (None, None, block)
        if wtype == "response":
            status, http_ctype, body = _parse_http_block(block)
        out.append(
            {
                "warc_file": warc_file,
                "record_id": headers.get("warc-record-id", ""),
                "warc_type": wtype,
                "url": headers.get("warc-target-uri", ""),
                "warc_date": headers.get("warc-date", ""),
                "content_type": headers.get("content-type", ""),
                "http_status": status,
                "http_content_type": http_ctype,
                "body": bytearray(body),
                "n_bytes": len(block),
            }
        )
    return out


def read_warc(
    spark: SparkSession,
    path: str,
    record_types: tuple = ("response",),
) -> DataFrame:
    """Read WARC/WARC.gz files under ``path`` (glob ok) into a record
    DataFrame: ``(warc_file, record_id, warc_type, url, warc_date,
    content_type, http_status, http_content_type, body BINARY, n_bytes)``.
    ``record_types`` filters (default: only ``response`` records — the
    pages); pass ``()`` for everything.

    One file = one task (``binaryFile`` source); records are parsed
    executor-side in an Arrow-batched ``mapInPandas`` and never shuffle.
    """
    return _warc_records(spark.read.format("binaryFile").load(path), record_types)


def _warc_records(files: DataFrame, record_types: tuple = ("response",)) -> DataFrame:
    """:func:`read_warc`'s records from a ``binaryFile``-shaped
    ``(path, content, ...)`` frame — a batch read or one micro-batch of
    a file-source stream."""
    import pandas as pd

    want = tuple(record_types)

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        cols = [
            "warc_file", "record_id", "warc_type", "url", "warc_date",
            "content_type", "http_status", "http_content_type", "body", "n_bytes",
        ]
        for pdf in batches:
            for p, blob in zip(pdf["path"], pdf["content"]):
                recs = parse_warc_bytes(bytes(blob), warc_file=str(p))
                if want:
                    recs = [r for r in recs if r["warc_type"] in want]
                if recs:
                    yield pd.DataFrame(recs, columns=cols)

    return files.select("path", "content").mapInPandas(gen, schema=_SCHEMA)

"""WARC (ISO 28500) source: Common-Crawl-style web archives → pages.

The natural 100 TB ingest path for this engine is Common Crawl, whose
unit of storage is the ~1 GB gzipped WARC file.  This module provides

- a from-scratch, dependency-free WARC record parser (``iter_records``)
  for plain or gzip/bz2/xz-compressed archives (including the
  per-record-member gzip framing Common Crawl uses);
- ``read_warc_pages(spark, path_glob)``: a Spark reader that turns a
  directory of WARC files into the standard pages relation
  (url, warc_ts, html, text, lang) ready for ``run_extraction``;
- ``write_warc`` (driver-side, test fixture use) to serialize pages
  rows back into a valid WARC file.

Scale shape: one WARC file = one ``binaryFile`` row = one task, the
Common Crawl work unit; inflate, record explosion and frame bounds are
the shared container-source layer (``sources/blobs.py``).

Format reference: ISO 28500 / the public WARC 1.0 specification
(warc-specifications.iipc.org) — record framing is
``WARC/1.0\\r\\n<headers>\\r\\n\\r\\n<Content-Length bytes>\\r\\n\\r\\n``.
"""

from __future__ import annotations

import gzip
import io
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Iterator, Optional

from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..pipeline.schemas import PAGES_SCHEMA
from .blobs import (
    CHUNK,
    COMPRESSED_MAGICS,
    explode,
    iter_inflated,
    read_blobs,
)

CRLF = b"\r\n"


@dataclass
class WarcRecord:
    rec_type: str
    target_uri: Optional[str]
    date: Optional[str]
    headers: dict
    payload: bytes


def _parse_headers(block: bytes) -> dict:
    headers: dict = {}
    for line in block.split(CRLF):
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().decode("ascii", "replace").lower()] = (
                v.strip().decode("utf-8", "replace"))
    return headers


# A WARC header block larger than this is not a header block; stop
# buffering rather than accumulate the whole archive looking for the
# terminating blank line.
_MAX_HEADER_BYTES = 1 << 20


def _iter_records_from_chunks(chunks) -> Iterator[WarcRecord]:
    """Incremental WARC framing over a stream of byte chunks.

    Holds at most one in-flight record (plus one chunk) in memory.
    Tolerant of trailing garbage / truncated final records: a record
    that cannot be framed ends iteration instead of raising.  A
    negative Content-Length ends iteration — the parser position must
    strictly advance every record, so a crafted header can never make
    it re-parse the same bytes forever (ADVICE r2).
    """
    buf = bytearray()
    it = iter(chunks)
    exhausted = False

    def pull() -> bool:
        nonlocal exhausted
        if exhausted:
            return False
        try:
            buf.extend(next(it))
            return True
        except StopIteration:
            exhausted = True
            return False

    while True:
        # skip inter-record blank lines
        while True:
            if buf[:2] == CRLF:
                del buf[:2]
            elif len(buf) >= 5 or not pull():
                break
        if buf[:5] != b"WARC/":
            return
        # buffer until the header block is framed
        search_from = 0
        while True:
            head_end = buf.find(CRLF + CRLF, search_from)
            if head_end >= 0:
                break
            search_from = max(0, len(buf) - 3)
            if len(buf) > _MAX_HEADER_BYTES or not pull():
                return
        headers = _parse_headers(bytes(buf[:head_end]))
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return
        if length < 0:
            return  # crafted negative length must never move pos backwards
        body_start = head_end + 4
        need = body_start + length
        while len(buf) < need:
            if not pull():
                return  # truncated record
        payload = bytes(buf[body_start:need])
        del buf[:need]
        yield WarcRecord(
            rec_type=headers.get("warc-type", ""),
            target_uri=headers.get("warc-target-uri"),
            date=headers.get("warc-date"),
            headers=headers,
            payload=payload,
        )


def iter_records(data: bytes) -> Iterator[WarcRecord]:
    """Yield records from raw WARC bytes (compressed or plain).

    Streaming: members are inflated in ~1 MB chunks (``iter_inflated``)
    and records framed incrementally, so peak memory is O(one record),
    not O(raw archive) — a real CC file is ~1 GB compressed / ~4-5 GB
    raw and the compressed blob already sits in the task, so the raw
    form must not join it (VERDICT r2 #7).
    """
    if data.startswith(COMPRESSED_MAGICS):
        chunks: Iterator[bytes] = iter_inflated(data)
    else:
        # Slice plain archives too: feeding the whole blob as one chunk
        # would make the framing buffer O(archive), and its per-record
        # `del buf[:need]` compaction quadratic (review r3).
        mv = memoryview(data)
        chunks = (bytes(mv[i:i + CHUNK])
                  for i in range(0, len(data), CHUNK))
    yield from _iter_records_from_chunks(chunks)


def http_response_body(payload: bytes) -> bytes:
    """Strip the HTTP status line + headers from a response payload."""
    sep = payload.find(CRLF + CRLF)
    return payload[sep + 4:] if sep >= 0 else payload


def _parse_warc_date(s: Optional[str]):
    if not s:
        return None
    try:
        return (datetime.strptime(s, "%Y-%m-%dT%H:%M:%SZ")
                .replace(tzinfo=timezone.utc))
    except ValueError:
        return None


def responses_from_warc(data: bytes) -> Iterator[tuple]:
    """(url, warc_ts, html) for every response record with a target."""
    for rec in iter_records(data):
        if rec.rec_type != "response" or not rec.target_uri:
            continue
        yield (rec.target_uri, _parse_warc_date(rec.date),
               http_response_body(rec.payload))


def _warc_rows(path, blob) -> Iterator[tuple]:
    """``explode`` rows: one WARC file → pages rows.  ``text``/``lang``
    are None — they are oracle columns the synthetic corpus carries,
    not crawl data."""
    for url, ts, body in responses_from_warc(blob):
        yield url, ts, body, None, None


def read_warc_pages(spark, path_glob: str):
    """Directory/glob of ``.warc``/``.warc.gz`` files → pages relation.

    ``binaryFile`` gives (path, content) rows; each file's records are
    exploded by an Arrow-batched ``mapInPandas``.
    """
    return read_blobs(spark, path_glob, "*.warc*", _warc_rows,
                      PAGES_SCHEMA, "html")


def read_warc_pages_stream(spark, path_glob: str,
                           max_files_per_trigger: Optional[int] = None):
    """Streaming twin of ``read_warc_pages``: new WARC files arriving in
    the directory become micro-batches (the continuous-crawl ingest
    shape — each Common Crawl segment shows up as a file, the stream
    checkpoint guarantees each is extracted exactly once)."""
    return read_blobs(spark, path_glob, "*.warc*", _warc_rows,
                      PAGES_SCHEMA, "html", stream=True,
                      max_files_per_trigger=max_files_per_trigger)


def write_warc_members(rows, fh: io.BufferedIOBase,
                       warc_date: str = "2024-01-01T00:00:00Z") -> list:
    """Serialize (url, html_bytes) pairs with Common Crawl's framing —
    each record its OWN gzip member — returning the capture manifest
    ``[(url, offset, length), ...]`` a CDX index is built from.

    Per-record members are what make a WARC randomly accessible: a
    reader can seek to ``offset``, read ``length`` bytes, and inflate
    exactly one record (``fetch_warc_by_index``).  ``write_warc(...,
    compress=True)`` by contrast writes one continuous stream — fine
    for full scans, unseekable for point reads.
    """
    manifest = []
    pos = 0
    for i, row in enumerate(rows):
        url, html = row[0], row[1]
        date = row[2] if len(row) > 2 else warc_date
        http = (b"HTTP/1.1 200 OK" + CRLF
                + b"Content-Type: text/html" + CRLF + CRLF + html)
        head = (
            b"WARC/1.0" + CRLF
            + b"WARC-Type: response" + CRLF
            + b"WARC-Target-URI: " + url.encode("utf-8") + CRLF
            + b"WARC-Date: " + str(date).encode("ascii") + CRLF
            + b"WARC-Record-ID: <urn:uuid:m" + str(i).encode() + b">"
            + CRLF
            + b"Content-Length: " + str(len(http)).encode("ascii") + CRLF
            + CRLF
        )
        member = gzip.compress(head + http + CRLF + CRLF, mtime=0)
        fh.write(member)
        manifest.append((url, pos, len(member)))
        pos += len(member)
    return manifest


def fetch_warc_by_index(spark, captures, warc_root: str):
    """Index-driven point reads into WARC archives: for each capture
    row (filename, offset, length), seek, read one gzip member,
    inflate one record — never scanning the archive.

    THE reason the CDX index exists: fetching 10^5 urls out of a
    100 TB crawl must cost 10^5 ranged reads (~100 MB), not a 100 TB
    scan.  Plan shape: captures repartition on ``filename`` and sort
    within partitions by ``offset``, so each task's reads walk one
    archive forward (sequential-ish I/O; on an object store each
    (offset, length) becomes exactly one HTTP Range GET — Common
    Crawl's own documented access pattern for its S3 buckets).  The
    fetch kernel is an Arrow-batched ``mapInPandas``; output is the
    standard pages relation.

    ``captures``: DataFrame with (filename, offset, length) — e.g. a
    filtered ``read_cdx`` result.  ``warc_root``: directory holding
    the archives (local paths here; a cluster deployment swaps the
    ``open``/``seek`` for a ranged GET — the plan is unchanged).
    """
    import os

    def fetch_rows(fn, off, ln):
        with open(os.path.join(warc_root, str(fn)), "rb") as fh:
            fh.seek(int(off))
            raw = fh.read(int(ln))
        return _warc_rows(fn, raw)

    cols = captures.select("filename", "offset", "length")
    n_files = max(1, min(64, cols.select("filename").distinct().count()))
    ordered = (cols.repartition(n_files, "filename")
               .sortWithinPartitions("filename", "offset"))
    return ordered.mapInPandas(explode(fetch_rows, PAGES_SCHEMA, "html"),
                               schema=PAGES_SCHEMA)


def texts_from_wet(data: bytes) -> Iterator[tuple]:
    """(url, warc_ts, text) for every WET ``conversion`` record.

    WET is Common Crawl's extracted-text sibling of WARC: the same ISO
    28500 record framing, but record type ``conversion`` and a payload
    that is the page's plain text (UTF-8, no HTTP envelope).  The
    parser is therefore ``iter_records`` unchanged — only the record
    filter and payload handling differ.
    """
    for rec in iter_records(data):
        if rec.rec_type != "conversion" or not rec.target_uri:
            continue
        yield (rec.target_uri, _parse_warc_date(rec.date),
               rec.payload.decode("utf-8", "replace"))


WET_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("text", StringType()),
])


def _wet_rows(path, blob) -> Iterator[tuple]:
    return texts_from_wet(blob)


def read_wet_pages(spark, path_glob: str):
    """Directory/glob of ``.wet``/``.wet.gz`` files → (url, warc_ts,
    text) — the text-only ingest path (Common Crawl publishes one WET
    per WARC; pipelines that only need text skip HTML extraction
    entirely and read ~1/5 the bytes).  Scale shape is identical to
    ``read_warc_pages``: one file = one ``binaryFile`` row = one task.
    """
    return read_blobs(spark, path_glob, "*.wet*", _wet_rows, WET_SCHEMA,
                      "text")


def read_wet_pages_stream(spark, path_glob: str,
                          max_files_per_trigger: Optional[int] = None):
    """Streaming twin of ``read_wet_pages`` (same shape as
    ``read_warc_pages_stream``): new WET segments arriving in the
    directory become micro-batches, checkpoint-guaranteed
    exactly-once per file."""
    return read_blobs(spark, path_glob, "*.wet*", _wet_rows, WET_SCHEMA,
                      "text", stream=True,
                      max_files_per_trigger=max_files_per_trigger)


def write_wet(rows, fh: io.BufferedIOBase, compress: bool = False,
              warc_date: str = "2024-01-01T00:00:00Z") -> int:
    """Serialize (url, text) pairs as WET ``conversion`` records.

    Driver-side fixture helper, mirroring ``write_warc``.
    """
    out = fh if not compress else gzip.GzipFile(fileobj=fh, mode="wb",
                                                mtime=0)
    n = 0
    for row in rows:
        url, text = row[0], row[1]
        date = row[2] if len(row) > 2 else warc_date
        payload = (text if isinstance(text, bytes)
                   else text.encode("utf-8"))
        head = (
            b"WARC/1.0" + CRLF
            + b"WARC-Type: conversion" + CRLF
            + b"WARC-Target-URI: " + url.encode("utf-8") + CRLF
            + b"WARC-Date: " + str(date).encode("ascii") + CRLF
            + b"WARC-Record-ID: <urn:uuid:wet-" + str(n).encode() + b">"
            + CRLF
            + b"Content-Length: " + str(len(payload)).encode("ascii")
            + CRLF + CRLF
        )
        out.write(head + payload + CRLF + CRLF)
        n += 1
    if compress:
        out.close()
    return n


def write_warc(rows, fh: io.BufferedIOBase, compress: bool = False,
               warc_date: str = "2024-01-01T00:00:00Z") -> int:
    """Serialize (url, html_bytes) pairs as WARC response records.

    Driver-side helper for fixtures/round-trip tests (a production sink
    would write parquet, not WARC).  Deterministic: fixed WARC-Date
    unless the caller passes per-row dates via 3-tuples.
    """
    out = fh if not compress else gzip.GzipFile(fileobj=fh, mode="wb",
                                                mtime=0)
    n = 0
    for row in rows:
        url, html = row[0], row[1]
        date = row[2] if len(row) > 2 else warc_date
        http = (b"HTTP/1.1 200 OK" + CRLF
                + b"Content-Type: text/html" + CRLF + CRLF + html)
        head = (
            b"WARC/1.0" + CRLF
            + b"WARC-Type: response" + CRLF
            + b"WARC-Target-URI: " + url.encode("utf-8") + CRLF
            + b"WARC-Date: " + str(date).encode("ascii") + CRLF
            + b"WARC-Record-ID: <urn:uuid:" + str(n).encode() + b">" + CRLF
            + b"Content-Length: " + str(len(http)).encode("ascii") + CRLF
            + CRLF
        )
        out.write(head + http + CRLF + CRLF)
        n += 1
    if compress:
        out.close()
    return n

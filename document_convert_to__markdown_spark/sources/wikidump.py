"""Wikipedia XML dump source — multistream bz2 ingest + index-driven
point reads.

Wikipedia database dumps (dumps.wikimedia.org) are a canonical LLM
training corpus, shipped as ``pages-articles-multistream.xml.bz2``:
one ``<mediawiki>`` document whose ``<page>`` elements are grouped
~100 per **independent bz2 stream**, concatenated — plus a companion
``...-multistream-index.txt.bz2`` of ``offset:page_id:title`` lines
mapping every page to its stream's byte offset.  That layout is the
wiki analog of Common Crawl's per-record-gzip WARC + CDX index, and
this module mirrors the engine's WARC/CDX design point for point:

- ``read_wikidump_pages(spark, glob)``: full-scan ingest — one dump
  file = one ``binaryFile`` row = one task (enwiki ships as one ~20 GB
  file or per-range parts; parts are the parallel unit), pages
  exploded by the shared container-source layer (``sources/blobs.py``:
  capped streaming inflate, bounded ``mapInPandas`` frames) + an
  incremental ``<page>`` scan — the raw ~90 GB XML never
  materializes.
- ``read_multistream_index(spark, path)``: the index as a relation —
  ``spark.read.text`` (Hadoop inflates ``.bz2`` transparently) +
  ``split(limit 3)`` — all JVM-side, malformed lines surface as
  null-id rows (no silent drops).
- ``fetch_pages_by_index(spark, wanted, dump_path)``: the scale path
  — a filtered index result becomes per-stream POINT READS: seek to
  the stream offset, read at most ``max_stream_bytes``, inflate ONE
  bz2 stream (the decompressor's own end-of-stream marker bounds it —
  no stream-length bookkeeping, no window over the index), keep the
  wanted page ids.  10^3 pages out of a 20 GB dump cost 10^3 ranged
  reads, never a scan — ``fetch_warc_by_index`` for wikis.
- ``build_wikidump(rows, pages_per_stream)``: deterministic fixture
  writer producing a spec-shaped multistream dump + its index text.

Page grammar (the subset every dump carries): ``<title>``, ``<ns>``,
``<id>``, optional ``<redirect title=.../>``, ``<revision>`` with
``<timestamp>`` and ``<text>``.  Articles are wikitext — pair with
``extractors/wikitext.py:wikitext_to_markdown`` for the curation
chain.  Never raises on damaged input: a corrupt stream salvages
every page decoded before it (same contract as the WARC reader).

Format references (public): the MediaWiki XML export schema
(meta.wikimedia.org/wiki/Data_dumps), bz2 stream format (the
``BZh`` magic + per-stream end marker handled by stdlib ``bz2``).
"""

from __future__ import annotations

import bz2
import xml.etree.ElementTree as ET
from typing import Iterator, Optional, Tuple

from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .blobs import iter_inflated, read_blobs

# Ceiling on decompressed bytes per dump-file task (a crafted bz2 bomb
# must cost the file, not the executor) — enwiki's full XML is ~90 GB
# but arrives as many independent streams; the per-task unit is a part
# file, for which 32 GB of XML is already generous.
MAX_DECOMPRESSED_BYTES = 32 << 30

# One multistream group is ~100 pages / ~1 MB compressed; 64 MB is a
# generous ceiling for a single stream's compressed size (point reads
# read at most this much past the stream offset).
MAX_STREAM_BYTES = 64 << 20

WIKI_PAGES_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("title", StringType(), True),
    StructField("ns", IntegerType(), True),
    StructField("page_id", LongType(), True),
    StructField("redirect", StringType(), True),
    StructField("ts", StringType(), True),
    StructField("text", StringType(), True),
    StructField("status", StringType(), False),
])


def _parse_page(fragment: bytes) -> Optional[tuple]:
    """One ``<page>...</page>`` XML fragment → field tuple or None."""
    try:
        el = ET.fromstring(fragment)
    except ET.ParseError:
        return None
    title = el.findtext("title")
    ns = el.findtext("ns")
    pid = el.findtext("id")
    red = el.find("redirect")
    rev = el.find("revision")
    ts = rev.findtext("timestamp") if rev is not None else None
    text = rev.findtext("text") if rev is not None else None
    return (
        title,
        int(ns) if ns and ns.strip().lstrip("-").isdigit() else None,
        int(pid) if pid and pid.strip().isdigit() else None,
        red.get("title") if red is not None else None,
        ts,
        text,
    )


# A single <page> larger than this is damage, not an article (the
# largest real wiki pages are ~2 MB of wikitext): without the cap, a
# corrupt dump whose </page> never arrives would accumulate the whole
# decompressed document (up to MAX_DECOMPRESSED_BYTES) in one task's
# buffer (round-5 review finding).
MAX_PAGE_BYTES = 64 << 20


def iter_dump_pages(chunks,
                    max_page_bytes: int = MAX_PAGE_BYTES
                    ) -> Iterator[tuple]:
    """Incremental ``<page>`` scan over an iterator of XML chunks.

    Holds only the bytes between the current ``<page>`` open tag and
    its close tag (pages are KBs; the document is GBs), bounded by
    ``max_page_bytes`` — an unterminated page emits a ``failed_page``
    row and the scan resyncs at the next ``<page>``.  Yields
    ``(title, ns, page_id, redirect, ts, text, status)``; a fragment
    that fails to parse yields a ``failed_page`` status row rather
    than vanishing.
    """
    buf = b""
    in_page = False
    for chunk in chunks:
        buf += chunk
        while True:
            if not in_page:
                i = buf.find(b"<page>")
                if i < 0:
                    # keep a tag-sized tail in case <page> spans chunks
                    buf = buf[-7:]
                    break
                buf = buf[i:]
                in_page = True
            j = buf.find(b"</page>")
            if j < 0:
                if len(buf) > max_page_bytes:
                    # runaway page: account for it, resync at the
                    # next opener inside the discarded window
                    yield (None, None, None, None, None, None,
                           "failed_page")
                    nxt = buf.find(b"<page>", 6)
                    buf = buf[nxt:] if nxt >= 0 else buf[-7:]
                    in_page = nxt >= 0
                    if in_page:
                        continue
                break
            frag, buf = buf[:j + 7], buf[j + 7:]
            in_page = False
            parsed = _parse_page(frag)
            if parsed is None:
                yield (None, None, None, None, None, None,
                       "failed_page")
            else:
                yield (*parsed, "ok")


def _wiki_url(title: Optional[str]) -> str:
    return "wiki://" + (title or "\x00page").replace(" ", "_")


_COLS = WIKI_PAGES_SCHEMA.fieldNames()


def _dump_rows(path, blob) -> Iterator[tuple]:
    """``explode`` rows: one dump file → page rows, plus a
    ``skipped_empty_dump`` row for a file with zero pages (queryable,
    not silent)."""
    n_seen = 0
    for t, ns, pid, red, ts, text, status in iter_dump_pages(
            iter_inflated(blob, MAX_DECOMPRESSED_BYTES)):
        n_seen += 1
        yield _wiki_url(t), t, ns, pid, red, ts, text, status
    if n_seen == 0:
        yield (_wiki_url(None), None, None, None, None, None, None,
               "skipped_empty_dump")


def read_wikidump_pages(spark, path_glob: str,
                        namespaces: Optional[tuple] = (0,)):
    """Directory/glob of multistream dump files → pages relation.

    Only ``*.xml*.bz2`` files are read: whole dumps (``...xml.bz2``)
    and per-range parts (``...multistream1.xml-p1p41242.bz2``), but not
    the ``-index.txt.bz2`` / ``-index1.txt-p1p41242.bz2`` that ships
    beside each one.  One dump file = one task; ``namespaces`` filters
    post-parse
    (``None`` keeps all — talk/user/template pages included).  Status
    rows (``failed_page`` / ``skipped_empty_dump``) always survive
    the namespace filter, and so do ok pages whose ``<ns>`` is absent
    or unparseable (older export schemas) — a null ns must not become
    a silent drop (round-5 review finding): accounting rows are not
    filterable by accident.
    """
    pages = read_blobs(spark, path_glob, "*.xml*.bz2", _dump_rows,
                       WIKI_PAGES_SCHEMA, "text")
    if namespaces is not None:
        pages = pages.filter(
            F.col("ns").isin(list(namespaces))
            | F.col("ns").isNull()
            | (F.col("status") != "ok"))
    return pages


# --------------------------------------------------------------- index

def read_multistream_index(spark, path: str):
    """``offset:page_id:title`` index lines → relation.

    ``spark.read.text`` inflates ``.bz2`` transparently (Hadoop
    codec), the split is JVM-side; malformed lines become null-id
    rows (queryable, never a scan kill).  Titles may contain ``:``,
    so the split is limited to 3 fields.
    """
    lines = spark.read.text(path)
    parts = F.split(F.col("value"), ":", 3)
    return lines.select(
        parts.getItem(0).cast("long").alias("offset"),
        parts.getItem(1).cast("long").alias("page_id"),
        parts.getItem(2).alias("title"),
    )


def fetch_pages_by_index(spark, wanted, dump_path: str,
                         max_stream_bytes: int = MAX_STREAM_BYTES):
    """Index-driven point reads: ``wanted`` is a relation with
    ``offset`` and ``page_id`` columns (a filtered
    ``read_multistream_index`` result); each distinct offset costs one
    seek + one bounded read + one single-stream inflate, and only the
    wanted page ids are kept.  The decompressor's own end-of-stream
    marker bounds the inflate — no stream-length bookkeeping, no
    window over the index, no scan of the dump.

    Tasks repartition by offset so each stream is read exactly once
    and offsets walk forward within a partition (each read maps to
    one HTTP Range GET on an object store).
    """
    import pandas as pd

    def _fetch(batches):
        for pdf in batches:
            if pdf.empty:
                yield pd.DataFrame(columns=_COLS)
                continue
            rows = []
            grouped = pdf.groupby("offset")["page_id"].agg(set)
            with open(dump_path, "rb") as fh:
                for offset, ids in sorted(grouped.items()):
                    fh.seek(int(offset))
                    blob = fh.read(max_stream_bytes)
                    missing = set(ids)
                    # the stream's own end marker bounds the inflate
                    for t, ns, pid, red, ts, text, status in \
                            iter_dump_pages(iter_inflated(
                                blob, MAX_DECOMPRESSED_BYTES,
                                first_only=True)):
                        if pid in ids:
                            missing.discard(pid)
                            rows.append((_wiki_url(t), t, ns, pid,
                                         red, ts, text, status))
                    # a wanted page the stream failed to produce is
                    # accounted, never silently absent (round-5
                    # review finding)
                    for pid in sorted(missing):
                        rows.append((_wiki_url(None), None, None,
                                     int(pid), None, None, None,
                                     "failed_fetch"))
            yield pd.DataFrame(rows, columns=_COLS)

    return (wanted.select("offset", "page_id")
            .repartition("offset")
            .sortWithinPartitions("offset")
            .mapInPandas(_fetch, schema=WIKI_PAGES_SCHEMA))


# ------------------------------------------------------------- fixture

def _page_xml(title: str, ns: int, pid: int, ts: str, text: str,
              redirect: Optional[str] = None) -> bytes:
    from xml.sax.saxutils import escape, quoteattr

    red = (f"    <redirect title={quoteattr(redirect)} />\n"
           if redirect else "")
    return (
        f"  <page>\n"
        f"    <title>{escape(title)}</title>\n"
        f"    <ns>{ns}</ns>\n"
        f"    <id>{pid}</id>\n"
        f"{red}"
        f"    <revision>\n"
        f"      <id>{pid * 10}</id>\n"
        f"      <timestamp>{ts}</timestamp>\n"
        f"      <text bytes=\"{len(text.encode())}\">{escape(text)}"
        f"</text>\n"
        f"    </revision>\n"
        f"  </page>\n").encode("utf-8")


def build_wikidump(rows, pages_per_stream: int = 2
                   ) -> Tuple[bytes, str]:
    """Deterministic multistream fixture: ``rows`` of ``(title, ns,
    page_id, ts, text[, redirect])`` → ``(dump_bytes, index_text)``.

    Stream 0 carries the ``<mediawiki`` siteinfo preamble (as the real
    dumps do), then pages are grouped ``pages_per_stream`` per
    independent bz2 stream; the index maps each page to its stream's
    byte offset, exactly like the published
    ``multistream-index.txt``.
    """
    out = []
    index = []
    pos = 0

    def emit(raw: bytes) -> int:
        nonlocal pos
        comp = bz2.compress(raw)
        out.append(comp)
        start = pos
        pos += len(comp)
        return start

    emit(b"<mediawiki xml:lang=\"en\">\n"
         b"  <siteinfo><sitename>fixture</sitename></siteinfo>\n")
    for i in range(0, len(rows), pages_per_stream):
        group = rows[i:i + pages_per_stream]
        raw = b"".join(_page_xml(*r) for r in group)
        start = emit(raw)
        for r in group:
            index.append(f"{start}:{r[2]}:{r[0]}")
    emit(b"</mediawiki>\n")
    return b"".join(out), "\n".join(index) + "\n"


def wikitext_markdown_udf():
    """Arrow-batched wikitext → markdown column
    (`extractors/wikitext.py`); pandas UDF per the engine's
    no-per-row-Python-UDF mandate."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..extractors.wikitext import wikitext_to_markdown

    # no type annotations: under `from __future__ import annotations`
    # they stringify and defeat pandas_udf's hint inference — the
    # DataType argument alone selects the SCALAR eval type
    @pandas_udf(StringType())
    def conv(s):
        _ = pd  # keep the Arrow-batched import local to the executor
        return s.map(lambda x: None if x is None
                     else wikitext_to_markdown(x))

    return conv


def wikidump_to_corpus(pages):
    """Dump pages → the engine's pages relation: articles only (ok
    status, no redirects), wikitext converted to markdown prose and
    carried as text/plain bytes so the extraction pipeline's text
    path (normalization + cleanup chain) applies unchanged — the
    same contract as WET ingest."""
    conv = wikitext_markdown_udf()
    return (pages
            .filter((F.col("status") == "ok")
                    & F.col("redirect").isNull())
            .select(
                "url",
                F.try_to_timestamp(F.col("ts")).alias("warc_ts"),
                F.encode(conv(F.col("text")), "UTF-8").alias("html"),
                F.lit(None).cast("string").alias("text"),
                F.lit(None).cast("string").alias("lang")))

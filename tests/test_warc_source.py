"""WARC source: parser framing, gzip, tolerance, Spark round-trip."""

import gzip
import io

from document_convert_to__markdown_spark.data.synth import synth_page
from document_convert_to__markdown_spark.sources.warc import (
    http_response_body,
    iter_records,
    read_warc_pages,
    responses_from_warc,
    write_warc,
)


def _warc_bytes(n_docs: int = 6, compress: bool = False) -> bytes:
    rows = []
    for i in range(n_docs):
        p = synth_page(i)
        rows.append((p.url, p.html))
    buf = io.BytesIO()
    write_warc(rows, buf, compress=compress)
    return buf.getvalue()


def test_roundtrip_plain_and_gzip():
    for compress in (False, True):
        data = _warc_bytes(6, compress)
        recs = list(iter_records(data))
        assert len(recs) == 6
        assert all(r.rec_type == "response" for r in recs)
        # body survives byte-exact through HTTP framing
        p0 = synth_page(0)
        assert http_response_body(recs[0].payload) == p0.html
        assert recs[0].target_uri == p0.url


def test_non_response_records_skipped():
    info = (b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n"
            b"\r\nabcd\r\n\r\n")
    data = info + _warc_bytes(2)
    assert len(list(iter_records(data))) == 3
    assert len(list(responses_from_warc(data))) == 2


def test_truncated_record_tolerated():
    data = _warc_bytes(3)
    cut = data[: len(data) - 40]  # chop into the final record's body
    recs = list(iter_records(cut))
    assert len(recs) == 2  # first two intact, truncated third dropped


def test_warc_date_parsed_as_timestamp():
    data = _warc_bytes(1)
    (url, ts, body), = list(responses_from_warc(data))
    assert ts is not None and ts.year == 2024


def test_spark_warc_pages_extraction_parity(spark, tmp_path):
    """WARC-ingested pages must extract byte-identically to the same
    pages fed straight from the synthesizer."""
    from pyspark.sql import functions as F

    from document_convert_to__markdown_spark.pipeline.corpus import (
        synth_pages_df,
    )
    from document_convert_to__markdown_spark.pipeline.job import run_extraction

    n = 40
    warc_dir = tmp_path / "warc"
    warc_dir.mkdir()
    rows = [(synth_page(i).url, synth_page(i).html) for i in range(n)]
    with open(warc_dir / "part-0.warc.gz", "wb") as fh:
        write_warc(rows[: n // 2], fh, compress=True)
    with open(warc_dir / "part-1.warc", "wb") as fh:
        write_warc(rows[n // 2:], fh, compress=False)

    pages = read_warc_pages(spark, str(warc_dir))
    assert pages.count() == n

    got = run_extraction(pages, partitions=4).results \
        .select("url", "status", "markdown")
    want = run_extraction(synth_pages_df(spark, n), partitions=4).results \
        .select("url", "status", "markdown")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.filter(F.col("status") == "ok").count() > 0


def test_stream_warc_ingest_incremental_exactly_once(spark, tmp_path):
    """WARC files arriving in a watched directory become micro-batches;
    the checkpoint makes re-drains no-ops and new files incremental."""
    from document_convert_to__markdown_spark.streaming.stream_job import (
        run_stream_extraction,
    )

    inp = tmp_path / "warc_in"
    inp.mkdir()
    out, chk = str(tmp_path / "out"), str(tmp_path / "chk")

    def arrive(name, lo, hi):
        rows = [(synth_page(i).url, synth_page(i).html)
                for i in range(lo, hi)]
        with open(inp / name, "wb") as fh:
            write_warc(rows, fh, compress=True)

    def drain():
        q = run_stream_extraction(spark, str(inp), out, chk,
                                  source_format="warc")
        assert q.awaitTermination(120)

    arrive("seg-0.warc.gz", 0, 15)
    drain()
    assert spark.read.parquet(out).count() == 15

    drain()  # no new files -> no new rows (exactly-once per file)
    assert spark.read.parquet(out).count() == 15

    arrive("seg-1.warc.gz", 15, 25)
    drain()
    got = spark.read.parquet(out)
    assert got.count() == 25
    assert got.select("url").distinct().count() == 25
    assert got.filter("status = 'ok'").count() > 0


def test_truncated_gzip_salvages_complete_members():
    """A gzip WARC cut mid-member still yields the records from the
    members before the cut (one segment per member here)."""
    import io

    bufs = []
    for i in range(3):
        p = synth_page(i)
        b = io.BytesIO()
        write_warc([(p.url, p.html)], b, compress=True)
        bufs.append(b.getvalue())
    data = bufs[0] + bufs[1] + bufs[2][: len(bufs[2]) // 2]
    recs = list(iter_records(data))
    assert len(recs) == 2
    assert recs[0].target_uri == synth_page(0).url


def test_gzip_bomb_capped():
    """A hugely-expanding member must not blow past the decompression
    ceiling; members before it are kept (review r2)."""
    import gzip as _gz
    import io

    from document_convert_to__markdown_spark.sources.blobs import (
        iter_inflated,
    )

    ok = io.BytesIO()
    write_warc([(synth_page(0).url, synth_page(0).html)], ok, compress=True)
    bomb = _gz.compress(b"\x00" * (64 << 20), mtime=0)  # 64MB from ~64KB
    data = ok.getvalue() + bomb

    out = b"".join(iter_inflated(data, max_bytes=1 << 20))
    assert len(out) < (2 << 20)  # bomb not expanded past the ceiling
    # end-to-end: the capped archive still yields the good record
    got = list(responses_from_warc(data))
    assert len(got) == 1 and got[0][0] == synth_page(0).url


def test_negative_content_length_terminates():
    """A crafted negative Content-Length must end iteration, never
    re-parse the same record forever (ADVICE r2: pos moved backwards
    and a ~60-byte record yielded unbounded rows)."""
    good = _warc_bytes(1)
    evil_head = (b"WARC/1.0\r\nWARC-Type: response\r\n"
                 b"WARC-Target-URI: http://evil.example/\r\n")
    # length == -(header+4) would historically re-frame the same bytes
    evil = evil_head + b"Content-Length: -%d\r\n\r\n" % (
        len(evil_head) + len(b"Content-Length: -000\r\n\r\n"))
    recs = list(iter_records(good + evil))  # must terminate
    assert len(recs) == 1  # the good record; the crafted one is dropped
    # negative length first in the archive: zero records, still finite
    assert list(iter_records(evil + good)) == []


def test_streaming_parse_memory_bounded():
    """Parsing a large gzip archive must hold O(one record), not the
    whole decompressed archive (VERDICT r2 #7): 100 members x ~2MB body
    = ~200MB raw, peak traced allocation must stay far below it."""
    import io
    import tracemalloc

    body = (b"<html><body>" + b"A" * (2 << 20) + b"</body></html>")
    parts = []
    for i in range(100):
        b = io.BytesIO()
        write_warc([(f"http://ex.com/{i}", body)], b, compress=True)
        parts.append(b.getvalue())
    data = b"".join(parts)
    assert len(data) < (8 << 20)  # compressible corpus, cheap fixture

    tracemalloc.start()
    n = 0
    for rec in iter_records(data):
        n += 1
        assert len(rec.payload) > (2 << 20)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert n == 100
    # one ~2MB record + chunk buffers; the old parser held ~200MB here
    assert peak < (32 << 20), f"peak {peak >> 20}MB not streaming"

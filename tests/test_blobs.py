"""Shared container-source layer (sources/blobs.py): the capped inflate
loop and the bounded-frame exploder."""

import bz2
import gzip
import lzma

import pytest

from document_convert_to__markdown_spark.sources import blobs
from document_convert_to__markdown_spark.sources.blobs import iter_inflated

CODECS = {
    "gzip": (b"\x1f\x8b", lambda raw: gzip.compress(raw, mtime=0)),
    "bz2": (b"BZh", bz2.compress),
    "xz": (b"\xfd7zXZ\x00", lambda raw: lzma.compress(raw)),
}
RAWS = [b"first member " * 300, b"second member " * 200,
        b"third member " * 100]


@pytest.mark.parametrize("codec,cut", [
    (codec, cut) for codec, (magic, _) in CODECS.items()
    for cut in range(1, len(magic))])
def test_magic_straddling_a_feed_slice_keeps_later_members(
        monkeypatch, codec, cut):
    # the first feed slice ends `cut` bytes into the second member's
    # magic; every member must still come back
    magic, compress = CODECS[codec]
    members = [compress(raw) for raw in RAWS]
    assert members[1].startswith(magic)
    monkeypatch.setattr(blobs, "CHUNK", len(members[0]) + cut)
    assert b"".join(iter_inflated(b"".join(members))) == b"".join(RAWS)


@pytest.mark.parametrize("codec", CODECS)
def test_first_only_stops_after_one_member(codec):
    _, compress = CODECS[codec]
    data = b"".join(compress(raw) for raw in RAWS)
    assert b"".join(iter_inflated(data, first_only=True)) == RAWS[0]


@pytest.mark.parametrize("codec", CODECS)
def test_ceiling_garbage_and_truncation(codec):
    _, compress = CODECS[codec]
    data = b"".join(compress(raw) for raw in RAWS)
    whole = b"".join(RAWS)
    assert b"".join(iter_inflated(data, max_bytes=5000)) == whole[:5000]
    assert b"".join(iter_inflated(data + b"\x00trailing")) == whole
    # a cut inside the last member salvages the members before it
    cut = data[:len(data) - len(compress(RAWS[-1])) // 2]
    assert b"".join(iter_inflated(cut)).startswith(RAWS[0] + RAWS[1])


def test_members_of_another_codec_end_iteration():
    data = gzip.compress(RAWS[0], mtime=0) + bz2.compress(RAWS[1])
    assert b"".join(iter_inflated(data)) == RAWS[0]


def test_explode_flushes_bounded_frames(monkeypatch):
    import pandas as pd
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType([StructField("key", StringType()),
                         StructField("body", StringType())])

    def rows_of(key, n):
        for i in range(n):
            yield f"{key}{i}", "x" * 10

    monkeypatch.setattr(blobs, "FRAME_MAX_ROWS", 4)
    monkeypatch.setattr(blobs, "FRAME_MAX_BYTES", 25)
    kernel = blobs.explode(rows_of, schema, "body")
    frames = list(kernel(iter([pd.DataFrame({"key": ["a", "b"],
                                             "n": [5, 0]})])))
    # 30 body bytes trip the byte bound at 3 rows; the rest and the
    # empty input row close the batch in one last frame
    assert [len(f) for f in frames] == [3, 2]
    assert list(pd.concat(frames)["key"]) == ["a0", "a1", "a2", "a3",
                                              "a4"]
    assert list(frames[0].columns) == ["key", "body"]

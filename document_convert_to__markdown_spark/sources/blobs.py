"""The container-source layer shared by WARC, WET, archive and wikidump.

Every container reader does the same three jobs; each lives here once:

- ``iter_inflated``: a capped, salvaging, multi-member inflate loop
  that picks gzip, bz2 or xz from the magic bytes;
- ``explode``: the bounded-frame ``mapInPandas`` kernel that turns
  each input row into any number of output rows;
- ``read_blobs``: the ``binaryFile`` batch/stream reader that feeds
  file blobs to an ``explode`` kernel.

Scale shape: one file = one ``binaryFile`` row = one task — the
Common Crawl work unit (files are sized ~1 GB, so a 100 TB crawl is
~100k tasks).  Explosion runs inside an Arrow-batched ``mapInPandas``,
so no shuffle stands between the file scan and extraction, and the
raw (inflated) container never materializes: peak memory per task is
the compressed blob + one bounded frame.  Spark refuses a
``binaryFile`` row above ``spark.sql.sources.binaryFile.maxLength``
(about 2 GB), which caps the size of one container file.

Format references (public): gzip — RFC 1952 (``1f 8b``); bz2 — the
``BZh`` stream magic; xz — the ``FD 37 7A 58 5A 00`` stream header.
"""

from __future__ import annotations

import bz2
import lzma
import zlib
from typing import Iterator

# Decompression ceiling per blob: Common Crawl WARCs are ~1 GB
# compressed / ~4-5 GB raw.  A crafted bomb must cost the file, not
# the executor.
MAX_DECOMPRESSED_BYTES = 8 << 30

# Inflate granularity: input is fed and output produced in slices of
# this size, so neither side of a multi-GB container is ever copied
# wholesale.
CHUNK = 1 << 20

_GZIP_MAGIC = b"\x1f\x8b"
# (magic, decompressor factory) per codec
_CODECS = (
    (_GZIP_MAGIC, lambda: zlib.decompressobj(wbits=31)),
    (b"BZh", bz2.BZ2Decompressor),
    (b"\xfd7zXZ\x00", lambda: lzma.LZMADecompressor(lzma.FORMAT_XZ)),
)
COMPRESSED_MAGICS = tuple(magic for magic, _ in _CODECS)
_MAGIC_LEN = max(map(len, COMPRESSED_MAGICS))


def iter_inflated(data: bytes, max_bytes: int = MAX_DECOMPRESSED_BYTES,
                  first_only: bool = False) -> Iterator[bytes]:
    """Stream a gzip, bz2 or xz blob as pieces of at most ``CHUNK``
    bytes.

    The codec is picked from the first magic bytes; later members
    (Common Crawl's one gzip member per record, a multistream dump's
    ~100 pages per bz2 stream) must carry the same magic, and anything
    else ends iteration as trailing garbage.  ``first_only`` stops at
    the end of the first member (an index point read inflates one
    stream).  Unknown magic yields nothing.

    Salvage: a truncated or corrupt member ends iteration, keeping
    everything decoded before it.  Total output is capped at
    ``max_bytes``.  Input is sliced from a ``memoryview`` exactly once,
    in slices of ``CHUNK``; the input left over past one member's end
    is carried into the next instead of being re-sliced, and a carry
    shorter than a magic is topped up with just the missing bytes
    before the magic is checked, so a magic cut by a slice boundary is
    still found.
    """
    mv = memoryview(data)
    n, feed, total = len(data), 0, 0
    carry, codec = b"", None
    while True:
        while len(carry) < _MAGIC_LEN and feed < n:
            take = _MAGIC_LEN - len(carry) if carry else CHUNK
            carry += bytes(mv[feed:feed + take])
            feed += take
        if codec is None:
            codec = next((c for c in _CODECS if carry.startswith(c[0])),
                         None)
        if codec is None or not carry.startswith(codec[0]):
            return  # no (further) member, or trailing garbage
        d = codec[1]()
        # zlib hands back the input it could not consume yet; bz2 and
        # xz keep it and want b"" until they need input again
        gz = codec[0] == _GZIP_MAGIC
        try:
            while not d.eof:
                if gz and d.unconsumed_tail:
                    src = d.unconsumed_tail
                elif not gz and not d.needs_input:
                    src = b""
                elif carry:
                    src, carry = carry, b""
                elif feed < n:
                    src = mv[feed:feed + CHUNK]
                    feed += CHUNK
                else:
                    return  # truncated final member: keep what streamed
                out = d.decompress(src, CHUNK)
                if out:
                    if total + len(out) >= max_bytes:
                        yield out[:max_bytes - total]
                        return  # ceiling hit: drop the rest
                    total += len(out)
                    yield out
        except (zlib.error, lzma.LZMAError, OSError, EOFError, ValueError):
            return  # corrupt member: keep what already streamed
        if first_only:
            return
        carry = d.unused_data  # leftover input starts the next member


# Frame bounds for ``explode``: a frame is flushed once either trips,
# so peak memory per task is O(frame) + O(one in-flight row),
# independent of container size.
FRAME_MAX_ROWS = 2000
FRAME_MAX_BYTES = 64 << 20


def explode(rows_of, schema, size_col: str):
    """Build a ``mapInPandas`` kernel over ``rows_of``.

    Every input row (its columns, in order, as positional arguments)
    becomes the tuples ``rows_of`` yields, which must match
    ``schema``'s fields.  Frames are flushed at ``FRAME_MAX_ROWS`` rows
    or ``FRAME_MAX_BYTES`` of the ``size_col`` payload, so a multi-GB
    container costs one bounded frame of executor memory.
    """
    names = schema.fieldNames()
    at = names.index(size_col)

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            rows, nbytes = [], 0
            for args in zip(*(pdf[c] for c in pdf.columns)):
                for row in rows_of(*args):
                    rows.append(row)
                    nbytes += len(row[at] or b"")
                    if (len(rows) >= FRAME_MAX_ROWS
                            or nbytes >= FRAME_MAX_BYTES):
                        yield pd.DataFrame(rows, columns=names)
                        rows, nbytes = [], 0
            yield pd.DataFrame(rows, columns=names)

    return kernel


# binaryFile's fixed schema: a streaming file source cannot infer it.
BINARY_FILE_SCHEMA = ("path string, modificationTime timestamp, "
                      "length long, content binary")


def read_blobs(spark, path_glob: str, glob_filter: str, rows_of, schema,
               size_col: str, stream: bool = False,
               max_files_per_trigger=None):
    """Files under ``path_glob`` whose names match ``glob_filter`` →
    ``schema`` rows, via ``rows_of(path, content)`` per file.

    ``stream=True`` builds the streaming twin: files arriving in the
    directory become micro-batches (the continuous-crawl shape), and
    the stream checkpoint guarantees each file is exploded exactly
    once; ``max_files_per_trigger`` bounds a micro-batch.
    """
    reader = (spark.readStream.schema(BINARY_FILE_SCHEMA) if stream
              else spark.read).format("binaryFile")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    files = (reader.option("pathGlobFilter", glob_filter)
             .load(path_glob).select("path", "content"))
    return files.mapInPandas(explode(rows_of, schema, size_col),
                             schema=schema)

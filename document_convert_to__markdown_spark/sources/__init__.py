"""Table IO: Iceberg when a catalog is configured, parquet fallback;
plus the container sources — the Common Crawl artifact trio (WARC /
WET / CDX), archive bundles and Wikipedia dumps.

The container readers (``warc``, ``archive``, ``wikidump``) share one
layer, ``blobs``: the capped gzip/bz2/xz inflate loop, the
bounded-frame ``mapInPandas`` exploder and the ``binaryFile``
batch/stream reader.  Each reader only supplies its per-file row
generator and schema."""

from .cdx import read_cdx, read_cdx_stream  # noqa: F401
from .tables import read_pages, read_pages_from_files, write_table
from .warc import (  # noqa: F401
    fetch_warc_by_index,
    read_warc_pages,
    read_warc_pages_stream,
    read_wet_pages,
    read_wet_pages_stream,
)

__all__ = [
    "read_pages", "read_pages_from_files", "write_table",
    "read_cdx", "read_cdx_stream",
    "read_warc_pages", "read_warc_pages_stream",
    "read_wet_pages", "read_wet_pages_stream",
    "fetch_warc_by_index",
]

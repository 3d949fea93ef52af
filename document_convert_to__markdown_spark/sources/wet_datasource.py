"""``spark.read.format("wet")`` — a Spark 4 custom Python DataSource.

The Python Data Source API (SPARK-44076, public since Spark 4.0:
``pyspark.sql.datasource``) lets a pure-Python format plug into the
normal reader surface — ``spark.dataSource.register(WetDataSource)``
then ``spark.read.format("wet").load(path)`` — with Catalyst handling
the rest of the plan.  This module wraps the from-scratch WET parser
(``sources/warc.py:texts_from_wet``) in that API as a second, fully
idiomatic front door to the same records:

- **Partitioning**: one ``InputPartition`` per archive file — exactly
  the Common Crawl work unit (one ~150 MB gzipped WET per ~1 GB WARC;
  a 100 TB crawl is ~100k files → ~100k partitions, each read by one
  task, no shuffle).  The file list is enumerated driver-side at plan
  time, so Spark sizes the scan before launching it.
- **Streaming rows**: ``read`` holds the COMPRESSED archive in memory
  (one ``fh.read()`` — ~150 MB for a Common Crawl WET) and yields
  tuples record-by-record while ``iter_records`` inflates it in
  ~1 MB chunks, so peak per task is O(compressed archive) + O(one
  inflated record) — the raw multi-GB text never materializes.  This
  is the same bound as the ``binaryFile`` + ``mapInPandas`` path
  (binaryFile also ships the whole compressed blob as one row).

When to use which: ``read_wet_pages`` (binaryFile + mapInPandas) ships
each file blob through the JVM scan into one Arrow batch stream —
preferable when the downstream is more pandas UDF work.  This
DataSource keeps the whole scan in the Python worker and hands Spark
Arrow batches directly; its rows enter the plan as a normal scan node
(column pruning applies).  Both paths share one parser and one
schema (``warc.WET_SCHEMA``), and the round-trip test pins them
row-identical.

Sandbox note: files are opened with ``open()`` (local paths / the
``file:`` scheme).  On a real cluster against an object store the
``read`` body would open via ``fsspec``/``boto3`` instead — the API
shape (plan-time listing, per-file partitions, record-streaming
reads) is unchanged.
"""
from __future__ import annotations

import glob as _glob
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)

from .warc import WET_SCHEMA, texts_from_wet


class WetFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class WetDataSourceReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("wet datasource requires a path: "
                             ".load('/dir/of/wet/files')")
        pattern = (os.path.join(path, "*.wet*")
                   if os.path.isdir(path) else path)
        self._files = sorted(_glob.glob(pattern))

    def partitions(self):
        # One file = one partition = one task (the Common Crawl work
        # unit).  An empty listing still needs one partition so the
        # scan yields an empty relation instead of failing to plan.
        if not self._files:
            return [WetFilePartition("")]
        return [WetFilePartition(f) for f in self._files]

    def read(self, partition: WetFilePartition):
        if not partition.path:
            return
        with open(partition.path, "rb") as fh:
            data = fh.read()
        # texts_from_wet streams records out of the (possibly gzipped)
        # archive in bounded chunks; yield per record.
        yield from texts_from_wet(data)


class WetDataSource(DataSource):
    """Register with ``spark.dataSource.register(WetDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "wet"

    def schema(self):
        return WET_SCHEMA

    def reader(self, schema) -> WetDataSourceReader:
        return WetDataSourceReader(self.options)


def register(spark) -> None:
    """Idempotent registration helper."""
    spark.dataSource.register(WetDataSource)

"""``spark.read.format("archive")`` / ``df.write.format("archive")`` —
a Spark 4 custom Python DataSource over document bundles.

Second, fully idiomatic front door to `sources/archive.py` through the
Python Data Source API (SPARK-44076, ``pyspark.sql.datasource``) —
the same dual-surface pattern as the WET source
(`sources/wet_datasource.py`), extended to the WRITE side:

- **Reader**: one ``InputPartition`` per bundle file (zip / tar /
  tar.gz — the archive work unit; a corpus delivered as 10^5 bundles
  plans as 10^5 tasks, no shuffle), each exploded member-by-member by
  the per-file row generator ``read_archive_docs`` uses, under the
  same ``ARCHIVE_DOCS_SCHEMA``, so the mapInPandas path and this one
  can never disagree on grammar, safety rails or schema.
- **Writer**: ``df.write.format("archive").mode(...).save(dir)``
  packs ``(url, html)`` rows into size-bounded tar shards through the
  Data Source API's two-phase commit: each task writes its own
  ``part-<task>-<seq>.tar`` files and returns them in its
  ``WriterCommitMessage``; the driver's ``commit`` publishes a
  ``_manifest.json`` + ``_SUCCESS`` only when every task succeeded,
  and ``abort`` deletes the orphaned shard files — so a half-failed
  export never looks complete (the same job-commit discipline the
  engine's snapshot sink provides, expressed through Spark's own
  writer protocol).  For byte-deterministic, range-clustered shards
  use ``pack_tar_shards`` (it owns the repartitionByRange + sorted
  greedy packing); this writer packs whatever partitioning the plan
  hands it — the idiomatic surface, not a replacement.

Sandbox note: files are opened with ``open()`` (local paths).  On a
real cluster the bodies would open via fsspec/boto3; the API shape —
plan-time listing, per-file partitions, task-write + driver-commit —
is unchanged.
"""
from __future__ import annotations

import glob as _glob
import json
import os
from dataclasses import dataclass, field
from typing import Iterator, List, Optional

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from .archive import ARCHIVE_DOCS_SCHEMA, _archive_rows

_BUNDLE_GLOBS = ("*.zip", "*.tar", "*.tar.gz", "*.tgz",
                 "*.tar.bz2", "*.tbz2", "*.tar.xz", "*.txz")


class ArchivePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class ArchiveDataSourceReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("archive datasource requires a path: "
                             ".load('/dir/of/bundles')")
        if os.path.isdir(path):
            files: set = set()
            for pat in _BUNDLE_GLOBS:
                files.update(_glob.glob(os.path.join(path, pat)))
            self._files = sorted(files)
        else:
            self._files = sorted(_glob.glob(path))
            # A literal path that matches nothing is a typo, not an
            # empty corpus — fail like Spark's built-in file sources
            # do on a missing root (an existing-but-empty DIRECTORY
            # still plans as an empty relation above).
            if not self._files and not _glob.has_magic(path):
                raise ValueError(
                    f"archive datasource path not found: {path}")

    def partitions(self):
        # One bundle = one partition = one task.  An empty listing
        # still needs one partition so the scan yields an empty
        # relation instead of failing to plan.
        if not self._files:
            return [ArchivePartition("")]
        return [ArchivePartition(f) for f in self._files]

    def read(self, partition: ArchivePartition):
        if not partition.path:
            return
        with open(partition.path, "rb") as fh:
            yield from _archive_rows(partition.path, fh.read())


@dataclass
class ShardCommitMessage(WriterCommitMessage):
    shards: List[str] = field(default_factory=list)
    n_members: int = 0
    raw_bytes: int = 0


class TarShardWriter(DataSourceWriter):
    """Batch tar-shard sink with a real two-phase commit.

    Tasks never touch the published directory: each attempt writes its
    shards under ``_staging/`` with an attempt-unique token (safe
    against speculative/zombie duplicate attempts — two attempts of
    one partition can't collide) and reports them in its commit
    message.  The driver's ``commit`` renames the winning attempts'
    shards to sequential ``part-<i>.tar`` names — continuing from the
    highest existing index under ``mode("append")``, whose prior
    manifest is merged rather than clobbered — and only then publishes
    ``_manifest.json`` + ``_SUCCESS``.  A crashed task's partial file
    stays in ``_staging`` (invisible to Spark listings and both
    archive readers, like FileOutputCommitter's ``_temporary``) and is
    swept by the next ``abort``/``overwrite``.
    """

    def __init__(self, options: dict, overwrite: bool):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("archive datasource requires a path: "
                             ".save('/dir/for/shards')")
        self._target = int(options.get("target_bytes", 1 << 30))
        self._url_col = options.get("url_col", "url")
        self._blob_col = options.get("blob_col", "html")
        self._overwrite = overwrite
        self._staging = os.path.join(self._path, "_staging")
        # Driver-side, before any task runs: overwrite clears prior
        # shards and their manifest so a reader can never mix exports
        # (and sweeps any stale staging debris from crashed jobs).
        os.makedirs(self._staging, exist_ok=True)
        if overwrite:
            for f in os.listdir(self._path):
                if f.endswith(".tar") or f in ("_manifest.json",
                                               "_SUCCESS"):
                    os.remove(os.path.join(self._path, f))
            for f in os.listdir(self._staging):
                os.remove(os.path.join(self._staging, f))

    def write(self, rows: Iterator) -> ShardCommitMessage:
        import uuid

        token = uuid.uuid4().hex                 # task-attempt unique
        return _pack_rows_to_tars(
            rows, self._staging, self._target, self._url_col,
            self._blob_col, lambda i: f"{token}-{i:04d}.tar")

    def commit(self, messages: List[Optional[ShardCommitMessage]]) -> None:
        prior = {"shards": [], "n_members": 0, "raw_bytes": 0}
        man_path = os.path.join(self._path, "_manifest.json")
        if not self._overwrite and os.path.exists(man_path):
            with open(man_path) as fh:
                prior = json.load(fh)
        nxt = 1 + max(
            (int(f[5:-4]) for f in os.listdir(self._path)
             if f.startswith("part-") and f.endswith(".tar")
             and f[5:-4].isdigit()), default=-1)
        final = list(prior["shards"])
        n_members = prior["n_members"]
        raw_bytes = prior["raw_bytes"]
        for m in messages:
            if not m:
                continue
            n_members += m.n_members
            raw_bytes += m.raw_bytes
            for s in sorted(m.shards):
                name = f"part-{nxt:05d}.tar"
                os.replace(os.path.join(self._staging, s),
                           os.path.join(self._path, name))
                final.append(name)
                nxt += 1
        with open(man_path, "w") as fh:
            json.dump({"shards": sorted(final), "n_members": n_members,
                       "raw_bytes": raw_bytes}, fh, sort_keys=True)
        with open(os.path.join(self._path, "_SUCCESS"), "w"):
            pass

    def abort(self, messages: List[Optional[ShardCommitMessage]]) -> None:
        # Failed job: sweep the whole staging dir — reported shards
        # AND partials from tasks that died mid-write (which never
        # reported a message).
        for f in os.listdir(self._staging):
            try:
                os.remove(os.path.join(self._staging, f))
            except OSError:
                pass


def _pack_rows_to_tars(rows, out_dir: str, target: int, url_col: str,
                       blob_col: str, name_fn) -> "ShardCommitMessage":
    """Shared greedy packer for the batch and streaming writers:
    consume Rows, emit size-bounded tar files named by ``name_fn(i)``,
    return the commit message listing what was written."""
    import io
    import tarfile

    from .archive import shard_member_name

    msg = ShardCommitMessage()
    tf = None
    cur_path = None
    cur_raw = 0

    def _open():
        nonlocal tf, cur_path, cur_raw
        cur_path = os.path.join(out_dir, name_fn(len(msg.shards)))
        tf = tarfile.open(cur_path, mode="w", format=tarfile.PAX_FORMAT)
        cur_raw = 0

    def _close():
        nonlocal tf
        tf.close()
        msg.shards.append(os.path.basename(cur_path))
        tf = None

    for row in rows:
        url = str(row[url_col])
        blob = row[blob_col]
        data = b"" if blob is None else bytes(blob)
        if tf is not None and cur_raw and cur_raw + len(data) > target:
            _close()
        if tf is None:
            _open()
        info = tarfile.TarInfo(shard_member_name(url))
        info.size = len(data)
        info.mtime = 0
        info.uid = info.gid = 0
        info.uname = info.gname = ""
        info.mode = 0o644
        tf.addfile(info, io.BytesIO(data))
        cur_raw += len(data)
        msg.n_members += 1
        msg.raw_bytes += len(data)
    if tf is not None:
        _close()
    return msg


class TarShardStreamWriter(DataSourceStreamWriter):
    """Micro-batch tar-shard sink: continuous arrivals become committed
    shard files, exactly-once at file granularity.

    Tasks cannot see the batch id (only ``commit``/``abort`` receive
    it), so each task writes its shards under ``_staging/`` with
    collision-free names and reports them in its commit message; the
    driver's ``commit(batchId)`` renames them to
    ``batch-<id>-<i>.tar`` and records the batch's shard list in
    ``manifest-<id>.json``.  ``_staging`` starts with an underscore,
    so Spark file listings (and thus both archive readers) never see
    uncommitted shards — the same visibility rule FileOutputCommitter
    relies on for ``_temporary``.  A replayed batch (crash between
    task success and checkpoint advance) re-commits idempotently:
    commit first deletes any ``batch-<id>-*`` from the earlier
    attempt, so the batch's files appear exactly once.
    """

    def __init__(self, options: dict, overwrite: bool):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("archive stream sink requires a path")
        self._target = int(options.get("target_bytes", 1 << 30))
        self._url_col = options.get("url_col", "url")
        self._blob_col = options.get("blob_col", "html")
        self._staging = os.path.join(self._path, "_staging")
        os.makedirs(self._staging, exist_ok=True)

    def write(self, rows: Iterator) -> ShardCommitMessage:
        import uuid

        token = uuid.uuid4().hex                 # task-attempt unique
        return _pack_rows_to_tars(
            rows, self._staging, self._target, self._url_col,
            self._blob_col, lambda i: f"{token}-{i:04d}.tar")

    def commit(self, messages, batchId: int) -> None:
        # idempotent replay: a prior attempt's output for this batch
        # is removed before the fresh rename
        prefix = f"batch-{batchId:06d}-"
        for f in os.listdir(self._path):
            if f.startswith(prefix) and f.endswith(".tar"):
                os.remove(os.path.join(self._path, f))
        final = []
        n_members = raw_bytes = 0
        i = 0
        for m in messages:
            if not m:
                continue
            n_members += m.n_members
            raw_bytes += m.raw_bytes
            for s in sorted(m.shards):
                name = f"{prefix}{i:04d}.tar"
                os.replace(os.path.join(self._staging, s),
                           os.path.join(self._path, name))
                final.append(name)
                i += 1
        with open(os.path.join(self._path,
                               f"manifest-{batchId:06d}.json"), "w") as fh:
            json.dump({"batch": batchId, "shards": final,
                       "n_members": n_members,
                       "raw_bytes": raw_bytes}, fh, sort_keys=True)

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if not m:
                continue
            for s in m.shards:
                try:
                    os.remove(os.path.join(self._staging, s))
                except OSError:
                    pass


class ArchiveDataSource(DataSource):
    """Register with ``spark.dataSource.register(ArchiveDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "archive"

    def schema(self):
        return ARCHIVE_DOCS_SCHEMA

    def reader(self, schema) -> ArchiveDataSourceReader:
        return ArchiveDataSourceReader(self.options)

    def writer(self, schema, overwrite: bool) -> TarShardWriter:
        return TarShardWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> TarShardStreamWriter:
        return TarShardStreamWriter(self.options, overwrite)


def register(spark) -> None:
    """Idempotent registration helper."""
    spark.dataSource.register(ArchiveDataSource)

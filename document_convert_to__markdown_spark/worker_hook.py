"""Take the per-task zip re-read out of PySpark's Python worker.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``setup_spark_files`` in ``pyspark/worker_util.py``), so that
files shipped with ``addPyFile`` become importable.  Before CPython
3.13, ``zipimporter.invalidate_caches`` re-reads the archive's whole
central directory at once, and a warm worker holds ~16 zipimporters
over ``pyspark.zip`` (1,328 entries in PySpark 4.1.2) and the py4j zip.
On 3.11.7 at ``local[4]`` on a 4-vCPU VM, 16 empty ``mapInPandas`` tasks
took 1.1-1.2 s with the re-read and ~0.4 s without it, against ~0.13 s
for a JVM-only job.

``install()`` wraps ``zipimporter.invalidate_caches`` so that an
importer re-reads its archive only when the archive's size or mtime
changed since that importer last read it.  A zip shipped later (a new
``sys.path`` entry) gets a new zipimporter, which reads its own
directory when it is created, so shipped code still imports.

The package ``__init__`` calls ``install()`` only inside a Python worker
(``pyspark.worker`` imported): every kernel's module imports the package
when the worker unpickles it, so the hook is in place from a worker's
second task on.  Outside workers the import machinery is left alone.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self) -> None:
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


_reread = zipimport.zipimporter.invalidate_caches


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` (once per process)."""
    if zipimport.zipimporter.invalidate_caches is _invalidate_if_changed:
        return
    # The live importers have read their archives already; inside a
    # worker, in this very task's invalidate_caches() call.
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder._read_stamp = _stamp(finder.archive)
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

"""The Python-worker zip hook (``worker_hook.py``): PySpark's per-task
``importlib.invalidate_caches()`` must not re-read the zip archives a
worker already loaded, and code shipped later must still import."""

import importlib
import uuid
import zipfile
import zipimport

import pytest

from document_convert_to__markdown_spark import worker_hook


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    """Called directly on one importer, so the test process's own import
    machinery stays unpatched."""
    path = str(tmp_path / "probe.zip")
    _write_zip(path, {"mod_a": "VALUE = 1\n"})
    importer = zipimport.zipimporter(path)
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or real(p))

    worker_hook._invalidate_if_changed(importer)  # not stamped yet: read
    worker_hook._invalidate_if_changed(importer)
    assert reads == [path]

    # A rewritten archive (new size) is read again and its new module found.
    _write_zip(path, {"mod_a": "VALUE = 1\n", "mod_b": "VALUE = 2\n"})
    worker_hook._invalidate_if_changed(importer)
    assert reads == [path, path]
    assert importer.find_spec("mod_b") is not None


def test_worker_does_not_reread_zips_per_task(spark):
    """Inside a task, ``importlib.invalidate_caches()`` (what PySpark's
    worker calls before every task) reads no zip directory."""

    def count_rereads(_):
        import sys

        import document_convert_to__markdown_spark  # noqa: F401  (installs the hook)

        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        live = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        yield len(reads), live

    out = spark.sparkContext.parallelize(range(8), 8) \
        .mapPartitions(count_rereads).collect()
    if not any(live for _, live in out):
        pytest.skip("no zip archive on the worker's sys.path")
    assert [reads for reads, _ in out] == [0] * 8


def test_pyfile_added_to_warm_workers_still_imports(spark, tmp_path):
    """The package installs the hook in every worker that imports it, and
    a zip shipped after that is found by the hooked import machinery."""
    sc = spark.sparkContext

    def hook_installed(_):
        import document_convert_to__markdown_spark  # noqa: F401

        yield zipimport.zipimporter.invalidate_caches.__name__ \
            == "_invalidate_if_changed"

    assert all(sc.parallelize(range(8), 8).mapPartitions(hook_installed)
               .collect())

    name = f"hook_probe_{uuid.uuid4().hex}"
    path = str(tmp_path / f"{name}.zip")
    _write_zip(path, {name: "VALUE = 42\n"})
    sc.addPyFile(path)

    def import_shipped(_):
        import document_convert_to__markdown_spark  # noqa: F401

        yield importlib.import_module(name).VALUE

    assert sc.parallelize(range(8), 8).mapPartitions(import_shipped) \
        .collect() == [42] * 8

"""crawler_spark._zipcache: importing the package makes zipimport's directory
cache lazy, so ``importlib.invalidate_caches()`` (which PySpark's worker
calls before every task) re-reads no archive. The first four tests need no
SparkSession."""

import importlib
import importlib.util
import sys
import zipfile
import zipimport

import pytest

from crawler_spark import _zipcache

MODULES = ("zc_first", "zc_appended")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding ``zc_first``. ``sys.path``,
    ``sys.path_importer_cache``, the zip directory cache and the ``zc_*``
    entries of ``sys.modules`` are restored after the test."""
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.setattr(zipimport, "_zip_directory_cache", dict(zipimport._zip_directory_cache))
    for name in MODULES:
        # Record the name as absent, so that undo drops what the test imports.
        monkeypatch.setitem(sys.modules, name, None)
        del sys.modules[name]
    path = tmp_path / "lib.zip"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zc_first.py", "VALUE = 1\n")
    monkeypatch.syspath_prepend(str(path))
    assert importlib.import_module("zc_first").VALUE == 1
    assert isinstance(sys.path_importer_cache[str(path)], zipimport.zipimporter)
    return path


def _count_reads(monkeypatch):
    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_invalidate_caches_rereads_no_unchanged_archive(archive, monkeypatch):
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads == []


def test_module_appended_to_archive_is_found_after_invalidate(archive):
    with zipfile.ZipFile(archive, "a") as zf:
        zf.writestr("zc_appended.py", "VALUE = 2\n")
    importlib.invalidate_caches()
    assert importlib.import_module("zc_appended").VALUE == 2


def test_module_in_deleted_archive_is_not_found(archive):
    del sys.modules["zc_first"]
    archive.unlink()
    importlib.invalidate_caches()
    assert importlib.util.find_spec("zc_first") is None


def test_nothing_installed_where_zipimporter_is_already_lazy():
    class LazyZipimporter:  # zipimporter's shape from Python 3.13 on
        def _get_files(self):
            return {}

        def invalidate_caches(self):
            pass

    before = dict(vars(LazyZipimporter))
    _zipcache._install(LazyZipimporter)
    assert dict(vars(LazyZipimporter)) == before


def test_worker_tasks_reread_no_archive(spark):
    """In a Python worker that has imported the package (as unpickling a
    package UDF does), the per-task ``invalidate_caches`` reads no archive
    directory (without the port it re-reads pyspark.zip, py4j and the jar),
    and no importer keeps a private copy of its directory."""

    def reads_across_invalidate(_rows):
        import importlib
        import sys
        import zipimport

        import crawler_spark  # noqa: F401

        importers = [i for i in sys.path_importer_cache.values() if isinstance(i, zipimport.zipimporter)]
        private_copies = sum("_files" in vars(i) for i in importers)
        real = zipimport._read_directory
        reads = []

        def counting(path):
            reads.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield len(importers), private_copies, len(reads)

    out = spark.sparkContext.parallelize(range(4), 4).mapPartitions(reads_across_invalidate).collect()
    assert len(out) == 4
    assert all(importers > 0 for importers, _, _ in out)
    assert [copies for _, copies, _ in out] == [0, 0, 0, 0]
    assert [reads for _, _, reads in out] == [0, 0, 0, 0]

"""The stamp-checked zip importer cache (``_zipimport_cache``).

Spark's Python worker calls ``importlib.invalidate_caches()`` before every
task; on Python < 3.13 each zip importer then re-reads its archive's whole
directory. These tests pin that an unchanged archive is not re-read, that a
changed or missing one is handled as the stdlib handles it, and that a
Spark worker which has imported the package re-reads nothing.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from bloomfilter_multithread_spark import _zipimport_cache

pytestmark = pytest.mark.skipif(sys.version_info >= (3, 13),
                                reason="3.13+ invalidates zip importers lazily")


@pytest.fixture
def zipped_module(tmp_path):
    """A zip holding module ``m`` on ``sys.path``; yields the archive path."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "VALUE = 1\n")
    sys.path.insert(0, archive)
    yield archive
    sys.path.remove(archive)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    sys.modules.pop("m", None)


def _write_zip(archive: str, source: str) -> None:
    # written beside and renamed over, as a deployment replaces a file
    tmp = archive + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr("m.py", source)
    os.replace(tmp, archive)


def _count_reads(monkeypatch, archive: str) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(zipped_module, monkeypatch):
    import m

    assert m.VALUE == 1
    importlib.invalidate_caches()  # the first call after install stamps the archive
    reads = _count_reads(monkeypatch, zipped_module)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(zipped_module, monkeypatch):
    import m

    assert m.VALUE == 1
    importlib.invalidate_caches()
    reads = _count_reads(monkeypatch, zipped_module)
    _write_zip(zipped_module, "VALUE = 2\nEXTRA = 'x'\n")
    importlib.invalidate_caches()
    assert reads == [zipped_module]
    del sys.modules["m"]
    import m as fresh

    assert fresh.VALUE == 2 and fresh.EXTRA == "x"


def test_missing_archive_does_not_raise(zipped_module):
    import m  # noqa: F401

    importlib.invalidate_caches()
    os.remove(zipped_module)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert zipped_module not in zipimport._zip_directory_cache


def test_reinstall_keeps_one_wrapper():
    installed = zipimport.zipimporter.invalidate_caches
    importlib.reload(_zipimport_cache)
    _zipimport_cache.install()
    now = zipimport.zipimporter.invalidate_caches
    assert now is installed
    assert getattr(now.__wrapped__, "__wrapped__", None) is None


def test_warm_spark_worker_rereads_no_archive(spark):
    import pyarrow as pa

    def rereads(batches):
        import importlib
        import sys
        import zipimport

        import bloomfilter_multithread_spark  # noqa: F401  (as any package task does)

        importlib.invalidate_caches()  # the task-start call; the worker is warm after it
        real = zipimport._read_directory
        calls = []

        def counting(path):
            calls.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        importers = sum(isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"rereads": [len(calls)], "importers": [importers]})

    rows = (spark.range(4, numPartitions=4)
            .mapInArrow(rereads, "rereads long, importers long").collect())
    assert len(rows) == 4
    # the workers import pyspark from a zip, so there is something to re-read
    assert all(r["importers"] > 0 for r in rows)
    assert [r["rereads"] for r in rows] == [0, 0, 0, 0]

"""``_zipcache``: ``importlib.invalidate_caches()`` re-reads a zip archive's
directory only when the archive changed, in this process and in Spark's Python
workers (Python < 3.12; 3.12 re-reads lazily on its own)."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from distributed_mapreduce_in_docker_rpyc_spark import _zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython 3.12 re-reads zip directories lazily"
)


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


def test_invalidate_caches_rereads_a_zip_only_when_it_changed(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zc_old.py": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zc_old", "zc_new"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zc_old").X == 1

    reads = []
    read = zipimport._read_directory

    def counting_read(path):
        if path == str(archive):
            reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, {"zc_old.py": "X = 1\n", "zc_new.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module("zc_new").Y == 2


def test_worker_that_imported_the_engine_skips_the_reread(spark):
    """A Python worker that has imported the engine runs the replacement: a
    second ``invalidate_caches()`` (the one PySpark makes before each task)
    reads no zip directory, ``pyspark.zip``'s included."""

    def probe(_):
        import importlib
        import zipimport

        from distributed_mapreduce_in_docker_rpyc_spark import _zipcache

        importlib.invalidate_caches()
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or read(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield _zipcache.installed(), reads

    [(installed, reads)] = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert installed and reads == []
    assert _zipcache.installed()

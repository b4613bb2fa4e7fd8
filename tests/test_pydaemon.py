"""The worker daemon's zip-archive cache: an unchanged archive is not
re-read, a rewritten one is, and a Spark task's per-task
``importlib.invalidate_caches()`` reads no archive."""

from __future__ import annotations

import importlib.util
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from coies_spark import pydaemon

# CPython 3.13's own invalidate_caches only drops the cached directory,
# and the daemon installs the replacement below 3.13 only
older_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="replacement unused on CPython >= 3.13"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _count_reads(monkeypatch):
    calls = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@older_zipimport
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"mod_a": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    pydaemon.invalidate_caches(importer)  # first call reads and stamps
    calls = _count_reads(monkeypatch)
    pydaemon.invalidate_caches(importer)
    # a second importer of the same archive shares the stamp
    pydaemon.invalidate_caches(zipimport.zipimporter(archive))
    assert calls == []
    assert importer.find_spec("mod_a") is not None


@older_zipimport
def test_rewritten_archive_is_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"mod_a": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    other = zipimport.zipimporter(archive)
    pydaemon.invalidate_caches(importer)
    assert importer.find_spec("mod_b") is None
    _write_zip(archive, {"mod_a": "X = 1\n", "mod_b": "Y = 2\n"})
    calls = _count_reads(monkeypatch)
    pydaemon.invalidate_caches(importer)
    # one read serves every importer of the archive
    pydaemon.invalidate_caches(other)
    assert calls == [archive]
    assert other.find_spec("mod_b") is not None
    spec = importer.find_spec("mod_b")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.Y == 2


def test_importing_patches_nothing():
    assert zipimport.zipimporter.invalidate_caches is not pydaemon.invalidate_caches


@pytest.mark.spark
def test_task_reads_no_archive(spark):
    """Inside a task, the worker's own ``importlib.invalidate_caches()``
    call re-reads none of the zip archives on its import path."""
    assert (
        spark.sparkContext.getConf().get("spark.python.daemon.module")
        == "coies_spark.pydaemon"
    )

    def probe(batches):
        import importlib
        import sys
        import zipimport

        for _ in batches:
            pass
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        calls = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: calls.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield pd.DataFrame({"zips": [zips], "reads": [len(calls)]})

    (got,) = spark.range(1, numPartitions=1).mapInPandas(
        probe, "zips long, reads long"
    ).collect()
    assert got.zips > 0  # pyspark.zip is on the worker's import path
    assert got.reads == 0

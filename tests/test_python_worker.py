"""Zip-archive re-reads on ``importlib.invalidate_caches()``.

A PySpark Python worker invalidates the import caches at the start of
every task; importing ``sedona_db_spark`` makes that skip re-reading zip
archives on ``sys.path`` that did not change (sedona_db_spark.python_worker).
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

import sedona_db_spark  # noqa: F401  (importing installs the guard)


def _write_zip(path, modules):
    # write beside, then rename: the rewritten archive is a new file, as
    # when a deployment replaces it
    tmp = str(path) + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)
    os.replace(tmp, path)


def _count_reads(monkeypatch, archive):
    reads = []
    stock = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return stock(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    monkeypatch.syspath_prepend(archive)
    yield archive
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    for name in [m for m in sys.modules if m.startswith("zipw_")]:
        del sys.modules[name]


def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    _write_zip(zip_on_path, {"zipw_kept": "VALUE = 1\n"})
    assert importlib.import_module("zipw_kept").VALUE == 1
    # the first invalidation records what the archive looked like when
    # read; every later one with the archive untouched reads nothing
    importlib.invalidate_caches()
    reads = _count_reads(monkeypatch, zip_on_path)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(zip_on_path, monkeypatch):
    _write_zip(zip_on_path, {"zipw_old": "VALUE = 1\n",
                             "zipw_stays": "VALUE = 2\n"})
    assert importlib.import_module("zipw_old").VALUE == 1
    importlib.invalidate_caches()
    _write_zip(zip_on_path, {"zipw_new": "VALUE = 3\n",
                             "zipw_stays": "VALUE = 4\n"})
    reads = _count_reads(monkeypatch, zip_on_path)
    importlib.invalidate_caches()
    del sys.modules["zipw_old"]
    assert importlib.import_module("zipw_new").VALUE == 3
    assert importlib.import_module("zipw_stays").VALUE == 4
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("zipw_old")
    # CPython >= 3.13 reads lazily, at the next lookup instead
    assert len(reads) >= 1


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="3.13 re-reads lazily; no guard is installed")
def test_guard_active_in_spark_worker(spark):
    @F.pandas_udf("string")
    def probe(s: pd.Series) -> pd.Series:
        import importlib
        import zipimport

        import sedona_db_spark  # noqa: F401
        guard = zipimport.zipimporter.invalidate_caches
        ours = guard.__module__ == "sedona_db_spark.python_worker"
        importlib.invalidate_caches()  # record every archive's state
        stock, reads = zipimport._read_directory, []

        def counting(path):
            reads.append(path)
            return stock(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        return pd.Series([f"{ours} {len(reads)}"] * len(s))

    got = {r[0] for r in spark.range(4, numPartitions=2)
           .select(probe("id")).collect()}
    assert got == {"True 0"}

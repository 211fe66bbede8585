"""The once-per-process worker set-up (duckdb_age_spark/_worker.py): below
Python 3.13 ``importlib.invalidate_caches()`` re-reads a zip archive's
directory only when the archive changed, and a reused Python worker freezes
its import heap out of the per-task full collection.  The checks count
directory reads and frozen objects; none of them times anything."""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

import duckdb_age_spark  # noqa: F401  (installs the guard in this process)

GUARDED = sys.version_info < (3, 13)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def _reads_during(fn, monkeypatch) -> list[str]:
    """The archives whose directories ``fn()`` reads."""
    reads: list[str] = []
    stock = zipimport._read_directory
    with monkeypatch.context() as m:
        m.setattr(zipimport, "_read_directory", lambda archive: reads.append(archive) or stock(archive))
        fn()
    return reads


def test_zip_guard_is_installed_below_python_3_13_only():
    patched = zipimport.zipimporter.invalidate_caches.__module__ == "duckdb_age_spark._worker"
    assert patched == GUARDED


@pytest.mark.skipif(not GUARDED, reason="Python 3.13 invalidates zip directories lazily")
def test_unchanged_zip_is_not_reread_and_a_rewritten_one_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zipguard_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zipguard_a").X == 1
        importlib.invalidate_caches()  # the first call stamps the archive
        assert archive not in _reads_during(importlib.invalidate_caches, monkeypatch)

        # rewritten in place with a new module: read again, and it imports
        _write_zip(archive, {"zipguard_a": "X = 1\n", "zipguard_b": "Y = 2\n"})
        assert _reads_during(importlib.invalidate_caches, monkeypatch).count(archive) == 1
        assert importlib.import_module("zipguard_b").Y == 2
        assert archive not in _reads_during(importlib.invalidate_caches, monkeypatch)

        os.remove(archive)
        importlib.invalidate_caches()  # a deleted archive does not raise
        with pytest.raises(ImportError):
            importlib.import_module("zipguard_c")
    finally:
        sys.path_importer_cache.pop(archive, None)
        for name in ("zipguard_a", "zipguard_b"):
            sys.modules.pop(name, None)


def test_reused_worker_is_frozen_and_skips_zip_rereads(spark):
    """In a worker the package freezes the import heap and stops the
    per-task invalidation from reading any archive; the driver, which does
    not set SPARK_REUSE_WORKER, is not frozen."""

    @F.pandas_udf("frozen long, reads long")
    def probe(ids: pd.Series) -> pd.DataFrame:
        import gc
        import importlib
        import zipimport

        import duckdb_age_spark  # noqa: F401

        # a worker whose first task this is has read its archives before
        # the guard came in, so the first call stamps them
        importlib.invalidate_caches()
        reads = []
        stock = zipimport._read_directory
        zipimport._read_directory = lambda archive: reads.append(archive) or stock(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        return pd.DataFrame({"frozen": [gc.get_freeze_count()] * len(ids), "reads": [len(reads)] * len(ids)})

    rows = spark.range(4, numPartitions=2).select(probe("id").alias("p")).select("p.*").collect()
    assert rows and all(r.frozen > 0 for r in rows), rows
    if GUARDED:
        assert all(r.reads == 0 for r in rows), rows
    assert gc.get_freeze_count() == 0

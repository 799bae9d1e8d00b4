"""The package worker daemon: a zip archive is re-read by
``importlib.invalidate_caches()`` only when it changed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from cdc_dedupe_spark import worker_daemon


def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zd_mod_a.py", "VALUE = 'a'\n")
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon._original)
    try:
        assert importlib.import_module("zd_mod_a").VALUE == "a"
        worker_daemon.install()
        importlib.invalidate_caches()  # first call: no stamp yet, reads
        assert len(reads) == 2
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == 2  # unchanged archive: not re-read

        with zipfile.ZipFile(archive, "a") as zf:
            zf.writestr("zd_mod_b.py", "VALUE = 'b'\n")
        importlib.invalidate_caches()
        assert len(reads) == 3
        assert importlib.import_module("zd_mod_b").VALUE == "b"
    finally:
        for name in ("zd_mod_a", "zd_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        monkeypatch.undo()
    assert zipimport.zipimporter.invalidate_caches is worker_daemon._original


def _reads_during_invalidate(_rows):
    import importlib
    import sys
    import zipimport

    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    zipimport._read_directory = counting_read
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real_read
    zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    yield zips, len(reads)


def test_worker_tasks_do_not_reread_zip_archives(spark):
    out = (
        spark.sparkContext.parallelize(range(4), 4)
        .mapPartitions(_reads_during_invalidate)
        .collect()
    )
    assert len(out) == 4
    if not any(zips for zips, _ in out):
        pytest.skip("workers import nothing from a zip archive")
    assert [reads for _, reads in out] == [0, 0, 0, 0]

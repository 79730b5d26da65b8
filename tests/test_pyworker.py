"""The worker-side zip-directory refresh gate (splade_spark._pyworker)."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from splade_spark import _pyworker


def _write_zip(path, body: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zgate_probe_mod.py", body)


@pytest.fixture
def probe_zip(tmp_path, monkeypatch):
    """A zip on sys.path holding ``zgate_probe_mod``; yields (path, reads)
    where ``reads`` lists every ``_read_directory`` call on that archive."""
    path = str(tmp_path / "probe.zip")
    _write_zip(path, "VALUE = 1\n")
    reads = []
    real_read = zipimport._read_directory

    def counting_read(archive):
        if archive == path:
            reads.append(archive)
        return real_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(path)
    yield path, reads
    sys.modules.pop("zgate_probe_mod", None)
    sys.path_importer_cache.pop(path, None)


def _install(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    assert not getattr(original, "_splade_gate", False)
    # registered first, so monkeypatch's undo puts the original back
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    _pyworker.install()
    _pyworker.install()
    gate = zipimport.zipimporter.invalidate_caches
    assert gate.__wrapped__ is original  # installing twice wraps once
    return original


def test_ungated_refresh_rereads(probe_zip):
    # the per-task cost the gate removes: on this Python every
    # invalidate_caches() re-reads every zip archive's directory
    path, reads = probe_zip
    importlib.import_module("zgate_probe_mod")
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 2


def test_gate_skips_unchanged_archive(probe_zip, monkeypatch):
    path, reads = probe_zip
    _install(monkeypatch)
    mod = importlib.import_module("zgate_probe_mod")
    importlib.invalidate_caches()  # first gated refresh records the stat
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    assert importlib.reload(mod).VALUE == 1


def test_gate_rereads_rewritten_archive(probe_zip, monkeypatch):
    path, reads = probe_zip
    _install(monkeypatch)
    mod = importlib.import_module("zgate_probe_mod")
    importlib.invalidate_caches()
    reads.clear()
    _write_zip(path, "VALUE = 22  # a different body\n")
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.reload(mod).VALUE == 22
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


def test_gate_falls_through_on_missing_archive(probe_zip, tmp_path, monkeypatch):
    path, reads = probe_zip
    _install(monkeypatch)
    importlib.import_module("zgate_probe_mod")
    importer = sys.path_importer_cache[path]
    importlib.invalidate_caches()
    reads.clear()
    (tmp_path / "probe.zip").unlink()
    importlib.invalidate_caches()
    # the original method ran: it tried the read and dropped the entries
    assert len(reads) == 1
    assert importer._files == {}
    _write_zip(path, "VALUE = 3\n")
    importlib.invalidate_caches()
    assert len(reads) == 2
    assert "zgate_probe_mod.py" in importer._files


def test_monkeypatch_restores_original(monkeypatch):
    original = _install(monkeypatch)
    assert _pyworker.is_installed()
    monkeypatch.undo()
    assert zipimport.zipimporter.invalidate_caches is original
    assert not _pyworker.is_installed()


def test_gate_on_in_reused_worker(spark):
    df = spark.range(1, numPartitions=1)
    for _ in range(2):
        rows = df.mapInPandas(_pyworker.gate_probe, "gated boolean, pid long").collect()
        assert [r["gated"] for r in rows] == [True]


def test_driver_not_gated(spark):
    import splade_spark  # noqa: F401  (the package import is what installs)

    assert not _pyworker.is_installed()

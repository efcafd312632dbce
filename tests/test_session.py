"""`install_stat_checked_zipimport` skips a zipimporter's directory re-read
only while its archive on disk is unchanged: a rewritten archive is re-read
once and its new modules import; installing twice wraps once."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from pyofs_spark.session import install_stat_checked_zipimport


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module m1, on sys.path and imported; the helper's
    class patch is undone after the test."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["m1"])
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.syspath_prepend(path)
    for name in ("m1", "m2"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import m1

    assert m1.NAME == "m1"
    yield path
    for name in ("m1", "m2"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)


@pytest.fixture
def reads(zip_on_path, monkeypatch):
    """Calls of zipimport._read_directory on the test archive."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        if archive == zip_on_path:
            calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_zip_is_not_reread(zip_on_path, reads):
    install_stat_checked_zipimport()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_zip_is_reread_once(zip_on_path, reads):
    install_stat_checked_zipimport()
    _write_zip(zip_on_path, ["m1", "m2"])
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1
    import m2

    assert m2.NAME == "m2"


def test_stat_is_kept_per_importer(zip_on_path, reads):
    """A second importer of the same archive still re-reads after the first
    one has: the stat record is not shared by archive path."""
    install_stat_checked_zipimport()
    first = sys.path_importer_cache[zip_on_path]
    second = zipimport.zipimporter(zip_on_path)
    second.invalidate_caches()
    _write_zip(zip_on_path, ["m1", "m2"])
    first.invalidate_caches()
    second.invalidate_caches()
    assert len(reads) == 3
    assert second.find_spec("m2") is not None


def test_missing_archive_falls_back_to_reread(zip_on_path, reads, tmp_path):
    install_stat_checked_zipimport()
    (tmp_path / "mods.zip").unlink()
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert sys.path_importer_cache[zip_on_path].find_spec("m1") is None


def test_install_twice_wraps_once(zip_on_path, reads):
    original = zipimport.zipimporter.invalidate_caches
    install_stat_checked_zipimport()
    wrapped = zipimport.zipimporter.invalidate_caches
    install_stat_checked_zipimport()
    assert wrapped is not original
    assert zipimport.zipimporter.invalidate_caches is wrapped
    _write_zip(zip_on_path, ["m1", "m2"])
    importlib.invalidate_caches()
    assert len(reads) == 1

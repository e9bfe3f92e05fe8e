"""The stat-guarded zipimporter refresh (tzspark/_zipimport.py), no Spark.

Importing tzspark installs the guard (conftest imports tzspark.hostcal)."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

OLD_PYTHON = sys.version_info < (3, 13)


def _write_zip(path, modules: dict):
    """Write `modules` ({name: source}) to a new file, then move it over
    `path`, so a rewrite gets a new inode as well as new contents."""
    tmp = str(path) + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def zip_on_path(tmp_path):
    archive = str(tmp_path / "mods.zip")
    names = ["tzs_zip_a", "tzs_zip_b"]
    _write_zip(archive, {names[0]: "X = 1\n"})
    sys.path.insert(0, archive)
    yield archive, names
    sys.path.remove(archive)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    for n in names:
        sys.modules.pop(n, None)


def _count_reads(monkeypatch, archive):
    calls = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            calls.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.mark.skipif(not OLD_PYTHON, reason="CPython >= 3.13 refreshes lazily")
def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    archive, (mod_a, _) = zip_on_path
    assert importlib.import_module(mod_a).X == 1
    # the first refresh may read (this importer has no stat on record yet)
    importlib.invalidate_caches()
    calls = _count_reads(monkeypatch, archive)
    for _ in range(3):
        importlib.invalidate_caches()
    assert calls == []


@pytest.mark.skipif(not OLD_PYTHON, reason="CPython >= 3.13 refreshes lazily")
def test_rewritten_or_removed_archive_is_reread(zip_on_path, monkeypatch):
    archive, (mod_a, mod_b) = zip_on_path
    importlib.import_module(mod_a)
    importlib.invalidate_caches()
    _write_zip(archive, {mod_a: "X = 1\n", mod_b: "Y = 2\n"})
    with pytest.raises(ModuleNotFoundError):  # the importer's listing is stale
        importlib.import_module(mod_b)
    calls = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert len(calls) == 1
    assert importlib.import_module(mod_b).Y == 2
    os.remove(archive)
    importlib.invalidate_caches()  # stat fails: the stdlib read runs and fails
    assert len(calls) == 2
    assert archive not in zipimport._zip_directory_cache
    assert sys.path_importer_cache[archive]._files == {}


def test_guard_installed_only_before_313(monkeypatch):
    from tzspark import _zipimport

    method = zipimport.zipimporter.invalidate_caches
    if not OLD_PYTHON:
        assert method.__module__ == "zipimport"
        assert _zipimport.install_guarded_refresh() is False
        assert zipimport.zipimporter.invalidate_caches is method
        return
    assert method.__module__ == "tzspark._zipimport"
    assert _zipimport.install_guarded_refresh() is True  # idempotent
    assert zipimport.zipimporter.invalidate_caches is method
    # on 3.13+ the stdlib method is left as it is
    stdlib = method.__wrapped__
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    assert _zipimport.install_guarded_refresh() is False
    assert zipimport.zipimporter.invalidate_caches is stdlib

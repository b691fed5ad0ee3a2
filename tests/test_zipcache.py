"""Stat-keyed zipimport invalidation (latyas_spark/zipcache.py) against
the stock contract of ``importlib.invalidate_caches()``: an unchanged
archive is not re-parsed, a rewritten or deleted one is picked up."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from latyas_spark import zipcache

PKG_MODULES = {
    "zc_pkg/__init__.py": "",
    "zc_pkg/a.py": "VALUE = 'a'\n",
}


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)


def _forget(archive):
    for name in [m for m in sys.modules if m.split(".")[0] == "zc_pkg"]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


@pytest.fixture
def fresh_shim(monkeypatch):
    """A newly installed shim over the stock method, with no archive
    stamps yet; the session's own shim is restored afterwards."""
    current = zipimport.zipimporter.invalidate_caches
    stock = getattr(current, "__wrapped__", current)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    zipcache.install()
    return zipimport.zipimporter.invalidate_caches


@pytest.fixture
def archive(tmp_path, fresh_shim):
    """A zip holding package ``zc_pkg`` on sys.path, with ``zc_pkg.a``
    imported: two zipimporters (prefixes '' and 'zc_pkg/') over it."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, PKG_MODULES)
    sys.path.insert(0, path)
    try:
        importlib.import_module("zc_pkg.a")
        yield path
    finally:
        sys.path.remove(path)
        _forget(path)


@pytest.fixture
def read_calls(monkeypatch):
    calls = []
    stock_read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_read_once(archive, read_calls):
    importers = [v for k, v in sys.path_importer_cache.items()
                 if k.startswith(archive)]
    assert len(importers) == 2
    importlib.invalidate_caches()
    assert read_calls.count(archive) == 1  # first call: no stamp yet
    importlib.invalidate_caches()
    assert read_calls.count(archive) == 1
    cached = zipimport._zip_directory_cache[archive]
    assert all(imp._files is cached for imp in importers)


def test_rewritten_archive_is_picked_up(archive):
    importlib.invalidate_caches()
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("zc_pkg.b")
    _write_zip(archive, {**PKG_MODULES, "zc_pkg/b.py": "VALUE = 'b'\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert importlib.import_module("zc_pkg.b").VALUE == "b"


def test_deleted_archive_empties_importers(archive):
    importlib.invalidate_caches()
    importers = [v for k, v in sys.path_importer_cache.items()
                 if k.startswith(archive)]
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    assert all(imp._files == {} for imp in importers)


def test_install_is_idempotent(fresh_shim):
    zipcache.install()
    zipcache.install()
    shim = zipimport.zipimporter.invalidate_caches
    assert shim is fresh_shim
    assert not getattr(shim.__wrapped__, zipcache.MARKER, False)

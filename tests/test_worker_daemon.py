"""The worker daemon's stat-checked ``zipimporter.invalidate_caches``,
on archives built per test. Pure Python: no Spark session."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from distributed_map_reduce_spark import worker_daemon


@pytest.fixture
def restored(monkeypatch):
    """Put the stdlib method back after the test, whatever it installed."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )


@pytest.fixture
def patched(restored):
    if not worker_daemon.install():
        pytest.skip("CPython >= 3.13: the stdlib method only drops the cache")


@pytest.fixture
def on_path(monkeypatch):
    """Prepend a path entry; drop its importer and modules afterwards."""
    added, modules = [], set(sys.modules)

    def prepend(path):
        monkeypatch.syspath_prepend(str(path))
        added.append(str(path))

    yield prepend
    for path in added:
        sys.path_importer_cache.pop(path, None)
        zipimport._zip_directory_cache.pop(path, None)
    for name in set(sys.modules) - modules:
        del sys.modules[name]


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_install_is_version_gated(restored):
    assert worker_daemon.install() is (sys.version_info < (3, 13))


def test_unchanged_archive_keeps_its_directory(patched, on_path, tmp_path):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"wd_same_a": "X = 1\n"})
    on_path(archive)
    assert importlib.import_module("wd_same_a").X == 1
    importer = sys.path_importer_cache[str(archive)]
    importlib.invalidate_caches()  # first call reads and stamps
    files = importer._files
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert importer._files is files


def test_rewritten_archive_is_reread(patched, on_path, tmp_path):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"wd_new_a": "X = 1\n"})
    on_path(archive)
    importlib.import_module("wd_new_a")
    importer = sys.path_importer_cache[str(archive)]
    importlib.invalidate_caches()
    files = importer._files

    _write_zip(archive, {"wd_new_a": "X = 1\n", "wd_new_b": "Y = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert importer._files is not files
    assert importlib.import_module("wd_new_b").Y == 2


def test_deleted_archive_falls_back_to_stdlib(patched, on_path, tmp_path):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"wd_gone_a": "X = 1\n"})
    on_path(archive)
    importlib.import_module("wd_gone_a")
    importer = sys.path_importer_cache[str(archive)]
    importlib.invalidate_caches()
    st = os.stat(archive)

    archive.unlink()
    importlib.invalidate_caches()
    assert importer._files == {}
    assert str(archive) not in zipimport._zip_directory_cache

    # put back with the same size and mtime: read again, not trusted
    _write_zip(archive, {"wd_gone_a": "X = 1\n"})
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(archive).st_size == st.st_size
    importlib.invalidate_caches()
    assert "wd_gone_a.py" in importer._files


def test_directory_finders_are_still_invalidated(patched, on_path, tmp_path):
    """What ``addPyFile`` of a ``.py`` relies on: a file copied into a
    directory already on the path imports after the next invalidation."""
    on_path(tmp_path)
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("wd_late_mod")
    (tmp_path / "wd_late_mod.py").write_text("Z = 3\n")
    importlib.invalidate_caches()
    assert importlib.import_module("wd_late_mod").Z == 3

"""steady_import_caches: importlib.invalidate_caches() stops re-reading
unchanged zip archives, still re-reads a changed one, and leaves plain
directories on sys.path as they were. No Spark."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from redeye_spark.functions import worker


@pytest.fixture
def import_state(monkeypatch):
    """Restore sys.path, the path hooks, the importer cache and
    sys.modules after the test."""
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    # zip importers are left out of the copy: the helper changes the
    # class of those it finds, which must not reach the real cache
    cache = {
        k: v for k, v in sys.path_importer_cache.items() if not isinstance(v, zipimport.zipimporter)
    }
    monkeypatch.setattr(sys, "path_importer_cache", cache)
    monkeypatch.setattr(worker, "_read_at", {})
    before = set(sys.modules)
    yield
    for name in set(sys.modules) - before:
        del sys.modules[name]


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def _reads(monkeypatch):
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, import_state):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"steady_a": "X = 1\n"})
    sys.path.insert(0, archive)
    assert importlib.import_module("steady_a").X == 1
    assert type(sys.path_importer_cache[archive]) is zipimport.zipimporter

    calls = _reads(monkeypatch)
    importlib.invalidate_caches()
    assert calls == [archive]  # the plain importer re-reads every time

    worker.steady_import_caches()
    assert isinstance(sys.path_importer_cache[archive], worker.SteadyZipImporter)
    assert sys.modules["steady_a"].__loader__ is sys.path_importer_cache[archive]
    calls.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert calls == []


def test_changed_archive_is_reread(tmp_path, monkeypatch, import_state):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"steady_b": "X = 1\n"})
    sys.path.insert(0, archive)
    importlib.import_module("steady_b")
    worker.steady_import_caches()

    _write_zip(archive, {"steady_b": "X = 1\n", "steady_c": "Y = 2\n"})
    calls = _reads(monkeypatch)
    importlib.invalidate_caches()
    assert calls == [archive]
    assert importlib.import_module("steady_c").Y == 2
    calls.clear()
    importlib.invalidate_caches()
    assert calls == []


def test_second_call_is_a_noop(tmp_path, import_state):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"steady_d": "X = 1\n"})
    sys.path.insert(0, archive)
    importlib.import_module("steady_d")
    worker.steady_import_caches()
    hooks, cache = list(sys.path_hooks), dict(sys.path_importer_cache)
    assert worker.SteadyZipImporter in hooks
    assert zipimport.zipimporter not in hooks

    worker.steady_import_caches()
    assert sys.path_hooks == hooks
    assert sys.path_importer_cache == cache


def test_new_archive_on_the_path_is_read_once(tmp_path, monkeypatch, import_state):
    worker.steady_import_caches()
    archive = str(tmp_path / "later.zip")  # e.g. a --py-files zip of a later task
    _write_zip(archive, {"steady_e": "X = 5\n"})
    sys.path.insert(0, archive)
    calls = _reads(monkeypatch)
    importlib.invalidate_caches()
    assert importlib.import_module("steady_e").X == 5
    assert isinstance(sys.path_importer_cache[archive], worker.SteadyZipImporter)
    assert calls == [archive]
    importlib.invalidate_caches()
    assert calls == [archive]


def test_plain_directory_still_sees_new_files(tmp_path, import_state):
    sys.path.insert(0, str(tmp_path))
    with pytest.raises(ImportError):  # leaves a warm finder for tmp_path
        importlib.import_module("steady_f")
    worker.steady_import_caches()
    (tmp_path / "steady_f.py").write_text("X = 7\n")
    importlib.invalidate_caches()
    assert importlib.import_module("steady_f").X == 7

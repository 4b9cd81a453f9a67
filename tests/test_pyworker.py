"""The worker daemon's archive guard, without Spark."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from dataflow_spark.pyworker import (archive_guard_installed,
                                     install_archive_guard)


@pytest.fixture
def reads(monkeypatch):
    """Install the guard for one test; yield the archives read since."""
    monkeypatch.setattr(zipimport, "_read_directory",
                        zipimport._read_directory)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    install_archive_guard()
    assert archive_guard_installed()
    seen = []
    read = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield seen


def _write_zip(path, name, source):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", source)


def _fresh_import(monkeypatch, name):
    monkeypatch.delitem(sys.modules, name, raising=False)
    return importlib.import_module(name)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, reads):
    a = str(tmp_path / "a.zip")
    _write_zip(a, "guard_m", "VALUE = 1\n")
    monkeypatch.syspath_prepend(a)
    assert _fresh_import(monkeypatch, "guard_m").VALUE == 1
    assert reads == [a]  # a new archive is read on first use

    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == [a]

    _write_zip(a, "guard_m", "VALUE = 'rewritten'\n")  # new size
    importlib.invalidate_caches()
    assert reads == [a, a]
    assert _fresh_import(monkeypatch, "guard_m").VALUE == "rewritten"

    b = str(tmp_path / "b.zip")
    _write_zip(b, "guard_m2", "VALUE = 2\n")
    monkeypatch.syspath_prepend(b)
    assert _fresh_import(monkeypatch, "guard_m2").VALUE == 2
    assert reads == [a, a, b]
    importlib.invalidate_caches()
    assert reads == [a, a, b]


def test_directories_on_the_path_are_still_invalidated(tmp_path, monkeypatch,
                                                       reads):
    monkeypatch.syspath_prepend(str(tmp_path))
    with pytest.raises(ImportError):
        importlib.import_module("guard_plain")
    (tmp_path / "guard_plain.py").write_text("VALUE = 3\n")
    importlib.invalidate_caches()
    assert _fresh_import(monkeypatch, "guard_plain").VALUE == 3

"""The zipimport guard installed by the package import, without Spark:
``importlib.invalidate_caches()`` skips the directory re-read of an
unchanged zip on ``sys.path`` and still picks up a rewritten or deleted
one."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import cuda_selection_criteria_spark  # noqa: F401  (installs the guard)
from cuda_selection_criteria_spark.zipimport_guard import installed

MODULES = ("zg_first", "zg_other", "zg_second")


def _write_zip(path: str, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in members.items():
            zf.writestr(name, body)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    path = str(tmp_path / "guarded.zip")
    _write_zip(path, {"zg_first.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(path)
    assert importlib.import_module("zg_first").VALUE == 1
    # the importer read the directory when it was made; the guard has not
    # seen a read yet, so this first call re-reads and records the stat
    importlib.invalidate_caches()
    yield path
    for name in MODULES:
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


@pytest.fixture
def reads(monkeypatch):
    """Archives whose directory ``zipimport`` reads from now on."""
    calls: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_guard_installed_below_312():
    assert installed() == (sys.version_info < (3, 12))


def test_unchanged_zip_is_not_reread(zip_on_path, reads):
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert zip_on_path not in reads
    sys.modules.pop("zg_first")
    assert importlib.import_module("zg_first").VALUE == 1


@pytest.mark.parametrize("change", ["new_size", "new_mtime"])
def test_rewritten_zip_is_reread(zip_on_path, reads, change):
    before = os.stat(zip_on_path)
    if change == "new_size":
        _write_zip(zip_on_path, {"zg_first.py": "VALUE = 1\n", "zg_second.py": "VALUE = 2\n"})
        new, value = "zg_second", 2
    else:
        # same inode and byte count, only the mtime moves
        _write_zip(zip_on_path, {"zg_other.py": "VALUE = 3\n"})
        ns = before.st_mtime_ns + 2_000_000_000
        os.utime(zip_on_path, ns=(ns, ns))
        after = os.stat(zip_on_path)
        assert (after.st_ino, after.st_size) == (before.st_ino, before.st_size)
        new, value = "zg_other", 3
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 1
    assert importlib.import_module(new).VALUE == value


def test_deleted_zip_takes_the_original_path(zip_on_path, reads):
    os.remove(zip_on_path)
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 1
    assert zip_on_path not in zipimport._zip_directory_cache
    sys.modules.pop("zg_first")
    with pytest.raises(ImportError):
        importlib.import_module("zg_first")

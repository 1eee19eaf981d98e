"""The stamp-guarded ``zipimporter.invalidate_caches``: an unchanged archive is
not re-read, a rewritten one is, a removed one is dropped as the stock method
drops it, and Spark's Python workers run with the guard installed."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from trike_spark import zipimport_guard

pytestmark = pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"), reason="zipimport already reads lazily"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path):
    """Factory: write a zip of ``{module: source}``, put it first on
    ``sys.path`` and return ``(archive, importer)``; undone at teardown."""
    added: list[tuple[str, list[str]]] = []

    def make(name: str, modules: dict[str, str]):
        archive = str(tmp_path / f"{name}.zip")
        _write_zip(archive, modules)
        sys.path.insert(0, archive)
        added.append((archive, list(modules)))
        importlib.import_module(next(iter(modules)))
        return archive, sys.path_importer_cache[archive]

    yield make
    for archive, modules in added:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        zipimport_guard._STAMPS.pop(archive, None)
        for m in modules:
            sys.modules.pop(m, None)


@pytest.fixture
def read_calls(monkeypatch):
    """Archives passed to ``zipimport._read_directory`` from here on."""
    calls: list[str] = []
    stock = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_not_reread(zip_on_path, read_calls):
    archive, importer = zip_on_path("guard_a", {"guard_a_mod": "X = 1\n"})
    importlib.invalidate_caches()  # the first guarded call reads and stamps
    assert archive in read_calls
    read_calls.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in read_calls, read_calls
    assert importer._files is zipimport._zip_directory_cache[archive]
    assert "guard_a_mod.py" in importer._files


def test_rewritten_archive_is_reread(zip_on_path):
    archive, importer = zip_on_path("guard_b", {"guard_b_one": "X = 1\n"})
    importlib.invalidate_caches()
    before = os.stat(archive)
    _write_zip(archive, {"guard_b_one": "X = 1\n", "guard_b_two": "Y = 2\n"})
    # a later mtime as well as a new size, whatever the clock's resolution
    os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert importlib.import_module("guard_b_two").Y == 2
    assert importer._files is zipimport._zip_directory_cache[archive]


@pytest.mark.parametrize("method", ["stock", "guarded"])
def test_removed_archive_is_dropped_like_stock(zip_on_path, method):
    archive, importer = zip_on_path(f"guard_c_{method}", {f"guard_c_{method}_one": "X = 1\n"})
    invalidate = zipimport_guard._STOCK if method == "stock" else zipimport_guard._invalidate_caches
    invalidate(importer)
    os.remove(archive)
    invalidate(importer)
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache
    assert archive not in zipimport_guard._STAMPS
    # written again, the archive is read again
    _write_zip(archive, {f"guard_c_{method}_two": "Y = 2\n"})
    invalidate(importer)
    assert f"guard_c_{method}_two.py" in importer._files


def test_install_twice_changes_nothing(zip_on_path, read_calls):
    archive, _ = zip_on_path("guard_d", {"guard_d_mod": "X = 1\n"})
    importlib.invalidate_caches()
    stamps = dict(zipimport_guard._STAMPS)
    assert zipimport_guard.install() and zipimport_guard.install()
    assert zipimport.zipimporter.invalidate_caches is zipimport_guard._invalidate_caches
    assert zipimport_guard._STOCK is not zipimport_guard._invalidate_caches
    assert zipimport_guard._STAMPS == stamps
    read_calls.clear()
    importlib.invalidate_caches()
    assert archive not in read_calls


def test_lazy_zipimport_keeps_stock_method(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport_guard._STOCK)
    monkeypatch.setattr(zipimport.zipimporter, "_get_files", lambda self: {}, raising=False)
    assert zipimport_guard.install() is False
    assert zipimport.zipimporter.invalidate_caches is zipimport_guard._STOCK


def test_spark_worker_runs_guarded(spark):
    def report(batches):  # nested, so it is pickled by value
        import trike_spark.zipimport_guard as guard

        for _ in batches:
            pass
        installed = zipimport.zipimporter.invalidate_caches is guard._invalidate_caches
        yield pd.DataFrame({"pid": [os.getpid()], "guarded": [installed]})

    rows = (
        spark.range(0, 4, 1, numPartitions=4)
        .mapInPandas(report, schema="pid long, guarded boolean")
        .collect()
    )
    assert len(rows) == 4
    assert all(r.guarded for r in rows), rows
    assert os.getpid() not in {r.pid for r in rows}

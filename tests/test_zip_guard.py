"""The zipimporter guard (deepex_spark.zip_guard): an unchanged archive's
directory is read once, a rewritten one is re-read exactly as the stdlib
would, and every Python worker of a session runs with the guard installed."""

import importlib
import importlib.util
import sys
import zipfile
import zipimport

import pytest

from deepex_spark import zip_guard

guard_active = pytest.mark.skipif(
    not (3, 10) <= sys.version_info < (3, 12),
    reason="the guard is active on CPython 3.10 and 3.11 only",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def directory_reads(monkeypatch):
    """Archives whose central directory zipimport reads, in call order."""
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@guard_active
def test_guard_is_installed_by_the_package():
    assert zip_guard.installed()
    assert zip_guard.install()  # idempotent
    assert zip_guard.installed()


@guard_active
def test_unchanged_archive_is_read_once(tmp_path, directory_reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zg_once": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    directory_reads.clear()  # the constructor's own read
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert directory_reads == [archive]
    assert importer.find_spec("zg_once") is not None


@guard_active
def test_evicted_directory_is_read_again(tmp_path, directory_reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zg_evicted": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()
    directory_reads.clear()
    del zipimport._zip_directory_cache[archive]
    importer.invalidate_caches()
    assert directory_reads == [archive]
    assert archive in zipimport._zip_directory_cache


def test_rewritten_archive_exposes_the_added_module(tmp_path, monkeypatch, directory_reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zg_old": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("zg_old").X == 1
    importlib.invalidate_caches()
    assert importlib.util.find_spec("zg_new") is None

    _write_zip(archive, {"zg_old": "X = 1\n", "zg_new": "Y = 2\n"})
    directory_reads.clear()
    importlib.invalidate_caches()
    try:
        assert importlib.import_module("zg_new").Y == 2
    finally:
        sys.modules.pop("zg_old", None)
        sys.modules.pop("zg_new", None)
    assert directory_reads.count(archive) == 1


def test_removed_archive_drops_its_directory(tmp_path):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zg_gone": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    importer.invalidate_caches()
    archive.unlink()
    importer.invalidate_caches()
    assert str(archive) not in zipimport._zip_directory_cache
    assert importer.find_spec("zg_gone") is None


def test_every_python_worker_runs_guarded(spark):
    # nested, so it is pickled by value; its reference to zip_guard makes the
    # worker import deepex_spark, as unpickling any of the package's UDFs does
    def probe(batches):
        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame(
            {"major": [sys.version_info[0]], "minor": [sys.version_info[1]],
             "guarded": [zip_guard.installed()]}
        )

    rows = (
        spark.range(0, 160, numPartitions=16)
        .mapInPandas(probe, "major int, minor int, guarded boolean")
        .collect()
    )
    assert len(rows) == 16
    for r in rows:
        assert r.guarded == ((3, 10) <= (r.major, r.minor) < (3, 12))

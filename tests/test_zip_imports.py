"""ub_etl_spark._zip_imports: ``importlib.invalidate_caches()`` re-reads a
zip archive on ``sys.path`` only when the archive changed.  The unit tests
build their own archives and need no Spark; the last test checks that a
Python worker installs the replacement when it imports the package."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import ub_etl_spark
import ub_etl_spark._zip_imports


@pytest.fixture
def on_path(tmp_path):
    """Put entries on sys.path; drop them, their importers and the modules
    imported from them afterwards."""
    added = []
    before = set(sys.modules)

    def add(entry):
        sys.path.insert(0, str(entry))
        added.append(str(entry))
        return str(entry)

    yield add
    for entry in added:
        sys.path.remove(entry)
        for key in [k for k in sys.path_importer_cache if k.startswith(entry)]:
            del sys.path_importer_cache[key]
    for name in set(sys.modules) - before:
        if name.startswith("zipimp_"):
            del sys.modules[name]


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to zipimport._read_directory, in call order."""
    seen = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_unchanged_archive_is_not_reread(tmp_path, on_path, reads):
    path = tmp_path / "a.zip"
    _write_zip(path, {"zipimp_a": "X = 1\n"})
    archive = on_path(path)
    assert importlib.import_module("zipimp_a").X == 1
    importlib.invalidate_caches()  # an importer's first call always re-reads
    n = reads.count(archive)
    assert n >= 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == n


def test_archive_rewritten_in_place_is_reread(tmp_path, on_path, reads):
    path = tmp_path / "b.zip"
    _write_zip(path, {"zipimp_b1": "X = 1\n"})
    archive = on_path(path)
    importlib.import_module("zipimp_b1")
    importlib.invalidate_caches()
    n = reads.count(archive)
    _write_zip(path, {"zipimp_b1": "X = 1\n", "zipimp_b2": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == n + 1
    assert importlib.import_module("zipimp_b2").Y == 2


def test_plain_directory_is_still_invalidated(tmp_path, on_path):
    on_path(tmp_path)
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("zipimp_late")
    (tmp_path / "zipimp_late.py").write_text("Z = 3\n")
    importlib.invalidate_caches()
    assert importlib.import_module("zipimp_late").Z == 3


def test_replacement_does_not_stack(tmp_path, on_path, reads):
    importlib.reload(ub_etl_spark)
    importlib.reload(ub_etl_spark._zip_imports)
    installed = zipimport.zipimporter.invalidate_caches
    assert installed.__module__ == "ub_etl_spark._zip_imports"
    assert installed.__wrapped__.__module__ == "zipimport"
    assert not hasattr(installed.__wrapped__, "__wrapped__")
    path = tmp_path / "c.zip"
    _write_zip(path, {"zipimp_c": "X = 1\n"})
    archive = on_path(path)
    importlib.import_module("zipimp_c")
    n = reads.count(archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == n + 1  # one re-read, by the first call only


def test_python_worker_installs_replacement(spark):
    def installed(_):
        import zipimport

        import ub_etl_spark  # noqa: F401

        return zipimport.zipimporter.invalidate_caches.__module__

    # a nested function is pickled by value, so the worker imports the
    # package only through the function body
    got = spark.sparkContext.parallelize([0], 1).map(installed).collect()
    assert got == ["ub_etl_spark._zip_imports"]

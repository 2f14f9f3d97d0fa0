"""fqueue executor-side helpers that need no Spark session.

``_skip_unchanged_zip_rescans`` replaces ``zipimporter.invalidate_caches``
(which Spark's Python worker triggers at every task start) with a form
that re-parses an archive only when the file changed. These tests pin
that import semantics are unchanged: an unchanged archive is never
re-parsed, a rewritten one is re-parsed exactly once and its new module
imports, and a deleted one is handled as the original method handles it.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from labs_stream_processing_examples_scala_spark.sources import queue_source as Q

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ invalidates zip caches lazily; the helper is a no-op",
)

_MODULES = ("zq_top", "zq_pkg", "zq_pkg.first", "zq_pkg.second")


def _write_zip(archive: str, files: dict[str, str]) -> None:
    with zipfile.ZipFile(archive, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


@pytest.fixture
def zip_env(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding a top-level module and a package (so
    two importers cover one archive, as with pyspark.zip), with every
    ``zipimport._read_directory`` call on it recorded in ``parses``."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(
        archive,
        {"zq_top.py": "VALUE = 1\n", "zq_pkg/__init__.py": "", "zq_pkg/first.py": "VALUE = 1\n"},
    )
    # restored on teardown, whatever the helper installs
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    parses: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            parses.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("zq_top").VALUE == 1
    assert importlib.import_module("zq_pkg.first").VALUE == 1
    yield archive, parses
    for name in _MODULES:
        sys.modules.pop(name, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


def _importers(archive: str) -> list:
    return [
        v
        for k, v in sys.path_importer_cache.items()
        if k.startswith(archive) and isinstance(v, zipimport.zipimporter)
    ]


def test_unchanged_archive_is_not_reparsed(zip_env):
    archive, parses = zip_env
    assert len(_importers(archive)) == 2
    Q._skip_unchanged_zip_rescans()
    installed = zipimport.zipimporter.invalidate_caches
    Q._skip_unchanged_zip_rescans()  # idempotent: no second wrapper
    assert zipimport.zipimporter.invalidate_caches is installed

    parses.clear()
    importlib.invalidate_caches()  # priming: the archive's stamp is unknown
    assert len(parses) == 1, "both importers share one priming parse"
    parses.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert parses == []


def test_rewritten_archive_is_reparsed_once_and_new_module_imports(zip_env):
    archive, parses = zip_env
    Q._skip_unchanged_zip_rescans()
    importlib.invalidate_caches()
    parses.clear()

    _write_zip(
        archive,
        {
            "zq_top.py": "VALUE = 1\n",
            "zq_pkg/__init__.py": "",
            "zq_pkg/first.py": "VALUE = 1\n",
            "zq_pkg/second.py": "VALUE = 2\n",
        },
    )
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(parses) == 1
    # the package importer did not parse itself: it must still see the
    # new entry, adopted from the shared directory cache
    assert importlib.import_module("zq_pkg.second").VALUE == 2


def test_deleted_archive_behaves_as_original(zip_env):
    archive, _ = zip_env
    original = zipimport.zipimporter.invalidate_caches
    reference = zipimport.zipimporter(archive)
    Q._skip_unchanged_zip_rescans()
    importlib.invalidate_caches()

    os.remove(archive)
    importlib.invalidate_caches()
    patched_files = [imp._files for imp in _importers(archive)]
    patched_cached = archive in zipimport._zip_directory_cache

    zipimport._zip_directory_cache[archive] = reference._files
    original(reference)
    assert patched_files == [reference._files] * 2 == [{}, {}]
    assert patched_cached is (archive in zipimport._zip_directory_cache) is False

    # a recreated archive is parsed again, whatever its stamp
    _write_zip(archive, {"zq_top.py": "VALUE = 1\n", "zq_pkg/__init__.py": "", "zq_pkg/second.py": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zq_pkg.second").VALUE == 2

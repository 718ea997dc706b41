"""zipcache: a zip importer re-reads its archive only when it changed, and
the wrapper is live in Python workers only."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from scikg_spark import zipcache


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


@pytest.fixture
def zipped_path(tmp_path, monkeypatch):
    """A zip archive on ``sys.path`` whose importers use the wrapper, and a
    counter of ``_read_directory`` calls."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_mod_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipcache._invalidate_caches)
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or read_directory(path))
    yield archive, reads
    for name in ("zc_mod_a", "zc_mod_b"):
        sys.modules.pop(name, None)


def test_unchanged_archive_is_not_reread(zipped_path):
    archive, reads = zipped_path
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()  # first call: no stamp yet, reads
    assert reads[-1] == archive
    reads.clear()
    for _ in range(3):
        importer.invalidate_caches()
    assert reads == []


def test_rewritten_archive_serves_new_module(zipped_path):
    archive, reads = zipped_path
    assert importlib.import_module("zc_mod_a").VALUE == "a"
    importlib.invalidate_caches()
    before = reads.count(archive)
    importlib.invalidate_caches()
    assert reads.count(archive) == before
    _write_zip(archive, {"zc_mod_a": "VALUE = 'a'\n",
                         "zc_mod_b": "VALUE = 'b'\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == before + 1
    assert importlib.import_module("zc_mod_b").VALUE == "b"


def test_wrapper_lives_in_workers_only(spark):
    """A worker that imported scikg_spark runs the wrapped method (on the
    CPython versions that need it); the driver keeps the stdlib one."""

    def report(batches):
        import zipimport

        import pandas as pd

        import scikg_spark  # noqa: F401  (what a pipeline UDF imports)

        for _ in batches:
            pass
        yield pd.DataFrame({"module": [
            zipimport.zipimporter.invalidate_caches.__module__]})

    got = {r.module for r in spark.range(8, numPartitions=2)
           .mapInPandas(report, "module string").collect()}
    wrapped = (3, 10) <= sys.version_info[:2] <= (3, 12)
    assert got == {"scikg_spark.zipcache" if wrapped else "zipimport"}
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"

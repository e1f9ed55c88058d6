"""The package's zipimporter patch (``py_pdf_parser_spark._worker``),
without Spark: Spark's own archives keep their directory across
``invalidate_caches()``, every other archive is still re-read."""

import importlib
import os
import zipfile
import zipimport

from py_pdf_parser_spark import _worker


def _zip(path, *names):
    with zipfile.ZipFile(path, "w") as zf:
        for name in names:
            zf.writestr(name, "")
    return str(path)


def test_other_archives_are_still_refreshed(tmp_path):
    path = _zip(tmp_path / "deps.zip", "a.py")
    importer = zipimport.zipimporter(path)
    _zip(path, "a.py", "b.py")
    importer.invalidate_caches()
    assert "b.py" in zipimport._zip_directory_cache[path]
    assert importer.find_spec("b") is not None


def test_spark_archives_keep_their_directory(tmp_path, monkeypatch):
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    monkeypatch.setattr(_worker, "_SPARK_DIRS", {os.path.realpath(lib)})
    path = _zip(lib / "pyspark.zip", "a.py")
    importer = zipimport.zipimporter(path)
    directory = zipimport._zip_directory_cache[path]
    importer.invalidate_caches()
    assert zipimport._zip_directory_cache[path] is directory


def test_import_twice_wraps_once():
    installed = zipimport.zipimporter.invalidate_caches
    assert installed.skips_spark_archives
    importlib.reload(_worker)
    assert zipimport.zipimporter.invalidate_caches is installed

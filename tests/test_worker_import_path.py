"""Worker import-path pruning (sketchlib/_worker.py): archives holding no
Python leave a PySpark worker's ``sys.path`` and the zipimporter cache is
emptied, so PySpark's per-task ``importlib.invalidate_caches()`` stops
re-parsing them; outside a worker nothing changes."""

import importlib
import importlib.machinery
import sys
import types
import zipfile
import zipimport

import pytest

from sketchlib._worker import prune_worker_import_path

PROBE_MODULE = "sketchlib_zipped_probe_mod"


def _zips(tmp_path):
    classes = tmp_path / "classes-only.jar"
    with zipfile.ZipFile(classes, "w") as zf:
        zf.writestr("META-INF/MANIFEST.MF", "Manifest-Version: 1.0\n")
        zf.writestr("org/example/Main.class", b"\xca\xfe\xba\xbe")
        zf.writestr("org/example/notes.txt", "not python\n")
    mods = tmp_path / "mods.zip"
    with zipfile.ZipFile(mods, "w") as zf:
        zf.writestr(f"{PROBE_MODULE}.py", "VALUE = 7\n")
    return str(classes), str(mods)


@pytest.fixture
def zipped_path(tmp_path, monkeypatch):
    """Both archives on a private copy of sys.path and of the importer
    cache, which an import miss has filled with their zipimporters."""
    classes, mods = _zips(tmp_path)
    monkeypatch.setattr(sys, "path", [classes, mods] + sys.path)
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    with pytest.raises(ImportError):
        importlib.import_module("sketchlib_no_such_module_anywhere")
    for archive in (classes, mods):
        assert isinstance(sys.path_importer_cache[archive],
                          zipimport.zipimporter)
    yield classes, mods
    sys.modules.pop(PROBE_MODULE, None)


@pytest.mark.parametrize("launch", ["daemon", "main"])
def test_prune_in_worker(zipped_path, monkeypatch, launch):
    """The daemon imports ``pyspark.worker``; a non-daemon worker runs it
    as ``__main__``."""
    classes, mods = zipped_path
    if launch == "daemon":
        monkeypatch.setitem(sys.modules, "pyspark.worker",
                            types.ModuleType("pyspark.worker"))
    else:
        main = types.ModuleType("__main__")
        main.__spec__ = importlib.machinery.ModuleSpec("pyspark.worker", None)
        monkeypatch.delitem(sys.modules, "pyspark.worker", raising=False)
        monkeypatch.setitem(sys.modules, "__main__", main)
    assert prune_worker_import_path() == [classes]
    assert classes not in sys.path and mods in sys.path
    assert not any(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
    assert importlib.import_module(PROBE_MODULE).VALUE == 7


def test_prune_is_noop_outside_worker(zipped_path, monkeypatch):
    monkeypatch.delitem(sys.modules, "pyspark.worker", raising=False)
    path, cache = list(sys.path), dict(sys.path_importer_cache)
    assert prune_worker_import_path() == []
    assert sys.path == path
    assert sys.path_importer_cache == cache


def test_spark_worker_path_has_no_class_only_archive(spark):
    """The JVM puts the spark-core jar on every worker's sys.path; once a
    task has imported sketchlib, the worker's later tasks run without it."""

    def probe(batches):
        import os
        import sys

        import pandas as pd

        import sketchlib  # noqa: F401
        from sketchlib._worker import _archive_without_python

        launched = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                    if _archive_without_python(p)]
        left = [p for p in sys.path if _archive_without_python(p)]
        for _ in batches:
            yield pd.DataFrame({"launched": [len(launched)],
                                "left": [len(left)]})

    df = spark.range(0, 8, numPartitions=4)
    df.mapInPandas(probe, "launched long, left long").collect()  # warm-up
    rows = df.mapInPandas(probe, "launched long, left long").collect()
    assert len(rows) == 4
    assert all(r["launched"] >= 1 for r in rows)  # the jar was there
    assert all(r["left"] == 0 for r in rows)

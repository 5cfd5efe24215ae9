"""Import-path hygiene for PySpark Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task.  On CPython 3.11 that makes every ``zipimport.zipimporter`` in
``sys.path_importer_cache`` re-read its archive's whole central directory
in pure Python.  The JVM puts three archives on the worker's ``sys.path``:
``pyspark.zip``, the py4j zip and the ``spark-core`` jar, which holds 5k+
members and no Python at all.  The cache keeps one zipimporter per archive
and one per package sub-path (``pyspark.zip/pyspark/sql``, ``…jar/org``):
16 of them in a worker that has run a pandas UDF, so every task spent
0.17-0.32 s re-parsing archives (PySpark 4.1.2, ``local[4]`` on 4 vCPUs),
more than most partial builds take.

``prune_worker_import_path`` runs once, when ``sketchlib`` is first
imported in a worker.  Workers are reused across tasks by default, so
every later task on that worker invalidates a near-empty cache.  The
importer cache is only a cache: ``PathFinder`` rebuilds an entry the next
time an import needs it, and modules already loaded keep their loader.
"""

from __future__ import annotations

import os
import sys
import zipfile
import zipimport


def _in_pyspark_worker() -> bool:
    """True inside a PySpark Python worker; never imports pyspark.  The
    daemon imports ``pyspark.worker``; a non-daemon worker runs it as
    ``__main__``."""
    main_spec = getattr(sys.modules.get("__main__"), "__spec__", None)
    return ("pyspark.worker" in sys.modules
            or getattr(main_spec, "name", None) == "pyspark.worker")


def _archive_without_python(path: str) -> bool:
    """True if ``path`` is a zip archive (a jar counts) with no member
    zipimport could load, i.e. no ``.py`` or ``.pyc`` file."""
    if not os.path.isfile(path):
        return False
    try:
        with zipfile.ZipFile(path) as zf:
            names = zf.namelist()
    except (OSError, zipfile.BadZipFile):
        return False
    return not any(n.endswith((".py", ".pyc")) for n in names)


def prune_worker_import_path() -> list[str]:
    """Inside a PySpark worker, drop the archives that hold no Python from
    ``sys.path`` and delete every cached zipimporter from
    ``sys.path_importer_cache``.  Returns the removed ``sys.path`` entries;
    outside a worker it changes nothing and returns ``[]``."""
    if not _in_pyspark_worker():
        return []
    removed = [p for p in sys.path if _archive_without_python(p)]
    sys.path[:] = [p for p in sys.path if p not in removed]
    for key, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[key]
    return removed

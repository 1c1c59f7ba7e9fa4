"""Python-worker import hygiene, run once per worker process.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark/worker_util.py``, ``setup_spark_files``).  On Python 3.10-3.12
that re-reads the whole central directory of every archive that has a
``zipimport.zipimporter`` in ``sys.path_importer_cache`` (3.13 made it
lazy).  A worker importing pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``
caches one importer per imported pyspark subpackage (12-14 on a warm
mapInPandas worker, 1,328 entries each), and PySpark's worker path also
holds the spark-core jar (5,359 entries, no Python in it): 16 importers,
a median of 55-69 ms per task on a 4-CPU box, against 2 importers and
~3.5 ms once tidied.

``tidy_worker_imports`` changes no import's resolution: an importer
dropped from the cache is rebuilt on demand from
``zipimport._zip_directory_cache``, and an archive without a ``.py``/``.pyc``
member can never satisfy an import.  Archives under the SparkFiles root
(``--py-files``, ``addPyFile``) are left alone: refreshing those is what
the per-task invalidate exists for.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _has_python(archive: str) -> bool:
    names = zipimport._zip_directory_cache.get(archive)
    if names is None:
        import zipfile

        try:
            with zipfile.ZipFile(archive) as zf:
                names = zf.namelist()
        except (OSError, zipfile.BadZipFile):
            return True  # not a readable archive: leave it as it is
    return any(n.endswith((".py", ".pyc")) for n in names)


def tidy_worker_imports() -> None:
    """Inside a Python worker: drop cached zipimporters and take
    Python-free archives off ``sys.path``.  A no-op anywhere else (the
    driver, Spark-free imports)."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkFiles, TaskContext

    if TaskContext.get() is None:
        return
    user_root = os.path.join(SparkFiles.getRootDirectory(), "")
    for key, finder in list(sys.path_importer_cache.items()):
        if (isinstance(finder, zipimport.zipimporter)
                and not finder.archive.startswith(user_root)):
            del sys.path_importer_cache[key]
    sys.path[:] = [p for p in sys.path
                   if p.startswith(user_root) or not os.path.isfile(p)
                   or _has_python(p)]

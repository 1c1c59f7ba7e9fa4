"""Python-worker import hygiene (worker_imports.tidy_worker_imports).

1. Spark-free: on a temporary ``sys.path`` holding a Python-free zip, a zip
   with modules and a zip under a fake SparkFiles root, the call (with a
   task context set) drops the cached zipimporters outside the SparkFiles
   root and the Python-free zip; imports still resolve.  On the driver (no
   task context) it changes nothing.
2. Spark: a worker that imported the library holds each archive in at most
   one zipimporter and has no Python-free archive on its path, even after
   a new top-level import walked ``sys.path`` again.
"""

import importlib
import json
import sys
import uuid
import zipfile
import zipimport

import pytest


def _zip(path, members):
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)
    return str(path)


@pytest.fixture
def zip_archives(tmp_path, monkeypatch):
    tag = uuid.uuid4().hex[:8]
    mods = {k: f"wi_{k}_{tag}" for k in ("lib", "lib2", "user")}
    user_root = tmp_path / "userFiles"
    paths = {
        "jar": _zip(tmp_path / "core.jar",
                    {"META-INF/MANIFEST.MF": "Manifest-Version: 1.0\n",
                     "org/x/A.class": "\0"}),
        "lib": _zip(tmp_path / "lib.zip",
                    {f"{mods['lib']}.py": "X = 1\n",
                     f"{mods['lib2']}.py": "Y = 2\n"}),
        "user": _zip(user_root / "deps.zip", {f"{mods['user']}.py": "Z = 3\n"}),
    }
    monkeypatch.setattr(sys, "path",
                        [paths["jar"], paths["lib"], paths["user"]] + sys.path)
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    importlib.import_module(mods["lib"])
    importlib.import_module(mods["user"])
    yield paths, mods, str(user_root)
    for m in mods.values():
        sys.modules.pop(m, None)


def _zip_importers():
    return {k: f.archive for k, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)}


def test_tidy_in_worker_keeps_python_and_user_archives(zip_archives, monkeypatch):
    from pyspark import SparkFiles, TaskContext

    from streaming_algorithms_spark.worker_imports import tidy_worker_imports

    paths, mods, user_root = zip_archives
    assert set(_zip_importers().values()) >= set(paths.values())
    monkeypatch.setattr(TaskContext, "_taskContext", object())
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(SparkFiles, "_root_directory", user_root)

    tidy_worker_imports()

    assert paths["jar"] not in sys.path
    assert paths["lib"] in sys.path and paths["user"] in sys.path
    assert set(_zip_importers().values()) == {paths["user"]}
    # the dropped importer is rebuilt on demand: a new module still imports
    assert importlib.import_module(mods["lib2"]).Y == 2
    assert set(_zip_importers().values()) == {paths["lib"], paths["user"]}


def test_tidy_on_driver_is_a_no_op(zip_archives):
    from pyspark import TaskContext

    from streaming_algorithms_spark.worker_imports import tidy_worker_imports

    assert TaskContext.get() is None
    path_before = list(sys.path)
    cache_before = dict(sys.path_importer_cache)
    tidy_worker_imports()
    assert sys.path == path_before
    assert sys.path_importer_cache == cache_before


def test_worker_holds_each_archive_once_and_no_python_free_archive(spark):
    def probe(batches):
        import os
        import sys
        import zipfile
        import zipimport

        import pandas as pd

        import streaming_algorithms_spark  # noqa: F401

        fresh = "colorsys" not in sys.modules
        import colorsys  # noqa: F401  -- walks sys.path past the archives

        def python_free(p):
            with zipfile.ZipFile(p) as zf:
                return not any(n.endswith((".py", ".pyc"))
                               for n in zf.namelist())

        held = [f.archive for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)]
        free = [p for p in sys.path
                if os.path.isfile(p) and zipfile.is_zipfile(p)
                and python_free(p)]
        for _ in batches:
            pass
        yield pd.DataFrame({"out": [json.dumps(
            {"held": held, "free": free, "fresh": fresh})]})

    sc = spark.sparkContext
    # a job-local environment variable gets its own Python worker daemon,
    # so the probe runs in a worker no earlier test has imported into
    key = f"SAS_WORKER_IMPORTS_PROBE_{uuid.uuid4().hex[:8]}"
    sc.environment[key] = "1"
    try:
        rows = (spark.range(1, numPartitions=1)
                .mapInPandas(probe, "out string").collect())
    finally:
        del sc.environment[key]
    got = json.loads(rows[0]["out"])
    assert got["fresh"]
    assert len(got["held"]) == len(set(got["held"])), got["held"]
    assert got["free"] == [], got["free"]

"""The import-time zipimport patch (operators/pyworker.py).

Importing the engine replaces ``zipimport.zipimporter.invalidate_caches``
so pyspark.worker's per-task ``importlib.invalidate_caches()`` stops
re-reading immutable Spark-runtime archives (measured 112-159 ms per
Python task). These tests pin what the patch does to imports: a module
added to a runtime archive after its first read stays invisible, while
user archives and directories still pick new files up. The Spark case
pins that every Python worker of a ``get_spark`` session runs patched,
even one whose function references no engine code.
"""

from __future__ import annotations

import importlib
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest

from ab_inbev_big_data_case_spark.operators import pyworker


def _module_names():
    tag = uuid.uuid4().hex
    return f"pw_first_{tag}", f"pw_second_{tag}"


@pytest.mark.parametrize(
    "archive_name, sees_new_module",
    [
        ("pyspark.zip", False),
        ("py4j-0.10.9.9-src.zip", False),
        ("jars/spark-core_2.13-4.1.2.jar", False),
        ("deps.zip", True),
        ("userjars/tools.jar", True),
    ],
)
def test_archive_invalidation(tmp_path, archive_name, sees_new_module):
    """Spark-runtime archives keep their directory across invalidation; an
    archive shipped with ``addPyFile`` may be replaced in place, so it is
    re-read like any other."""
    archive = tmp_path / archive_name
    archive.parent.mkdir(parents=True, exist_ok=True)
    first, second = _module_names()
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{first}.py", "VALUE = 1\n")
    sys.path.insert(0, str(archive))
    try:
        assert importlib.import_module(first).VALUE == 1
        with zipfile.ZipFile(archive, "a") as z:
            z.writestr(f"{second}.py", "VALUE = 2\n")
        importlib.invalidate_caches()
        if sees_new_module:
            assert importlib.import_module(second).VALUE == 2
        else:
            with pytest.raises(ModuleNotFoundError):
                importlib.import_module(second)
    finally:
        sys.path.remove(str(archive))
        sys.path_importer_cache.pop(str(archive), None)
        for name in (first, second):
            sys.modules.pop(name, None)


def test_directory_finder_sees_new_file(tmp_path):
    """``addPyFile`` lands files in the Spark files directory; reused
    workers must keep seeing new ones."""
    first, second = _module_names()
    (tmp_path / f"{first}.py").write_text("VALUE = 1\n")
    sys.path.insert(0, str(tmp_path))
    try:
        assert importlib.import_module(first).VALUE == 1
        (tmp_path / f"{second}.py").write_text("VALUE = 2\n")
        importlib.invalidate_caches()
        assert importlib.import_module(second).VALUE == 2
    finally:
        sys.path.remove(str(tmp_path))
        sys.path_importer_cache.pop(str(tmp_path), None)
        for name in (first, second):
            sys.modules.pop(name, None)


def test_reimport_wraps_once():
    patched = zipimport.zipimporter.invalidate_caches
    assert patched.__module__ == pyworker.__name__
    importlib.reload(pyworker)
    assert zipimport.zipimporter.invalidate_caches is patched


def test_every_python_worker_is_patched(spark):
    """A function pickled by value imports no engine module in the worker,
    so only the daemon the worker forked from can have patched it."""

    def report(batches):
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "invalidate_module": [zipimport.zipimporter.invalidate_caches.__module__],
                "daemon": [sys.modules["__main__"].__spec__.name],
            }
        )

    n = spark.sparkContext.defaultParallelism
    rows = (
        spark.range(0, n, numPartitions=n)
        .mapInPandas(report, "invalidate_module string, daemon string")
        .collect()
    )
    assert len(rows) == n
    assert {tuple(r) for r in rows} == {
        (pyworker.__name__, "ab_inbev_big_data_case_spark.__main__")
    }

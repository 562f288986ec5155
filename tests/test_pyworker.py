"""tame_zipimport_caches: the per-task zipimport invalidation no-op (r16).

The optimization patches live zipimporter INSTANCES in
sys.path_importer_cache so pyspark.worker's per-task
``importlib.invalidate_caches()`` stops re-reading immutable archive
directories (measured 112-159 ms per Python task — see
operators/pyworker.py). These tests pin the mechanism without a Spark
session: instance-level patch, idempotence, directory finders and
user-shipped zips untouched, and imports from a patched archive still
working. Archives are named like the Spark-runtime ones (``pyspark.zip``,
``py4j-*.zip``, ``jars/*.jar``), the only ones the patch touches.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from ab_inbev_big_data_case_spark.operators.pyworker import (
    _noop_invalidate,
    tame_zipimport_caches,
)


def _make_zip(tmp_path, name="pyspark.zip"):
    zpath = os.path.join(str(tmp_path), name)
    os.makedirs(os.path.dirname(zpath), exist_ok=True)
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("tz_probe_mod.py", "VALUE = 41\n")
    return zpath


def test_patches_zipimporter_instances(tmp_path):
    zpath = _make_zip(tmp_path)
    finder = zipimport.zipimporter(zpath)
    sys.path_importer_cache[zpath] = finder
    try:
        assert finder.invalidate_caches is not _noop_invalidate
        tame_zipimport_caches()
        assert finder.invalidate_caches is _noop_invalidate
        # importlib.invalidate_caches() now skips the archive re-read and
        # must not raise
        importlib.invalidate_caches()
    finally:
        del sys.path_importer_cache[zpath]


def test_idempotent_and_import_still_works(tmp_path):
    zpath = _make_zip(tmp_path, "py4j-0.10.9.9-src.zip")
    sys.path.insert(0, zpath)
    try:
        import tz_probe_mod  # noqa: F401 — resolves via the zip finder

        assert tz_probe_mod.VALUE == 41
        tame_zipimport_caches()
        tame_zipimport_caches()  # second call is a cheap no-op walk
        finder = sys.path_importer_cache.get(zpath)
        assert finder is not None
        assert finder.invalidate_caches is _noop_invalidate
        # the patched finder still serves imports
        importlib.reload(tz_probe_mod)
        assert tz_probe_mod.VALUE == 41
    finally:
        sys.path.remove(zpath)
        sys.modules.pop("tz_probe_mod", None)
        sys.path_importer_cache.pop(zpath, None)


def test_directory_finders_untouched(tmp_path):
    d = str(tmp_path)
    importlib.invalidate_caches()
    finder = importlib.machinery.FileFinder(d)
    sys.path_importer_cache[d] = finder
    try:
        before = finder.invalidate_caches
        tame_zipimport_caches()
        # FileFinder (directory) invalidation must stay intact: addPyFile
        # lands new files in the Spark files DIRECTORY, which must remain
        # visible to reused workers
        assert sys.path_importer_cache[d].invalidate_caches == before
    finally:
        del sys.path_importer_cache[d]


def test_user_shipped_zips_still_invalidate(tmp_path):
    """Only Spark-runtime archives are patched. A zip shipped
    with ``addPyFile`` may be replaced in place, so its finder keeps its
    own invalidation; a jar under ``jars/`` is runtime and is patched."""
    user = _make_zip(tmp_path, "deps.zip")
    shipped_jar = _make_zip(tmp_path, "userjars/tools.jar")
    runtime_jar = _make_zip(tmp_path, "jars/spark-core_2.13-4.1.2.jar")
    finders = {p: zipimport.zipimporter(p) for p in (user, shipped_jar, runtime_jar)}
    sys.path_importer_cache.update(finders)
    try:
        tame_zipimport_caches()
        assert finders[user].invalidate_caches is not _noop_invalidate
        assert finders[shipped_jar].invalidate_caches is not _noop_invalidate
        assert finders[runtime_jar].invalidate_caches is _noop_invalidate
    finally:
        for p in finders:
            del sys.path_importer_cache[p]

"""Python-worker-side fixed-cost taming for Arrow-batched operators.

Guide §4: every JVM↔Python stage pays a per-task protocol cost before user
code runs. Measured here (Spark 4.1, reused daemon workers, instrumented
``pyspark.worker.main``): **112–159 ms of every Python task** goes to
``importlib.invalidate_caches()`` inside ``setup_spark_files`` — CPython's
pure-Python ``zipimport.zipimporter.invalidate_caches`` re-reads the whole
zip central directory on every call, and the worker's
``sys.path_importer_cache`` holds zipimporters for the 130 MB
``spark-core`` jar (~79 ms) plus ~10 ``pyspark.zip`` sub-prefix entries
(~6 ms each). The archives are immutable for the life of the application,
so the re-read is pure waste; per-finder timing confirmed the total
(113.7 ms) is fully accounted for by the zip finders.

:func:`tame_zipimport_caches` replaces ``invalidate_caches`` on each
*zipimporter instance* of a Spark-runtime archive (``pyspark.zip``,
``py4j-*.zip`` and the jars under a ``jars/`` directory) with a no-op.
Directory (``FileFinder``) entries and every other archive are untouched,
so files and zips shipped with ``addPyFile`` (replaced in place or not)
stay visible to reused workers. Worker processes are reused across tasks
(``spark.python.worker.reuse`` default), so one call from any task patches
that worker for the rest of the application: the measured per-task cost
drops from ~180 ms to ~65 ms for a trivial 1-task mapInPandas round trip.

Call it at the top of every worker-side function (mapInPandas /
mapInArrow / applyInPandas bodies). It is idempotent and costs
microseconds once patched. On the driver it is a harmless no-op-ish patch
of the same kind (the driver never runs ``setup_spark_files``).
"""

from __future__ import annotations

import re
import sys
import zipimport

#: archives Spark itself puts on the worker path; immutable while it runs
_SPARK_ARCHIVE = re.compile(r"(^|/)(pyspark\.zip|py4j-[^/]*\.zip|jars/[^/]*\.jar)$")


def _noop_invalidate() -> None:
    return None


def tame_zipimport_caches() -> None:
    """Once per process: make Spark-runtime archive finders' cache
    invalidation a no-op (those archives never change mid-application; the
    per-task re-read of their central directories is the dominant fixed
    cost of every Python stage — see module docstring)."""
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter) and _SPARK_ARCHIVE.search(
            finder.archive
        ):
            try:
                finder.invalidate_caches = _noop_invalidate
            except Exception:  # noqa: BLE001 — frozen/C variants: skip
                pass

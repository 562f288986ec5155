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

Importing this module replaces the class method
``zipimport.zipimporter.invalidate_caches`` with one that skips the re-read
for Spark-runtime archives (``pyspark.zip``, ``py4j-*.zip`` and the jars
under a ``jars/`` directory). Directory (``FileFinder``) entries and every
other archive still invalidate, so files and zips shipped with
``addPyFile`` (replaced in place or not) stay visible to reused workers.
A class patch also covers zipimporters created after the import. The
measured per-task cost drops from ~180 ms to ~65 ms for a trivial 1-task
mapInPandas round trip.

Worker functions carry no setup code: the package ``__init__`` imports
this module, and ``session.get_spark`` sets ``spark.python.daemon.module``
to the package, whose ``__main__`` runs PySpark's daemon. Every Python
worker of such a session forks from an already patched daemon. Importing
the module again (or reloading it) wraps the method once.
"""

from __future__ import annotations

import re
import zipimport

#: archives Spark itself puts on the worker path; immutable while it runs
_SPARK_ARCHIVE = re.compile(r"(^|/)(pyspark\.zip|py4j-[^/]*\.zip|jars/[^/]*\.jar)$")


def _skip_spark_archives() -> None:
    invalidate = zipimport.zipimporter.invalidate_caches
    if invalidate.__module__ == __name__:  # already wrapped
        return

    def invalidate_caches(self):
        if not _SPARK_ARCHIVE.search(self.archive):
            invalidate(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_skip_spark_archives()

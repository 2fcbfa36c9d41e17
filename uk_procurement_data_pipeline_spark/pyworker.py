"""Python-worker daemon: PySpark's own daemon, minus one per-task re-read.

``session.get_spark`` names this module as ``spark.python.daemon.module``, so
the JVM starts it with ``python -m`` in place of ``pyspark.daemon``. It runs
``pyspark.daemon.manager`` unchanged, with one difference in the workers that
manager forks: ``importlib.invalidate_caches()`` leaves zip importers alone.

Each task's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and on CPython 3.11 every cached
``zipimport.zipimporter`` then re-reads its archive's directory: about 16
re-reads of ``pyspark.zip`` a task (the cost is in ``session``'s docstring).
Skipping them is safe: Spark's zips do not change while a session runs, and a
zip put on ``sys.path`` later (``addPyFile``) has no cached importer yet, so
it is read fresh on first import. Every other finder still invalidates.
"""

from __future__ import annotations

import importlib
import sys
import zipimport

_invalidate_caches = importlib.invalidate_caches


def invalidate_caches_keeping_zips() -> None:
    """``importlib.invalidate_caches()`` with the zip importers of
    ``sys.path_importer_cache`` hidden for the call, then put back."""
    cache = sys.path_importer_cache
    zips = {k: v for k, v in cache.items() if isinstance(v, zipimport.zipimporter)}
    for k in zips:
        del cache[k]
    try:
        _invalidate_caches()
    finally:
        cache.update(zips)


if __name__ == "__main__":
    from pyspark import daemon

    importlib.invalidate_caches = invalidate_caches_keeping_zips
    daemon.manager()

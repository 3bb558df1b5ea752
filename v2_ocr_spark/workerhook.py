"""The package's one import-time side effect: lighten a Spark Python worker.

Before every task, Spark's Python worker calls
``importlib.invalidate_caches()`` (``setup_spark_files`` in
``pyspark/worker_util.py``). On Python 3.11 every ``zipimporter`` in
``sys.path_importer_cache`` answers that by re-reading the whole
central directory of its archive: the spark-core jar (5k entries),
``pyspark.zip`` (1.3k entries, one finder per imported package) and
the py4j zip -- 16 finders and ~0.2-0.27 CPU-s per task, whatever the
task does. After every task the daemon also runs a full ``gc.collect()``
over the ~74k objects the imports left behind (~40-50 ms).

``lighten_worker`` runs once per worker process, when the package is
first imported there (the worker is unpickling its first UDF that
refers to it). It

1. drops every ``zipimporter`` from ``sys.path_importer_cache``.
   Imported modules keep their loaders, and a later import rebuilds its
   finder from ``zipimport._zip_directory_cache`` without reading the
   archive. Such imports happen (a first import of any module walks
   ``sys.path`` past the zip entries), so the same eviction also runs
   at the start of every later task: a meta-path entry that finds
   nothing is put ahead of ``PathFinder``, and the task's own
   ``importlib.invalidate_caches()`` calls it first. The invalidation
   then reaches no zip archive;
2. freezes the import-time heap (``gc.freeze()``), so the per-task
   collection skips it.

In the driver (no task context) and in any process that has not
imported pyspark it does nothing, and it never imports pyspark itself.
"""

from __future__ import annotations

import gc
import sys
import zipimport


def evict_zip_finders() -> None:
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]


class _EvictOnInvalidate:
    """Meta-path entry: finds no module; evicts the zip finders when
    ``importlib.invalidate_caches()`` walks ``sys.meta_path``."""

    @staticmethod
    def find_spec(fullname, path=None, target=None):
        return None

    invalidate_caches = staticmethod(evict_zip_finders)


def lighten_worker() -> bool:
    """Evict the zip finders now and on every later invalidation, and
    freeze the heap -- in a Python worker only. Returns whether it did."""
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is None or taskcontext.TaskContext.get() is None:
        return False  # no pyspark, or the driver: no task is running
    evict_zip_finders()
    if _EvictOnInvalidate not in sys.meta_path:
        sys.meta_path.insert(0, _EvictOnInvalidate)
    gc.freeze()
    return True

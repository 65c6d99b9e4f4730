"""Per-task import cost of reused Python workers.

Spark's worker calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark.worker_util.setup_spark_files``). On Python 3.11 every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` answers that by
re-reading its archive's whole central directory. A reused worker holds one
such finder per package prefix of ``pyspark.zip`` and the py4j zip, plus two
for the spark-core jar the JVM puts on the worker path (it holds no ``.py``
file): ~170 ms per task before the UDF runs, whatever its row count.
"""

from __future__ import annotations

import sys
import zipimport


def drop_archive_finders() -> None:
    """Remove every zip-archive finder from ``sys.path_importer_cache`` and
    every ``.jar`` from ``sys.path``, so the next task's cache invalidation
    only touches directory finders.

    Loaded modules stay loaded, and a later import rebuilds a zip finder
    from zipimport's directory cache without re-reading the archive.
    Call it first in every Python function handed to Spark."""
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        cache.pop(path, None)
    sys.path[:] = [p for p in sys.path if not p.endswith(".jar")]

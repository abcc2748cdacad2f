"""Python-worker hygiene shared by every ``mapInPandas`` kernel.

Kept apart from the kernels themselves so a kernel module can import it
without loading the HTML/PDF extraction code.
"""

from __future__ import annotations

import sys
import zipimport


def drop_zip_finders() -> None:
    """Drop the zipimport finders from ``sys.path_importer_cache``.

    Spark's Python worker calls ``importlib.invalidate_caches()`` at the
    start of every task, and on CPython < 3.13 each cached
    ``zipimporter`` then eagerly re-reads its archive's directory: one
    finder per imported package of pyspark.zip, ~16 re-reads of its
    1,328 entries per task.  A dropped finder is rebuilt on demand from
    zipimport's own directory cache, without a re-read.  Python 3.13
    made the invalidation lazy; this helper can go once that is the
    floor.  Call it once a kernel task has drained its input.
    """
    cache = sys.path_importer_cache
    for path in [
        p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)
    ]:
        del cache[path]

"""PySpark Python-worker daemon with a cheap zip-directory invalidation.

``get_spark`` points ``spark.python.daemon.module`` here. Run as
``python -m otus_cpp_11_spark.worker_daemon pyspark.worker`` it patches
``zipimport.zipimporter.invalidate_caches`` and then runs the stock
``pyspark.daemon.manager()``, so every forked worker inherits the patch.

Why: each task's ``setup_spark_files`` calls ``importlib.invalidate_caches()``,
and before CPython 3.13 every zip importer answers by re-reading its
archive's central directory. The worker's ``sys.path`` holds ``pyspark.zip``,
the py4j zip and the ``spark-core`` jar, which costs about 0.25 s of worker
CPU per task even for ``lambda x: x``. The replacement re-reads an archive
only when its ``(st_mtime_ns, st_size, st_ino)`` changed since this process
last read it. Like CPython's own mtime-based caches, it cannot see an
in-place rewrite that keeps size and inode within one timestamp tick; Spark
never rewrites a distributed file in place. CPython 3.13 made
``invalidate_caches`` lazy, so nothing is installed there.

Importing this module changes nothing; only running it as ``__main__`` does.
"""

from __future__ import annotations

import os
import sys
import zipimport
from typing import Callable


def install() -> Callable[[], None]:
    """Replace ``zipimporter.invalidate_caches``; returns the undo."""
    stock = zipimport.zipimporter.invalidate_caches
    seen: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            seen.pop(self.archive, None)
            return stock(self)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and seen.get(self.archive) == key:
            self._files = files
            return
        stock(self)
        seen[self.archive] = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches

    def undo() -> None:
        zipimport.zipimporter.invalidate_caches = stock

    return undo


if __name__ == "__main__":
    import importlib

    import pyspark.daemon

    if sys.version_info < (3, 13):
        install()
        # read each archive once here, so forked workers start with every
        # directory already seen instead of re-reading it on their first task
        importlib.invalidate_caches()
    pyspark.daemon.manager()

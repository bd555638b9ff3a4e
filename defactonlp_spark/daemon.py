"""Python daemon for Spark's workers: ``pyspark.daemon`` with cached zip
directories.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so Spark
starts it as ``python -m defactonlp_spark.daemon pyspark.worker``. It patches
``zipimport`` once, before the daemon forks any worker, then runs
``pyspark.daemon`` as ``__main__`` with ``sys.argv`` unchanged (Spark passes
the worker module as ``argv[1]``).

Why: at the start of every task the worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py::
setup_spark_files``). On CPython 3.11 each ``zipimporter`` then re-reads its
archive's whole central directory in pure Python, and a worker holds about
14 of them, over ``pyspark.zip`` (~1,300 entries) and the spark-core jar
(~5,400 entries) that Spark puts on the worker path. That costs 0.1-0.3 s
per task. Under the patch every directory read records the archive's
(mtime_ns, size, inode), and an invalidation re-reads the archive only when
that stamp changed or the archive is not cached; otherwise the importer takes
the directory from ``zipimport._zip_directory_cache``. So a rewritten archive
is still picked up, and an unchanged one costs one ``stat``.

Interpreters whose ``zipimport`` lacks the eager 3.11 layout (a module-level
``_read_directory`` and ``_zip_directory_cache``, importers holding the
directory in ``_files``) keep stock behaviour.
"""

from __future__ import annotations

import importlib
import os
import runpy
import zipimport


def _eager_layout() -> bool:
    return (
        callable(getattr(zipimport, "_read_directory", None))
        and isinstance(getattr(zipimport, "_zip_directory_cache", None), dict)
        and "_files" in zipimport.zipimporter.__init__.__code__.co_names
    )


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def cached_directories(read_directory, invalidate_caches):
    """Return replacements for ``zipimport._read_directory`` and
    ``zipimporter.invalidate_caches`` that share one stamp table: every read
    records the archive's stamp (taken before the read, so a rewrite during
    the read shows as a change), and invalidation calls the stock method
    only when the stamp no longer matches or the archive is not cached."""
    stamps: dict[str, tuple[int, int, int] | None] = {}

    def stamped_read(archive):
        stamp = _stamp(archive)
        files = read_directory(archive)
        stamps[archive] = stamp
        return files

    def cached_invalidate(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files
        else:
            invalidate_caches(self)

    return stamped_read, cached_invalidate


def install() -> bool:
    """Patch ``zipimport`` and re-read every archive already cached, so they
    carry stamps before the daemon forks its workers. Returns False (and
    changes nothing) on an interpreter without the eager layout."""
    if not _eager_layout():
        return False
    zipimport._read_directory, zipimport.zipimporter.invalidate_caches = cached_directories(
        zipimport._read_directory, zipimport.zipimporter.invalidate_caches
    )
    importlib.invalidate_caches()
    return True


if __name__ == "__main__":
    install()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)

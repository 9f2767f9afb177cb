"""webr — PySpark-native web-page entity-resolution engine.

A regular package on purpose: zipimport (the ``spark-submit --py-files
webr.zip`` path, north_rule) does not support PEP-420 namespace packages,
so without this file executors and cluster-mode drivers cannot import the
shipped zip even though local-mode PYTHONPATH imports work.

Importing the package also installs the zip-directory guard below. Every
webr UDF imports this module in its Python worker, and workers are reused
across tasks, so from then on the worker's per-task cache invalidation
stops re-reading the zips and jars on its ``sys.path``.
"""

import os
import sys
import zipimport


def _zip_stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_mtime_ns, st.st_size


def _install_zip_guard() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's central
    directory only when the archive changed (Python < 3.13).

    pyspark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``pyspark/worker_util.py``, ``setup_spark_files``).
    Before 3.13 that makes every cached zipimporter re-parse its whole
    archive — one per archive and sub-prefix on ``sys.path``: pyspark.zip,
    the py4j zip and the 15 MB spark-core jar — about 0.25 s per task on
    a 4-core host before any UDF code runs. 3.13 made the method lazy
    (it only drops the ``_zip_directory_cache`` entry), so there the
    stdlib is left alone.

    The guard keeps on each importer the ``(st_ino, st_mtime_ns,
    st_size)`` of the archive it last read and re-reads when that key
    changed, so a rewritten or re-shipped ``--py-files`` zip is still
    picked up. An importer that has not been through the guard yet has
    no key and re-reads once. The key is taken BEFORE the read: a write
    racing the read leaves a stale key, which costs one extra re-read,
    never a missed change."""
    if sys.version_info >= (3, 13):
        return
    current = zipimport.zipimporter.invalidate_caches
    reread = getattr(current, "__wrapped__", current)

    def invalidate_caches(self):
        key = _zip_stat_key(self.archive)
        if key is None or key != getattr(self, "_webr_dir_key", None):
            reread(self)
            self._webr_dir_key = key

    invalidate_caches.__wrapped__ = reread
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install_zip_guard()

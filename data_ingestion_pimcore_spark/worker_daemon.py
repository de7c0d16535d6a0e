"""Python worker daemon for Spark executors (``spark.python.daemon.module``).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). Before CPython
3.12 that makes each cached ``zipimport.zipimporter`` re-read its
archive's whole central directory: a worker holds ~16 importers over
``pyspark.zip`` (1,328 entries), ~0.14-0.26 core-s per task. Run as the
daemon, this module makes an importer re-read its archive only when the
archive's size or mtime changed since that importer last read it, then
runs PySpark's own daemon; every worker it forks inherits the patch.

Nothing else is imported here: preloading the workers' imports in the
daemon was measured and bought nothing beyond noise.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def invalidate_caches(self) -> None:
    """Re-read the archive only if it changed since this importer read it."""
    stamp = _stamp(self.archive)  # taken before the read: a later rewrite re-reads
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _reread(self)
        self._stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager

    manager()

"""PySpark's Python worker daemon, minus a zip-directory re-read per task.

``session.get_spark`` starts the daemon as ``python -m
codeontologypython_spark.worker_daemon`` (``spark.python.daemon.module``);
it forks every Python worker of the session, so each Python task (the
extract ``mapInArrow``, the grouped passes, the import closure's
``mapInPandas``) runs under the wrapper installed here.

PySpark ends each task's setup with ``importlib.invalidate_caches()``
(``pyspark/worker_util.py`` ``setup_spark_files``). On Python 3.11 and 3.12
``zipimporter.invalidate_caches`` re-reads its archive's whole directory,
and a warm worker holds 17 zipimporters over the archives on the workers'
PYTHONPATH: 13 over ``pyspark.zip`` (1,328 entries), 2 over the spark-core
jar (5,359) and 2 over the py4j zip. That is about 28k entries re-read per
task, 111-191 ms on a 4-vCPU box, and most of a small task's run time.
The wrapper re-reads an archive only when its ``(st_mtime_ns, st_size)``
differs from when that importer last read it, so a changed, removed or
re-added archive is still picked up. Python 3.13 only drops the cache entry,
and the wrapper costs one ``stat`` per importer there too.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` for archives that changed since
    this importer last read them. The stat comes first: an archive replaced
    during the read gets a stale stamp and is read again next time."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    # stamp the daemon's own importers once, before the first fork, so no
    # worker re-reads them in its first task
    importlib.invalidate_caches()
    daemon.manager()

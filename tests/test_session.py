"""The session's Python workers: forked from ``worker_daemon``, whose
zipimporter cache check keeps each task's ``importlib.invalidate_caches()``
from re-reading the archives on the workers' PYTHONPATH."""

from __future__ import annotations

import os
import time
import zipfile
import zipimport

from codeontologypython_spark import worker_daemon


def test_python_tasks_do_not_reread_zip_archives(spark):
    """In a second task on a warm worker, ``importlib.invalidate_caches()``
    reads no zip directory (PySpark's own daemon re-reads ~28k entries of
    pyspark.zip, py4j and the spark-core jar there), and the worker's
    ``zipimporter.invalidate_caches`` is the daemon module's wrapper."""
    import pyarrow as pa

    def zip_reads(batches):
        import importlib
        import zipimport

        reads = []
        read = zipimport._read_directory

        def counted(path):
            reads.append(path)
            return read(path)

        for _ in batches:
            pass
        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        wrapper = zipimport.zipimporter.invalidate_caches.__code__
        yield pa.RecordBatch.from_pydict({
            "reads": [len(reads)], "paths": ["\n".join(sorted(set(reads)))],
            "wrapper": [wrapper.co_filename]})

    one = spark.range(0, 1, 1, 1)
    schema = "reads long, paths string, wrapper string"
    one.mapInArrow(zip_reads, schema).collect()  # warms a worker
    (row,) = one.mapInArrow(zip_reads, schema).collect()
    assert row.reads == 0, row.paths
    assert (os.path.realpath(row.wrapper)
            == os.path.realpath(worker_daemon.__file__))


def test_changed_zip_archive_is_reread(tmp_path):
    """The wrapper keeps invalidation correct: an archive is read again
    once its mtime or size changes, and not before."""
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("a.py", "X = 1\n")
    importer = zipimport.zipimporter(str(archive))
    reads = []
    read = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read(path)

    zipimport._read_directory = counted
    try:
        worker_daemon.invalidate_caches(importer)  # first call: no stamp
        worker_daemon.invalidate_caches(importer)
        assert len(reads) == 1
        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("b.py", "Y = 2\n")
        # a size change alone marks the archive changed; bump the mtime too
        # so the check does not lean on the clock's resolution
        later = time.time_ns() + 10**9
        os.utime(archive, ns=(later, later))
        worker_daemon.invalidate_caches(importer)
        assert len(reads) == 2
        assert importer.find_spec("b") is not None
        archive.unlink()
        worker_daemon.invalidate_caches(importer)
        assert importer.find_spec("a") is None
    finally:
        zipimport._read_directory = read

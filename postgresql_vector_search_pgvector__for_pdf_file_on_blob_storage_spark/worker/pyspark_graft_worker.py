"""The engine's Python worker module (``spark.python.worker.module``):
``pyspark.worker`` with a cheaper task start.

At the start of every Python task, ``pyspark.worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()``.  On Python 3.11 that makes every
``zipimport.zipimporter`` on the worker's path re-read its whole archive
directory: each package inside ``pyspark.zip`` has an importer of its own,
so one task re-reads the same 1,328-entry directory 16 times, 180–210 ms
per task (measured inside a worker on a 4-core host).  Here an importer
re-reads only when its archive's ``(size, mtime_ns)`` changed since the
last read, so a zip rewritten in place is still picked up.

Spark's daemon imports a worker module only if its name starts with
``pyspark`` (any other name silently falls back to ``pyspark.worker``), so
this module lives in a directory of its own that ``session.get_spark``
prepends to the executors' ``PYTHONPATH``.
"""

import os
import sys
import zipimport

from pyspark.worker import main  # noqa: F401 - the daemon's entry point

_read = zipimport.zipimporter.invalidate_caches
_stamps: dict = {}  # archive path -> (size, mtime_ns) at its last read


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches``, skipped while the archive is
    unchanged since its last read (by this or another importer of it)."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _read(self)  # stamp taken first: a rewrite during the read re-reads next time
    _stamps[self.archive] = stamp


# Python 3.12 made the zipimporter cache lazy; the re-read is 3.11's.
if sys.version_info < (3, 12):
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # Stamp the archives read so far (one fresh read each, here in the
    # daemon), so forked workers start with nothing to re-read.
    for archive in list(zipimport._zip_directory_cache):
        stamp = _stamp(archive)
        try:
            zipimport._zip_directory_cache[archive] = zipimport._read_directory(archive)
        except zipimport.ZipImportError:
            continue
        _stamps[archive] = stamp

if __name__ == "__main__":  # spark.python.use.daemon=false
    import runpy

    # Run it as ``python -m pyspark.worker`` would: a fresh module.
    sys.modules.pop("pyspark.worker")
    runpy.run_module("pyspark.worker", run_name="__main__")

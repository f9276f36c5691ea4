"""Python-worker daemon that re-reads a zip archive only when it changed.

Spark forks every Python worker from one daemon process per executor
(``spark.python.daemon.module``, default ``pyspark.daemon``), and a
reused worker runs many tasks. Before each task,
``pyspark.worker_util.setup_spark_files`` puts the task's files and
``--py-files`` on ``sys.path`` and calls ``importlib.invalidate_caches()``.
On CPython 3.11 that makes every cached ``zipimport.zipimporter`` re-read
its archive's whole central directory. ``pyspark.zip`` (1,328 entries)
has one importer per imported subpackage, so a task pays ~14 directory
reads, ~230 ms on a 4-CPU host: most of the floor of any job that
touches a Python worker.

This module runs the stock daemon (``pyspark.daemon.manager``) with one
change, the stat guard: ``zipimporter.invalidate_caches`` re-reads an
archive only when its ``(st_mtime_ns, st_size)`` differs from the stat
taken just before the last read of it. Otherwise the importer takes the
directory of that read. A changed archive is still re-read, as before;
an unchanged one costs one ``stat`` per importer. The guard is installed
and primed in the daemon before it forks, so workers inherit both.

The guard reads and sets zipimport internals of CPython 3.11: an
importer's directory in ``_files`` and the module-wide
``_zip_directory_cache``. It is installed only when the interpreter
running the daemon is CPython 3.11 with that cache (``supported()``);
on any other interpreter the module runs ``pyspark.daemon.manager()``
unchanged.

``session.get_spark`` selects this module for the local master only.

    python -m tangent_spark._daemon [worker module]
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (stat key taken before the read, directory it read)
_reads: dict[str, tuple[tuple[int, int], dict]] = {}


def _stat_key(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def supported() -> bool:
    """Whether this interpreter is the one the stat guard was written for."""
    return (
        sys.implementation.name == "cpython"
        and sys.version_info[:2] == (3, 11)
        and hasattr(zipimport, "_zip_directory_cache")
    )


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` behind the stat guard."""
    key = _stat_key(self.archive)
    last = _reads.get(self.archive)
    if last is not None and last[0] == key:  # stored keys are never None
        self._files = zipimport._zip_directory_cache[self.archive] = last[1]
        return
    _reread(self)
    if key is None:
        _reads.pop(self.archive, None)
    else:
        _reads[self.archive] = (key, self._files)


if __name__ == "__main__":
    import importlib

    from pyspark.daemon import manager

    if supported():
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        importlib.invalidate_caches()  # one read per archive, inherited by every fork
    manager()

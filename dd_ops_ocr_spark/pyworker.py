"""Python daemon for the engine's Spark sessions: ``pyspark.daemon`` with
a stat-checked ``zipimporter.invalidate_caches``.

Every task a Python worker runs starts in ``pyspark.worker_util.
setup_spark_files``, which calls ``importlib.invalidate_caches()`` so that
files shipped with ``addPyFile`` become importable. On CPython 3.11 that
call makes every ``zipimporter`` re-read its archive's whole central
directory (``zipimport._read_directory``). Workers import ``pyspark`` from
``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries in Spark 4.1), which
holds one ``zipimporter`` per imported package, 16 in a worker that has
run an Arrow UDF. The archive never changes while a worker lives, yet each
task paid 0.16-0.27 CPU-s re-reading it; with this daemon a no-op Arrow
task costs its worker about 0.03 CPU-s (Spark 4.1, 4-vCPU x86 host).

``invalidate_caches`` below re-reads an archive only when its
``(st_ino, st_size, st_mtime_ns)`` differs from the stat taken just before
this process last read it; otherwise it re-points the importer at the
directory already in ``zipimport._zip_directory_cache``. A changed,
replaced or deleted archive takes the stock method, so imports see exactly
what they would without it. An archive modified less than two seconds
before a read is not recorded and is read again next time: file systems
stamp mtimes from a coarse clock, so an in-place rewrite of the same size
within one tick would keep the key. The stat record is process-wide, like
the directory cache it guards.

``session.build_spark`` sets ``spark.python.daemon.module`` to this module.
The daemon forks every worker, so the method and one primed read of each
archive are inherited by all of them. (``spark.python.worker.module``
cannot carry this: ``pyspark.daemon`` only loads worker modules whose name
starts with ``pyspark``.) The daemon must be importable where Python
workers start, not only shipped per task with ``--py-files``: on a
``local*`` master ``build_spark`` puts the package's import root on the
workers' ``PYTHONPATH``, and ``session.py`` says what a cluster needs.
"""

from __future__ import annotations

import importlib
import os
import time
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> stat key taken just before this process last read it
_read_at: dict[str, tuple[int, int, int]] = {}
_SETTLED_NS = 2_000_000_000


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read of an
    archive unchanged since this process last read it."""
    now = time.time_ns()
    key = _stat_key(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and cached is not None and _read_at.get(self.archive) == key:
        self._files = cached
        return
    _read_at.pop(self.archive, None)
    _stock_invalidate(self)
    # the stat predates the read: a change during the read shows up as a
    # different key next time and forces another read
    settled = key is not None and now - key[2] >= _SETTLED_NS
    if settled and self.archive in zipimport._zip_directory_cache:
        _read_at[self.archive] = key


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # read each archive once here, so forked workers start with the record
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()

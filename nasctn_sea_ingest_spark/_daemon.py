"""Python worker daemon for local masters: pyspark's own daemon, started
after one fix to the zip import cache and the imports of the decode path,
all of which every forked worker inherits.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. On Python 3.10-3.12 that makes each ``zipimport.zipimporter``
re-read its archive's whole central directory, and a worker holds one
importer per imported sub-package of the zipped pyspark library (16 over
the 1,328 entries of ``pyspark.zip``): 130-230 ms of CPU per task before
any work. ``install()`` replaces that method with one that re-reads an
archive only when its ``(st_ino, st_size, st_mtime_ns)`` moved since its
last read, once per changed archive rather than once per importer, so a
rewritten archive is still seen. Python 3.13's method only drops the cache
entry (the read is lazy), so there nothing is replaced.

Before it forks, the daemon also imports what every Arrow Python task of
this package loads: ``sources.ingest`` (numpy, pandas, pyarrow,
``pyarrow.parquet``, ``pyarrow.compute``, lzma and ``sources.sigmf``) and
``pyspark.sql.pandas.serializers``. Workers inherit those modules
copy-on-write instead of spending 0.3-0.5 s CPU importing them on their
first Arrow task. Fresh workers are not rare: pyspark does not reuse a
worker whose task stopped early, as a ``limit`` over a Python stage does,
and the next stage forks its replacement. A daemon pays the imports once,
before it opens its socket (about 0.6 s CPU); Spark starts one for SQL
Python tasks and another for plain RDD tasks, whose environments differ.

Then ``gc.freeze()`` moves those objects (about 75,000) to the
collector's permanent generation. pyspark's worker runs ``gc.collect()``
after every task, and a full collection over them costs about 50 ms CPU
and writes to each object's header, which unshares the pages that hold
it; frozen, they are skipped. What a worker allocates itself is collected
as before; only a reference cycle among the inherited objects would
never be freed.

Fork safety: after those imports the daemon holds one thread besides its
own, pyarrow's jemalloc ``jemalloc_bg_thd``. jemalloc registers
``pthread_atfork`` handlers that take every allocator lock before the fork
and, in the child, reset the background-thread state to disabled, so a
worker inherits no lock held by that thread and purges inline instead.
numpy's OpenBLAS starts no thread under the ``OMP_NUM_THREADS=1`` Spark
gives Python workers (``spark.task.cpus``); with more, its own
``pthread_atfork`` handler shuts its pool down before each fork, and the
daemon never calls BLAS to restart it. Arrow's thread pools start lazily
and are not started here.

``session.get_spark`` names this module as ``spark.python.daemon.module``
for local masters; Spark starts it with ``python -m
nasctn_sea_ingest_spark._daemon``.
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipimport

_original = zipimport.zipimporter.invalidate_caches
# archive path -> (st_ino, st_size, st_mtime_ns), taken before its last read
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _invalidate_caches(self) -> None:
    """Take the shared directory of an archive unchanged since its last
    read; re-read it with CPython's own method otherwise."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None \
            and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _original(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp
    else:
        _stamps.pop(self.archive, None)


def install(version: tuple[int, ...] = sys.version_info[:2]) -> bool:
    """Replace ``zipimporter.invalidate_caches`` on Python 3.10-3.12 and
    read each archive on the path once, so the stamps are in place before
    a fork. Returns whether the method was replaced."""
    if not (3, 10) <= tuple(version[:2]) < (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()
    return True


if __name__ == "__main__":
    # Run as __main__: install from the importable module, so the method
    # the workers inherit reports this module's name, not "__main__".
    from nasctn_sea_ingest_spark._daemon import install as _install
    from pyspark.daemon import manager

    _install()
    # forked workers inherit these, frozen (see the module docstring)
    import nasctn_sea_ingest_spark.sources.ingest  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    gc.freeze()
    manager()

"""Python worker daemon for local masters: pyspark's own daemon, started
after one fix to the zip import cache that every forked worker inherits.

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

``session.get_spark`` names this module as ``spark.python.daemon.module``
for local masters; Spark starts it with ``python -m
nasctn_sea_ingest_spark._daemon``.
"""

from __future__ import annotations

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
    manager()

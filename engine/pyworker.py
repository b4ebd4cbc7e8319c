"""Spark Python daemon whose workers re-read a zip archive only when it changed.

Each task a Python worker runs calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and CPython's zipimporter
then re-reads its archive's whole directory once per package imported
from it: about 16 reads of ``pyspark.zip`` (1,328 entries), 0.2-0.25
CPU-s, per task. Here a read is skipped while the archive's
``(st_mtime_ns, st_size, st_ino)`` equals the stamp of its last read, so a
rewritten archive (an ``addPyFile`` overwrite) is still re-read. The
daemon patches before it forks; its workers inherit the patch. Selected
by :func:`engine.session.get_spark`.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_read_directory = zipimport._read_directory
_invalidate_caches = zipimport.zipimporter.invalidate_caches
#: archive path -> stat stamp taken just before its directory was read
_STAMPS: dict = {}


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _stamped_read_directory(archive):
    stamp = _stamp(archive)
    files = _read_directory(archive)
    _STAMPS[archive] = stamp
    return files


def _cached_invalidate_caches(self) -> None:
    cached = zipimport._zip_directory_cache.get(self.archive)
    stamp = _stamp(self.archive)
    if cached is not None and stamp is not None and _STAMPS.get(self.archive) == stamp:
        self._files = cached
    else:
        _invalidate_caches(self)


def install() -> None:
    """Patch :mod:`zipimport` in this process. Archives opened before
    the patch carry no stamp, so they are read once more here."""
    zipimport._read_directory = _stamped_read_directory
    zipimport.zipimporter.invalidate_caches = _cached_invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()

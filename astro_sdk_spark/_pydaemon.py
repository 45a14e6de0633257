"""PySpark worker daemon with a stamp-checked zipimport directory cache.

Every Python task starts in ``pyspark.worker.main``, whose
``setup_spark_files`` ends with ``importlib.invalidate_caches()``. Before
Python 3.12, that makes every ``zipimporter`` re-read its archive's whole
central directory. There is one importer per imported package directory
(14-16 over ``pyspark.zip`` and its 1.3k entries), so every task, on a
reused worker too, paid about 100 ms in ``zipimport._read_directory``
before any user code ran (measured on a 4-vCPU host).

Run as ``spark.python.daemon.module`` (``get_session`` sets it for local
masters), this module patches ``zipimporter.invalidate_caches`` and then
runs ``pyspark.daemon`` unchanged, so every forked worker inherits the
patch. An archive is re-read only when its ``(st_mtime_ns, st_size)``
stamp differs from the one taken before its last read, and all importers
of one archive share that read. A zip that changed, appeared or vanished
is still picked up. Python 3.12 made the zipimport cache lazy; there the
module only runs the stock daemon.
"""

from __future__ import annotations

import importlib
import os
import runpy
import sys
import zipimport

# archive path -> stamp taken just before the directory now held in
# zipimport._zip_directory_cache[archive] was read
_STAMPS: dict[str, tuple[int, int]] = {}


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only when
    its stamp changed since the directory shared by all its importers was
    read."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _STAMPS.get(self.archive) == stamp:
        self._files = files
        return
    _STAMPS.pop(self.archive, None)
    # the stock method's body (3.10, 3.11)
    try:
        self._files = zipimport._read_directory(self.archive)
        zipimport._zip_directory_cache[self.archive] = self._files
    except zipimport.ZipImportError:
        zipimport._zip_directory_cache.pop(self.archive, None)
        self._files = {}
        return
    if stamp is not None:
        _STAMPS[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` (Python < 3.12) and stamp
    every archive imported so far, so workers forked later start warm."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        importlib.invalidate_caches()


if __name__ == "__main__":
    # patch with the importable copy of this module, not ``__main__``'s,
    # so a worker can tell by name that it runs under this daemon
    from astro_sdk_spark import _pydaemon

    _pydaemon.install()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)

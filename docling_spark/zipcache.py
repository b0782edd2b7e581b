"""Re-read a zip archive's directory on ``invalidate_caches`` only when the
archive has changed.

Every Spark Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On Python < 3.12,
``zipimporter.invalidate_caches`` re-parses the whole central directory of
its archive each time, once per zip importer (CPython gh-103200): with
``pyspark.zip`` (~1,300 entries) behind a worker's 16 importers that
measured 110-220 ms of CPU per task on a 4-core host, before the UDF body
runs. ``install`` swaps in a method that re-reads an archive only when its
``(st_mtime_ns, st_size)`` differs from the last read, so a rewritten
archive is still re-read.

The package import calls ``install`` inside a Spark task only, so each
Python worker installs it once and the driver never does.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) when its directory was last read
_stamps: dict[str, tuple[int, int]] = {}
_unstamped = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    archive = self.archive
    try:
        st = os.stat(archive)
    except OSError:
        _stamps.pop(archive, None)
        return _unstamped(self)
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(archive)
    if files is not None and _stamps.get(archive) == stamp:
        # another importer of this archive may have done the re-read
        self._files = files
        return
    _unstamped(self)
    if archive in zipimport._zip_directory_cache:
        _stamps[archive] = stamp
    else:
        _stamps.pop(archive, None)


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` (Python < 3.12 only) and
    read each cached zip importer's archive once, so later calls re-read
    nothing until an archive changes. Installing twice is a no-op."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 12) or cls.invalidate_caches is _invalidate_caches:
        return
    cls.invalidate_caches = _invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            finder.invalidate_caches()

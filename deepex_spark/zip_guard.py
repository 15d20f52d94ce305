"""Keep zip-archive directories cached across PySpark tasks on CPython < 3.12.

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 that makes every
``zipimport.zipimporter`` on the worker's path re-read its archive's whole
central directory: 16 importers over ``pyspark.zip`` and the spark-core jar,
about 0.25 s per task on a 4-core host, although neither archive changes
while the worker lives. CPython 3.12 defers that re-read until the next
import from the archive, so there the stdlib method is left alone.

``install()`` replaces ``zipimporter.invalidate_caches`` with a version that
calls the stdlib method only when the archive's ``(st_mtime_ns, st_size,
st_ino)`` changed since its last read or its directory is no longer in
``zipimport._zip_directory_cache``; otherwise the importer keeps the cached
directory. The package calls ``install()`` on import, so every worker that
unpickles one of the package's functions installs the guard.
"""

from __future__ import annotations

import os
import sys
import zipimport

_MARK = "_deepex_keeps_unchanged_archives"


def _signature(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def installed() -> bool:
    """True when ``zipimporter.invalidate_caches`` is the guarded version."""
    method = getattr(zipimport.zipimporter, "invalidate_caches", None)
    return getattr(method, _MARK, False)


def install() -> bool:
    """Install the guard (idempotent). Returns whether it is active: False on
    CPython >= 3.12, where the stdlib already defers the re-read, and before
    3.10, where zipimporter has no invalidate_caches."""
    if not (3, 10) <= sys.version_info < (3, 12):
        return False
    if installed():
        return True
    stdlib = zipimport.zipimporter.invalidate_caches
    # archive -> signature taken just before its directory was last read;
    # stat-before-read means a rewrite during the read is seen next time
    read_at: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        sig = _signature(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if sig is not None and cached is not None and read_at.get(self.archive) == sig:
            self._files = cached
            return
        stdlib(self)
        if sig is not None and self.archive in zipimport._zip_directory_cache:
            read_at[self.archive] = sig
        else:
            read_at.pop(self.archive, None)

    invalidate_caches.__doc__ = stdlib.__doc__
    setattr(invalidate_caches, _MARK, True)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True

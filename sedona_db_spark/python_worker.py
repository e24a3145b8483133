"""Cheap ``importlib.invalidate_caches()`` for zip archives on ``sys.path``.

A PySpark Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark.worker_util.setup_spark_files``).  On
CPython 3.10-3.12 that makes every ``zipimport.zipimporter`` re-read its
archive's whole central directory in pure Python, and a worker's
``sys.path`` holds ``pyspark.zip``, the py4j zip and the Spark core jar,
with one importer per imported sub-package: 0.2-0.3 s of every task on
a 4-core x86 host, spent before the UDF is called.  CPython 3.13 made
the re-read lazy (gh-103200), so nothing is installed there.

``install()`` replaces ``zipimporter.invalidate_caches`` with one that
re-reads an archive only when its ``(st_ino, st_size, st_mtime_ns)``
changed since it was last read, so a rewritten archive is still picked
up.  Importing ``sedona_db_spark`` installs it; every engine kernel's
unpickling imports the package inside the worker, so from the worker's
second task on the per-task re-read is gone.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat signature of the directory now held in
# zipimport._zip_directory_cache for it (taken before that read)
_read_signatures: dict[str, tuple[int, int, int]] = {}
# the stock method, also when this module is reloaded over an installed
# guard (which keeps the stock method as its __wrapped__)
_eager_invalidate = getattr(zipimport.zipimporter.invalidate_caches,
                            "__wrapped__",
                            zipimport.zipimporter.invalidate_caches)


def _signature(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """Re-read this importer's archive only when it changed on disk."""
    sig = _signature(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if (sig is not None and files is not None
            and _read_signatures.get(self.archive) == sig):
        self._files = files
        return
    _eager_invalidate(self)
    if sig is not None and self.archive in zipimport._zip_directory_cache:
        _read_signatures[self.archive] = sig
    else:
        _read_signatures.pop(self.archive, None)


_invalidate_if_changed.__wrapped__ = _eager_invalidate


def install() -> None:
    """Install the guard on CPython < 3.13 (idempotent)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

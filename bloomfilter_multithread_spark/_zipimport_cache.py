"""Stamp-checked ``zipimport.zipimporter.invalidate_caches`` for Python < 3.13.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. Before CPython 3.13 a zip importer answers that by re-reading
its archive's whole directory at once, and a warm Spark 4.1 worker holds 16
zip importers (12 over ``pyspark.zip``, 2 over the py4j zip, 2 over the
spark-core jar), so every Python task paid about 0.2 s (4-core VM) before
its UDF ran. 3.13 made the invalidation lazy; this module gives older
interpreters the same cost: a directory is read again only when the
archive's ``(st_ino, st_size, st_mtime_ns)`` stamp changed since the last
read (stronger than the mtime-and-size check of ``.pyc`` files). The
package ``__init__`` imports it, so every worker that unpickles package
code installs it.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` once per process."""
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "__wrapped__", None) is not None:
        return
    stamps: dict[str, tuple] = {}  # archive -> stamp at its last real read

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        original(self)  # stamped before the read: a rewrite during it re-reads next time
        stamps[self.archive] = stamp

    invalidate_caches.__wrapped__ = original
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if sys.version_info < (3, 13):
    install()

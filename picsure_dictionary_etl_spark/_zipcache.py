"""Skip re-reading unchanged zip archives on ``importlib.invalidate_caches()``.

A reused PySpark worker calls ``importlib.invalidate_caches()`` before
every task. Before CPython 3.12 (gh-103200), each ``zipimporter`` then
re-reads its archive's whole central directory: ``pyspark.zip`` (one
importer per package directory), the py4j zip and the spark-core jar,
0.1-0.2 s of CPU a task. On those versions this module, imported first
by the package ``__init__``, replaces the method with one that reuses
``zipimport._zip_directory_cache`` while the archive's
``(st_mtime_ns, st_size)`` is what this process saw at its last read;
an archive that changes on disk is still re-read.
"""

import os
import sys
import zipimport

if sys.version_info < (3, 12):
    _read_archive = zipimport.zipimporter.invalidate_caches
    _stamps = {}  # archive -> stamp at this process's last read

    def _invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
            self._files = files
            return
        _read_archive(self)
        _stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = _invalidate_caches

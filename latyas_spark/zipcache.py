"""Stat-keyed ``zipimport`` cache invalidation for the Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``).  Up to CPython
3.11, ``zipimporter.invalidate_caches`` eagerly re-reads its archive's
central directory in pure Python, and a worker holds one zipimporter per
package directory it has imported from: 12 over a stock
``pyspark.zip`` of 1,328 entries after an extraction task.  So every
task re-parsed the same directory a dozen times, about 0.2 s of a
0.21-0.23 s task on a 4-core host.  Later CPython made the method lazy
(gh-103200).

``install()`` wraps the method so that, while an archive's
``(st_mtime_ns, st_size, st_ino)`` is the one its cached directory was
read under, the importer is pointed at that directory in
``zipimport._zip_directory_cache``.  A first call, a rewritten or
deleted archive, or a ``stat`` that fails goes to the stock method, so a
changed archive is still picked up.  Where the stock method is lazy it
leaves no directory in the cache to reuse, and the wrapper always
delegates.

The package ``__init__`` calls ``install()``, so every worker that
unpickles a kernel installs it.  A worker's first task runs its
invalidation before that import and still pays the stock cost once.
"""

from __future__ import annotations

import functools
import os
import zipimport

# Marks the wrapper, so that a second install() (also from another copy
# of this module, e.g. the --py-files zip) does not wrap it again.
MARKER = "_stat_keyed"


def install() -> None:
    """Replace ``zipimport.zipimporter.invalidate_caches`` with the
    stat-keyed version.  Installing twice leaves one wrapper."""
    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, MARKER, False):
        return
    # archive path -> (stat key, the directory object read under it)
    read_under: dict = {}

    @functools.wraps(stock)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            stock(self)
            return
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        cached = zipimport._zip_directory_cache.get(self.archive)
        seen_key, seen_files = read_under.get(self.archive, (None, None))
        if cached is not None and cached is seen_files and key == seen_key:
            self._files = cached
            return
        stock(self)
        read_under[self.archive] = (
            key, zipimport._zip_directory_cache.get(self.archive))

    setattr(invalidate_caches, MARKER, True)
    zipimport.zipimporter.invalidate_caches = invalidate_caches

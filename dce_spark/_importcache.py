"""Skip re-reading unchanged zip archives on ``importlib.invalidate_caches()``.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task. On Python 3.11 each cached ``zipimporter`` then re-parses its
archive's whole central directory in pure Python: ``pyspark.zip``, the
py4j zip and the spark-core jar cost 0.15-0.27 CPU-s per task on a
4-core host. The wrapper below re-reads an archive only when its
``os.stat`` key changed since that importer's last read, so a rewritten
archive is re-read exactly as before and an unchanged one keeps its
directory. A rewrite that keeps the inode and the size within one
mtime tick goes unseen.
"""

from __future__ import annotations

import functools
import os
import zipimport


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches``; idempotent."""
    cls = zipimport.zipimporter
    original = cls.invalidate_caches
    if getattr(original, "_dce_skip_unchanged", False):
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns
        except OSError:
            key = None
        if key is None or key != getattr(self, "_dce_stat_key", None):
            # stat before the read: a rewrite racing the read changes
            # the key again, so the next call re-reads
            original(self)
            self._dce_stat_key = key

    invalidate_caches._dce_skip_unchanged = True
    cls.invalidate_caches = invalidate_caches

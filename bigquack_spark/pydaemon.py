"""PySpark worker daemon whose workers stop re-reading zip archives per task.

A reused Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (pyspark ``worker_util.setup_spark_files``).  Before CPython
3.12 (gh-103200) that makes every ``zipimporter`` re-read its archive's
central directory, and a worker holds about 16 of them over SPARK_HOME's
``pyspark.zip`` (~1,300 entries): on a 4-core VM a trivial warm
``mapInArrow`` collect took 0.25-0.27 s with the re-reads and 0.11-0.12 s
without them.  Under this daemon an
importer re-reads its archive only when the archive's
``(inode, size, mtime_ns)`` changed since that importer last read it, so a
``--py-files`` archive that is replaced is still picked up.

``session.get_spark`` sets this module as ``spark.python.daemon.module``;
it patches ``zipimport`` on Python < 3.12 and then runs pyspark's own daemon,
whose forked workers inherit the patch.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only if it
    changed since this importer last read it here.  The stamp is taken
    before the read, so a change racing the read forces one more read."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        self._read_stamp = stamp
        _reread(self)


if __name__ == "__main__":
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    daemon.manager()

"""Python worker daemon: pyspark's daemon without the per-task zip re-read.

``session.get_spark`` points ``spark.python.daemon.module`` here, so the
JVM starts ``python -m semstreams_spark._pydaemon`` instead of
``pyspark.daemon`` and every Python worker is forked from this process.

Every Python task starts with pyspark's ``setup_spark_files``, which ends
in ``importlib.invalidate_caches()``. On CPython < 3.12 that calls
``zipimport.zipimporter.invalidate_caches`` on every zipimporter in
``sys.path_importer_cache`` (``pyspark.zip``, its subpackage paths, the
spark-core jar: 14 of them), and each call re-parses its archive's whole
central directory: about 130-240 ms per task on a 4-vCPU host, before
the task reads its first row. CPython 3.12 made the invalidation lazy
(gh-103200).

On CPython < 3.12 this module wraps ``zipimporter.invalidate_caches``: a
zipimporter whose archive still has the ``(st_ino, st_mtime_ns,
st_size)`` it had at its last read returns at once; any other archive
(new, rewritten, replaced, or gone) is re-read by the original method.
The daemon imports ``pyspark.daemon`` (and with it ``pyspark.worker``),
then invalidates every zipimporter once before it forks, so the workers
inherit the stamps. On 3.12+ nothing is patched.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_ORIGINAL = zipimport.zipimporter.invalidate_caches


def invalidate_caches_if_changed(self) -> None:
    """Re-read the archive only if it changed since this importer last
    read it. The stamp is taken before the read, so a write racing the
    read leaves a stale stamp and the next call reads again."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is not None and getattr(self, "_semstreams_stamp", None) == stamp:
        return
    _ORIGINAL(self)
    self._semstreams_stamp = stamp


def patch_zipimport() -> bool:
    """Install the wrapper; returns whether ``zipimporter`` is patched."""
    if sys.version_info >= (3, 12):
        return False
    zipimport.zipimporter.invalidate_caches = invalidate_caches_if_changed
    return True


if __name__ == "__main__":
    from pyspark import daemon  # imports pyspark.worker: its zipimporters exist now

    if patch_zipimport():
        importlib.invalidate_caches()
    daemon.manager()

"""PySpark worker daemon that re-reads a zip archive only when it changed.

Every Python-worker task calls ``importlib.invalidate_caches()`` (pyspark
``worker_util.setup_spark_files``).  On CPython 3.11 that makes each
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
whole central directory; pyspark itself is imported from
``pyspark.zip`` (1,328 entries, one importer per package), so every task
paid about 0.12 s of CPU for it (measured on a 4-core x86-64 Xeon VM).  Here a zip importer re-reads only when
the archive's ``(st_mtime_ns, st_size)`` stamp differs from the one it
last read; a rewritten archive changes its stamp and is re-read.
Directory finders still invalidate as before, so ``.py`` files shipped
with ``addPyFile`` are found.

``get_spark`` starts local workers with this module
(``spark.python.daemon.module``); otherwise it is ``pyspark.daemon``.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.
    An importer not yet stamped re-reads once: the stamp of the read its
    constructor made is unknown."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    from pyspark import daemon

    daemon.manager()

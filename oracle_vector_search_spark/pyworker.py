"""The engine's Python daemon: ``pyspark.daemon`` with lazy zip importers.

Every Python runner starts in ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. Before Python 3.13 that
makes each cached ``zipimport.zipimporter`` re-read its archive's whole
directory (pyspark.zip, the py4j zip, the spark-core jar): about 0.1 s
per runner. Here an importer re-reads only when its archive's
(mtime, size, inode) changed since that importer last read it, so
``addPyFile`` and replaced zips still import their new modules.

``session.get_spark`` names this module in ``spark.python.daemon.module``
(local mode, when the workers can import this package) and every forked
worker inherits the patch. No heavy imports here: each forked worker's
memory starts as the daemon's.
"""

import importlib
import os
import sys
import zipimport

_eager = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self):
    try:
        st = os.stat(self.archive)
    except OSError:
        self._read_at = None
        return _eager(self)
    key = (st.st_mtime_ns, st.st_size, st.st_ino)
    if getattr(self, "_read_at", None) != key:
        _eager(self)
        self._read_at = key


if sys.version_info < (3, 13):  # 3.13's importers are already lazy
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

if __name__ == "__main__":
    from pyspark.daemon import manager

    importlib.invalidate_caches()  # key the importers every fork inherits
    manager()

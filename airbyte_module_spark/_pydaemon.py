"""Python worker daemon for local sessions: ``pyspark.daemon`` whose zip
importers keep their archive directories across ``invalidate_caches()``.

Before every task ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. Before CPython 3.13 each ``zipimporter``
then re-reads its archive's whole directory; ``pyspark.zip`` is reached by
one importer per imported subpackage, so a reused worker spent 0.18-0.25 s
of CPU per task there (CPython 3.11.7, Spark 4.1.2, 4-core x86 box). Here an
importer re-reads only when the archive's ``(st_mtime_ns, st_size)`` changed
since it last read it: an unchanged archive has an unchanged directory.
Every worker forks from this daemon, so every worker carries the patch.
``get_spark`` sets ``spark.python.daemon.module`` to this module for local
masters.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches

    from pyspark.daemon import manager

    manager()

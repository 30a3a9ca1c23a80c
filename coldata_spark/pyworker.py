"""Python worker daemon that rereads a zip archive only when it changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task, so that archives added with ``addPyFile`` become importable.
Python 3.11's ``zipimporter.invalidate_caches`` rereads the archive's whole
directory each time: 16 reads per task over ``pyspark.zip``, the
spark-core jar and py4j's zip, about 0.2 s of every task on a 4-core
machine.

On import, this module makes each importer reread its archive only when the
archive's ``(st_mtime_ns, st_size)`` differs from what that importer last
read, or when ``stat`` fails.  The key lives on the importer, because many
importers share one archive.  ``session.get_spark`` makes this module
``spark.python.daemon.module``; workers are forked from the daemon, so every
task inherits the patch.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self):
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    if key is None or key != getattr(self, "_read_key", None):
        _reread(self)
        self._read_key = key


zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

if __name__ == "__main__":
    import importlib

    from pyspark import daemon

    # read every archive once here, so that forked workers start keyed
    importlib.invalidate_caches()
    daemon.manager()

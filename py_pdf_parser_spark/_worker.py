"""Stop reused Python workers from re-reading Spark's own archives.

Spark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``).  On Python 3.11
that makes every zipimporter re-read its archive's whole directory, once
per task: about 16 importers over ``pyspark.zip`` (1,328 entries) and
one over the ``spark-core`` jar (5,359 entries), which Spark also puts
on the worker's path.  Those archives sit in ``$SPARK_HOME/python/lib``
and ``$SPARK_HOME/jars``; Spark ships them at launch and never changes
them while a worker lives, so their refresh is skipped.  Every other
archive (``--py-files``, SparkFiles) is still refreshed.  Importing the
package installs this once per process, so a reused worker pays the
re-read on its first task only.
"""

import os
import zipimport

_HOME = os.environ.get("SPARK_HOME")
_SPARK_DIRS = {
    os.path.realpath(os.path.join(_HOME, *sub))
    for sub in (("python", "lib"), ("jars",))
} if _HOME else set()


def _install() -> None:
    refresh = zipimport.zipimporter.invalidate_caches
    if getattr(refresh, "skips_spark_archives", False):
        return

    def invalidate_caches(self):
        if os.path.realpath(os.path.dirname(self.archive)) not in _SPARK_DIRS:
            refresh(self)

    invalidate_caches.skips_spark_archives = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install()

"""Once-per-process set-up that takes the fixed per-task CPU off reused
Python workers.

Every UDF, ``mapInPandas`` and ``applyInPandas`` closure this package ships
imports the package when a Python worker unpickles it, and the package
imports this module last, so a reused worker runs it once, during its
first task, after the package's own imports.  Two costs that PySpark's
worker pays around every task go away:

* **Zip directory re-reads.**  ``pyspark.worker_util.setup_spark_files``
  calls ``importlib.invalidate_caches()`` before each task.  Below Python
  3.13 every ``zipimporter`` on ``sys.path`` then re-reads its archive's
  whole central directory in pure Python: 16 importers over the Spark core
  jar (5,359 entries), ``pyspark.zip`` (1,328) and the py4j zip, about
  0.15 s of CPU per task.  The guard below re-reads an archive only when
  its ``(st_ino, st_size, st_mtime_ns)`` differs from the stamp taken at
  its last read, and otherwise hands every importer of that archive the
  same read.  A changed, new or deleted archive is read exactly as before,
  so an ``addPyFile`` overwrite is still picked up.  Python 3.13 made this
  invalidation lazy (gh-103200) and is left untouched.
* **Full collections of the import heap.**  With ``SPARK_REUSE_WORKER`` set
  (the condition under which ``pyspark.daemon`` runs ``gc.collect()``
  after every task; the driver does not set it) ``gc.freeze()`` moves the
  objects alive now (the modules of PySpark, pandas, pyarrow,
  cryptography and this package, about 77,000 objects in a worker) to the
  permanent generation, which collections skip: a task's full collection
  goes from about 30 ms to under 1 ms.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport


def _install_zip_guard() -> None:
    stock = zipimport.zipimporter.invalidate_caches
    # archive path -> (stamp at the last read, the directory it read)
    reads: dict[str, tuple[tuple[int, int, int], dict]] = {}

    def invalidate_caches(self) -> None:
        """Reload the archive's file data, unless it is unchanged since the
        last read of it."""
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        last = reads.get(self.archive)
        if last is not None and last[0] == stamp:
            self._files = zipimport._zip_directory_cache[self.archive] = last[1]
            return
        stock(self)
        # the stat came first, so a write racing the read leaves an old
        # stamp on the new directory and the next call reads it again
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            reads[self.archive] = (stamp, self._files)
        else:
            reads.pop(self.archive, None)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if sys.version_info < (3, 13):
    _install_zip_guard()

if os.environ.get("SPARK_REUSE_WORKER"):
    gc.freeze()

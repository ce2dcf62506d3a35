"""Stat-guarded ``zipimport.zipimporter.invalidate_caches``.

Why: before every task a PySpark worker runs
``pyspark.worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. On Python >= 3.10 that calls
``invalidate_caches`` on every ``zipimporter`` in
``sys.path_importer_cache``, and each one re-parses its archive's
central directory. A worker's ``sys.path`` carries ``pyspark.zip``,
the py4j zip, ``spark-core_2.13-4.1.2.jar`` and any ``--py-files``
zip: 16 importers and about 26 k entries, re-read on EVERY task.
That re-read, not the JVM or the socket, set the fixed per-task cost
of a Python stage (identity ``mapInPandas`` at ``local[4]``, 4-core
box, Python 3.11: 4 tasks 0.33-0.53 s before, 0.16-0.23 s after; 16
tasks 0.81-1.16 s before, 0.30-0.36 s after).

What: :func:`install` wraps the method so that an importer re-reads
its archive only when the archive's ``(st_mtime_ns, st_size)`` differs
from the key it recorded at its last guarded read; otherwise ``_files``
is kept as it is. The key is taken BEFORE the re-read, so a write that
lands during the read changes the key seen by the next call. A
changed, replaced or vanished archive is therefore still re-read, and
no Spark rule about re-adding a file under the same name is assumed.
An importer with no key yet (its ``_files`` came from a read the guard
did not see) re-reads once to record one. So a worker pays the full
re-read on the tasks before it first imports this package, once more
on its next task, and never again while its archives stay unchanged.

Where: the package root imports this module and calls :func:`install`,
because cloudpickle ships ``extract_iter`` by value and a worker
imports the package root (through ``operators.document``) but may
never import ``plans.pipeline``. Setting ``spark.python.daemon.module``
to a module of this package would cover a worker's first task too, but
the JVM starts the daemon before any ``--py-files`` zip is on a path:
under ``spark-submit --py-files`` it failed with "Error while finding
module specification for 'pdf_extractor_spark.plans.worker_daemon'
(ModuleNotFoundError: No module named 'pdf_extractor_spark')".

Imports only ``os`` and ``zipimport``, so it is safe to run first.
"""

from __future__ import annotations

import os
import zipimport


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` with the stat guard.
    Idempotent (a re-import or reload does not wrap twice); a no-op on
    Python < 3.10, whose ``zipimporter`` has no ``invalidate_caches``."""
    reread = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if reread is None or getattr(reread, "stat_guarded", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        if key is None or key != getattr(self, "_files_key", None):
            reread(self)
            self._files_key = key

    invalidate_caches.stat_guarded = True
    invalidate_caches.__wrapped__ = reread
    zipimport.zipimporter.invalidate_caches = invalidate_caches

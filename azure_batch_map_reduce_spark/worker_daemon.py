"""PySpark's Python worker daemon, minus the per-task zip archive re-read.

Every Python-worker task starts in ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()`` — in reused workers too. On
CPython < 3.13 ``zipimport.zipimporter.invalidate_caches`` eagerly re-reads
its archive's central directory, and workers import PySpark from
``pyspark.zip``: every package directory in it (and in the py4j zip) has its
own importer, 16 of them, so each task re-read both archives 16 times,
0.1–0.25 s on a 4-vCPU host against task bodies of about 1 ms. CPython 3.13
made the method lazy (it only drops the cached entry); there nothing is
patched.

The guard keeps the invariant that an importer's ``_files`` always matches
the archive it last read: an importer re-reads only when the archive's
``(st_mtime_ns, st_size)`` differs from the stamp of that importer's own
last read. The stamp is per importer, not per archive, because importers
over one archive hold separate ``_files``: after one of them re-reads a
changed archive, the others must still re-read theirs. An importer never
invalidated here has no stamp and re-reads once. The stamp misses only a
same-size rewrite within one mtime tick; CPython's own directory finder
trusts the directory mtime alone.

``session.get_spark`` selects this module with
``spark.python.daemon.module``, so its Python workers must be able to import
the package — as they already must to unpickle the package's own UDFs,
which cloudpickle sends by reference. The daemon starts before any task, so
the package must be on the workers' ``PYTHONPATH`` (or installed) at start:
files shipped with ``--py-files`` join the path only per task. Sessions
built elsewhere keep PySpark's daemon.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install_archive_guard() -> None:
    """Replace ``zipimporter.invalidate_caches`` with the stamp-guarded
    re-read; a no-op on CPython ≥ 3.13."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self: zipimport.zipimporter) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or getattr(self, "_archive_stamp", None) != stamp:
            reread(self)
            self._archive_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # Install the importable module's guard, not this ``__main__`` copy's,
    # so workers report it under the package's module name.
    from azure_batch_map_reduce_spark import worker_daemon
    from pyspark.daemon import manager

    worker_daemon.install_archive_guard()
    manager()

"""Per-task import-cache cost in PySpark Python workers.

PySpark calls ``importlib.invalidate_caches()`` at the start of EVERY task
(``pyspark.worker_util.setup_spark_files``). On Python 3.10+ that makes
each ``zipimport.zipimporter`` eagerly re-read its whole archive directory.
Workers import ``pyspark`` and py4j from zip archives, one importer per
imported subpackage (16 in a pandas-UDF worker), so every task re-parsed
~27k zip directory entries: ~230 ms per task on a 4-core x86 host
(Python 3.11, PySpark 4.1), more than the whole rest of a no-op Python
task, and about half of a warm single-query ``retrieve``.

``install`` gates the refresh on the archive's stat: an importer re-reads
only when ``(st_dev, st_ino, st_size, st_mtime_ns)`` differs from when it
last read. A replaced or rewritten archive (a re-shipped ``--py-files``
zip) still gets re-read, so imports see exactly what they would without
the gate. The package installs it on import, in worker processes only.
"""

from __future__ import annotations

import os
import zipimport

_STAT_ATTR = "_splade_archive_stat"


def _gated(original):
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            # archive gone or unreadable: the original drops its entries
            self.__dict__.pop(_STAT_ATTR, None)
            return original(self)
        key = (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns)
        if self.__dict__.get(_STAT_ATTR) == key:
            return None
        original(self)
        # stat taken BEFORE the read: a write racing the read changes the
        # key again, so the next call re-reads
        self.__dict__[_STAT_ATTR] = key
        return None

    invalidate_caches.__wrapped__ = original
    invalidate_caches._splade_gate = True
    return invalidate_caches


def is_installed() -> bool:
    return getattr(zipimport.zipimporter.invalidate_caches, "_splade_gate", False)


def install() -> None:
    """Gate ``zipimporter.invalidate_caches`` on the archive stat (idempotent)."""
    if not is_installed():
        zipimport.zipimporter.invalidate_caches = _gated(
            zipimport.zipimporter.invalidate_caches
        )


def install_in_worker() -> None:
    """``install`` when running inside a PySpark worker; no-op on the driver."""
    try:
        from pyspark.core.files import SparkFiles
    except ImportError:
        return
    if SparkFiles._is_running_on_worker:
        install()


def gate_probe(batches):
    """``mapInPandas`` body reporting whether this worker's gate is on.

    ``spark.range(1, numPartitions=1).mapInPandas(gate_probe,
    "gated boolean, pid long")`` — pickled by reference, so the worker
    imports the package (and installs the gate) before running it."""
    import pandas as pd

    for _ in batches:
        pass
    yield pd.DataFrame({"gated": [is_installed()], "pid": [os.getpid()]})

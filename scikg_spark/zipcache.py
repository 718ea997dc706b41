"""Python tasks stop re-reading the zip archives on ``sys.path``.

A PySpark worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). On CPython
3.10-3.12, ``zipimporter.invalidate_caches`` re-reads the archive's whole
central directory, and a worker holds a dozen importers on ``pyspark.zip``
(1,328 entries) plus those on the py4j zip and the spark-core jar. That
made a task with an empty UDF body cost 0.17-0.37 CPU-s of worker time,
88% of it in ``zipimport._read_directory``. CPython 3.13 made the method
lazy.

:func:`install` wraps the method so that an importer re-reads only when its
archive's ``(st_mtime_ns, st_size)`` changed since its last read. It acts
only inside a PySpark worker (``PYTHON_WORKER_FACTORY_SECRET`` is set) on
3.10-3.12; the driver and user processes keep the stdlib behaviour.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self, _reread=zipimport.zipimporter.invalidate_caches):
    """Re-read the archive's directory only when the archive changed."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_scikg_stamp", None):
        _reread(self)
        self._scikg_stamp = stamp


def install():
    if (3, 10) <= sys.version_info[:2] <= (3, 12) and \
            "PYTHON_WORKER_FACTORY_SECRET" in os.environ:
        zipimport.zipimporter.invalidate_caches = _invalidate_caches

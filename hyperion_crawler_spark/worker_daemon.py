"""Python worker daemon for the engine's sessions (``get_spark`` sets
``spark.python.daemon.module`` to this module).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). Before Python
3.13, ``zipimport.zipimporter.invalidate_caches`` re-reads the whole
directory of its archive, and a worker's path carries ``pyspark.zip``
under many cached importers (one per package prefix), so every Python
task re-parsed tens of thousands of zip entries before running any
kernel: most of a small task's time. From 3.13 on the method only drops
the cache, and nothing is wrapped.

``install`` makes an importer re-read its archive only when the file's
``(st_mtime_ns, st_size, st_ino)`` changed since that importer last
read it. The stamp is kept per importer, not per archive: each importer
holds its own ``_files``. Run as ``__main__``, the module installs the
wrap and then runs ``pyspark.daemon.manager()``, so every forked worker
inherits it. Workers already import the engine (kernels are pickled by
reference), so the module must be importable where they start.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STAMP = "_hcs_archive_stamp"


def _archive_stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` (Python < 3.13; idempotent)."""
    if sys.version_info >= (3, 13):
        return
    cls = zipimport.zipimporter
    reread = cls.invalidate_caches
    if getattr(reread, "__module__", None) == __name__:
        return

    def invalidate_caches(self):
        stamp = _archive_stamp(self.archive)
        if stamp is not None and getattr(self, _STAMP, None) == stamp:
            return
        reread(self)
        setattr(self, _STAMP, stamp)

    cls.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    import importlib

    # install through the module's import name, so the wrap names it
    importlib.import_module(__spec__.name).install()
    from pyspark.daemon import manager

    manager()

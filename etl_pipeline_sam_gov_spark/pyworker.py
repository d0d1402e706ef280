"""Keep reused PySpark workers from re-reading zip archives per request.

Every Python worker request (a DataSource planner call, a reader task, a
UDF or pandas-function task) starts with ``importlib.invalidate_caches()``
(``pyspark/worker_util.py::setup_spark_files``). On CPython 3.11 and
3.12 that makes every ``zipimport.zipimporter`` on the worker's path
re-read its archive's whole central directory, once per importer. Spark
puts ``pyspark.zip``, ``py4j-*.zip`` and the spark-core jar (37 MB, about
5,400 entries, no Python modules) on that path, so each request paid
140-240 ms before doing any work (4-core box, CPython 3.11, Spark 4.1).

``session.python_launcher`` drops ``pyspark.zip`` only on a matching
install and never runs for a session the engine did not build; this
module covers those workers too, and it alone handles the jar.

The package ``__init__`` imports this module first, so it runs in every
worker that unpickles engine code. It imports only the standard
library, never pyspark, so importing the package stays light where
Spark never starts. It tells a worker by the flag that PySpark's
``setup_spark_files`` sets on ``SparkFiles`` before a request unpickles
anything, looked up in ``sys.modules``: a process that has not imported
``pyspark.core.files`` is not a worker. In a worker, and only there, it:

- drops ``.jar`` entries from ``sys.path`` and ``sys.path_importer_cache``
  (a jar holds no importable Python);
- makes ``zipimporter.invalidate_caches`` re-read an archive only when
  its ``(st_mtime_ns, st_size, st_ino)`` stamp changed, so an archive
  rewritten in place (``addPyFile`` of a new version) is still picked up.

Workers are reused, so every request after a worker's first one skips
the re-reads. The driver is never touched, and neither is CPython 3.13+,
whose ``invalidate_caches`` only drops the cache entry.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: Archive path -> (st_mtime_ns, st_size, st_ino) of the archive whose
#: directory zipimport's shared cache holds.
_STAMPS: dict[str, tuple[int, int, int]] = {}

#: The stock zipimporter.invalidate_caches: re-reads unconditionally.
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _stamped_invalidate(self: zipimport.zipimporter) -> None:
    """zipimporter.invalidate_caches that re-reads only a changed archive."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _STAMPS.get(self.archive) == stamp:
        self._files = files
        return
    # Stamp taken before the read: a write racing the read leaves an
    # older stamp, so the next call reads again rather than never.
    _reread(self)
    if stamp is None:
        _STAMPS.pop(self.archive, None)
    else:
        _STAMPS[self.archive] = stamp


def _is_jar(path: object) -> bool:
    return isinstance(path, str) and path.endswith(".jar")


def install() -> bool:
    """Apply both changes in a PySpark worker on CPython < 3.13; return
    whether they apply. A no-op in the driver, in a daemon before it
    forks, and on CPython 3.13+."""
    files = sys.modules.get("pyspark.core.files")
    if (
        sys.version_info >= (3, 13)
        or files is None
        or not files.SparkFiles._is_running_on_worker
    ):
        return False
    sys.path[:] = [p for p in sys.path if not _is_jar(p)]
    for p in [p for p in sys.path_importer_cache if _is_jar(p)]:
        del sys.path_importer_cache[p]
    # The cached directories are current: this request's own
    # invalidate_caches() re-read them just before it unpickled the
    # engine code that imported this module.
    for archive in zipimport._zip_directory_cache:
        stamp = _stamp(archive)
        if stamp is not None:
            _STAMPS[archive] = stamp
    zipimport.zipimporter.invalidate_caches = _stamped_invalidate
    return True


install()

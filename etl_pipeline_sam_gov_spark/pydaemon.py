"""Run the executors' PySpark worker daemon on the installed pyspark.

Spark starts each executor's Python daemon with ``SPARK_HOME``'s
``pyspark.zip`` first on ``PYTHONPATH``. That zip holds no compiled
``.pyc``, so every daemon compiles the pyspark modules it imports from
source: 0.39-0.42 s from interpreter start to the first fork, against
0.10-0.11 s with an installed pyspark (4-core box, CPython 3.11,
Spark 4.1). ``session.get_spark`` names this module in
``spark.python.daemon.module``, which executor tasks honour (Spark's
planner workers always run ``pyspark.daemon``). It:

1. moves ``pyspark.zip`` on ``sys.path`` behind the first installed
   pyspark after it, but only when that pyspark's ``pyspark/version.py``
   matches the zip's byte for byte; otherwise the path is left as is,
   and the daemon imports exactly what ``pyspark.daemon`` would;
2. forgets the engine modules its own import loaded, so a forked
   worker imports the package afresh when it unpickles engine code and
   ``pyworker`` installs itself there, as under ``pyspark.daemon``;
3. runs ``pyspark.daemon``.

Importing the package runs only ``pyworker``, which imports no pyspark,
so nothing has loaded pyspark before step 1.
"""

from __future__ import annotations

import os
import sys
import zipimport


def prefer_installed_pyspark(path: list) -> bool:
    """Move the first ``pyspark.zip`` entry of ``path`` (in place) just
    behind the first later entry holding a pyspark, if that pyspark's
    ``version.py`` equals the zip's; return whether it moved."""
    for z, entry in enumerate(path):
        if os.path.basename(entry) == "pyspark.zip":
            break
    else:
        return False
    try:
        pinned = zipimport.zipimporter(path[z]).get_data("pyspark/version.py")
    except (OSError, zipimport.ZipImportError):
        return False
    for i in range(z + 1, len(path)):
        try:
            with open(os.path.join(path[i], "pyspark", "version.py"), "rb") as f:
                installed = f.read()
        except OSError:  # no pyspark here (or an archive, like py4j's zip)
            continue
        if installed != pinned:
            return False
        path.insert(i, path.pop(z))
        return True
    return False


def main() -> None:
    prefer_installed_pyspark(sys.path)
    for name in [m for m in sys.modules if m.partition(".")[0] == __package__]:
        del sys.modules[name]
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()

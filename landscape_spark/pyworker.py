"""Python worker daemon for local masters (``spark.python.daemon.module``).

Spark starts its worker daemon with pyspark.zip, py4j's zip and the
spark-core jar ahead of every other PYTHONPATH entry. PySpark 4.1's worker
calls ``importlib.invalidate_caches()`` once per task, and under Python 3.11
that makes each zipimporter in ``sys.path_importer_cache`` re-read its
archive's directory: 0.11-0.22 s per task on a 4-vCPU VM, before the task's
kernel sees a batch. Before it starts Spark's own daemon loop, this module
drops the jars (the spark-core jar holds no ``.py`` file), moves the zips
behind the directory entries so pyspark and py4j load from their installed
packages, and forgets the archives' importers. The workers fork from the
daemon and inherit its path. When the first installed pyspark on the path is
not the zip's version (its ``version.py`` differs), Spark's order is kept.

Run as ``python -m landscape_spark.pyworker``; ``session.get_spark`` sets it
for ``local[...]`` masters only, because elsewhere executors receive the
engine through ``--py-files`` after their daemon has started.
"""

from __future__ import annotations

import os
import sys
import zipfile


def installed_first(path: list[str]) -> list[str]:
    """``path`` with its ``.jar`` entries dropped and its ``.zip`` entries
    moved behind the directories, or ``path`` itself unless the first
    directory holding a pyspark has pyspark.zip's ``pyspark/version.py``."""
    zips = [p for p in path if p.endswith(".zip")]
    dirs = [p for p in path if not p.endswith((".zip", ".jar"))]
    try:
        zipped = next(p for p in zips if os.path.basename(p) == "pyspark.zip")
        with zipfile.ZipFile(zipped) as z:
            want = z.read("pyspark/version.py")
    except (StopIteration, OSError, KeyError, zipfile.BadZipFile):
        return path
    for d in dirs:
        try:
            with open(os.path.join(d or os.curdir, "pyspark", "version.py"), "rb") as f:
                return dirs + zips if f.read() == want else path
        except OSError:
            continue
    return path


if __name__ == "__main__":
    archives = tuple(p for p in sys.path if p.endswith((".zip", ".jar")))
    reordered = installed_first(sys.path)
    if reordered is not sys.path:
        sys.path[:] = reordered
        for key in [k for k in sys.path_importer_cache if k.startswith(archives)]:
            del sys.path_importer_cache[key]

    from pyspark import daemon

    daemon.manager()

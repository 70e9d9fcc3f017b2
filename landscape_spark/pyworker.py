"""Python worker daemon for local masters (``spark.python.daemon.module``).

Spark starts its worker daemon with pyspark.zip, py4j's zip and the
spark-core jar ahead of every other PYTHONPATH entry. PySpark 4.1's worker
calls ``importlib.invalidate_caches()`` once per task, and under Python 3.11
that makes each zipimporter in ``sys.path_importer_cache`` re-read its
archive's directory: 0.11-0.22 s per task on a 4-vCPU VM, before the task's
kernel sees a batch. Before it starts Spark's own daemon loop, this module
drops the jars (the spark-core jar holds no ``.py`` file) and, when the
first installed pyspark and py4j on the path are the archives' own (their
``version.py`` files match byte for byte), drops both archives too, so no
import can fall through to them, and forgets the archives' importers. The
workers fork from the daemon and inherit its path. When only pyspark
matches, the zips move behind the directory entries; when pyspark does not,
Spark's order is kept.

Run as ``python -m landscape_spark.pyworker``; ``session.get_spark`` sets it
for ``local[...]`` masters only, because elsewhere executors receive the
engine through ``--py-files`` after their daemon has started.
"""

from __future__ import annotations

import fnmatch
import os
import sys
import zipfile


def _matching_archive(zips: list[str], dirs: list[str], pattern: str, package: str) -> str | None:
    """The first of ``zips`` named like ``pattern``, if the first of
    ``dirs`` holding ``package`` has the archive's ``package/version.py``;
    else None."""
    try:
        zipped = next(p for p in zips if fnmatch.fnmatch(os.path.basename(p), pattern))
        with zipfile.ZipFile(zipped) as z:
            want = z.read(f"{package}/version.py")
    except (StopIteration, OSError, KeyError, zipfile.BadZipFile):
        return None
    for d in dirs:
        try:
            with open(os.path.join(d or os.curdir, package, "version.py"), "rb") as f:
                return zipped if f.read() == want else None
        except OSError:
            continue
    return None


def installed_first(path: list[str]) -> list[str]:
    """``path`` with its ``.jar`` entries dropped and its ``.zip`` entries
    moved behind the directories, pyspark.zip and py4j's zip dropped as
    well when both installed packages match them; or ``path`` itself unless
    the installed pyspark matches pyspark.zip."""
    zips = [p for p in path if p.endswith(".zip")]
    dirs = [p for p in path if not p.endswith((".zip", ".jar"))]
    pyspark = _matching_archive(zips, dirs, "pyspark.zip", "pyspark")
    if pyspark is None:
        return path
    py4j = _matching_archive(zips, dirs, "py4j-*-src.zip", "py4j")
    if py4j is None:
        return dirs + zips
    return dirs + [p for p in zips if p not in (pyspark, py4j)]


if __name__ == "__main__":
    archives = tuple(p for p in sys.path if p.endswith((".zip", ".jar")))
    reordered = installed_first(sys.path)
    if reordered is not sys.path:
        sys.path[:] = reordered
        for key in [k for k in sys.path_importer_cache if k.startswith(archives)]:
            del sys.path_importer_cache[key]

    from pyspark import daemon

    daemon.manager()

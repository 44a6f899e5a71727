"""Python worker daemon for local masters: ``pyspark.daemon`` without the
per-task re-read of Spark's Python archives.

Spark starts the daemon with ``$SPARK_HOME/python/lib/pyspark.zip``, the
py4j source zip and the ``spark-core`` jar first on ``sys.path``. Every task
then calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on CPython 3.11 each cached
``zipimporter`` re-reads its archive's central directory: one for each
imported sub-package of pyspark.zip (about 20 on a pandas-UDF worker) and
two for the jar. Measured on a 4-core host at 0.27-0.46 s per task, paid
twice by a stateful task with timeouts.

When a directory copy of pyspark and py4j with the same ``version.py`` as
the archives is importable further down ``sys.path`` (a pip-installed
pyspark next to a Spark distribution of the same release), this module
drops the archives from ``sys.path`` and their importers from
``sys.path_importer_cache`` before pyspark is imported, then runs
``pyspark.daemon``. Otherwise it leaves ``sys.path`` as it is, and the
daemon behaves exactly like ``pyspark.daemon``.

``session.get_spark`` selects it (``spark.python.daemon.module``) for local
masters only. The module imports nothing but the standard library before
the path is settled, so pyspark is loaded from the path it leaves.
"""

from __future__ import annotations

import os
import sys
import zipfile

_PACKAGES = ("pyspark", "py4j")


def _read_archive(archive: str, name: str) -> bytes | None:
    try:
        with zipfile.ZipFile(archive) as z:
            return z.read(f"{name}/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _read_dir(entry: str, name: str) -> bytes | None:
    try:
        with open(os.path.join(entry, name, "version.py"), "rb") as f:
            return f.read()
    except OSError:
        return None


def strip_archives(path: list[str]) -> list[str]:
    """``path`` without Spark's Python archives, or ``path`` unchanged.

    Spark's archives are the zips that carry pyspark or py4j, plus the
    ``spark-core`` jar. They are dropped only when each of pyspark and py4j
    has a directory copy on ``path`` whose ``version.py`` is byte-identical
    to the one the first archive carrying it holds; any other entry (a
    ``--py-files`` zip, say) always stays."""
    dirs = [p for p in path if os.path.isdir(p)]
    drop: list[str] = []
    for name in _PACKAGES:
        carried = [p for p in path
                   if os.path.isfile(p) and _read_archive(p, name) is not None]
        if not carried:
            return path
        copy = next(
            (v for v in (_read_dir(d, name) for d in dirs) if v is not None), None
        )
        if copy != _read_archive(carried[0], name):
            return path
        drop += carried
    drop += [p for p in path if p.endswith(".jar")
             and os.path.basename(p).startswith("spark-core")]
    return [p for p in path if p not in drop]


def settle_path() -> None:
    """Apply :func:`strip_archives` to ``sys.path`` and purge the dropped
    archives' importers from ``sys.path_importer_cache`` (the cache, not
    ``sys.path``, is what ``importlib.invalidate_caches`` walks)."""
    kept = strip_archives(sys.path)
    if kept is sys.path:
        return
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in dropped):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    settle_path()
    from pyspark.daemon import manager

    manager()

"""Python worker daemon that imports pyspark from its installed copy.

``session.get_spark`` names this module in ``spark.python.daemon.module``
on local masters, and Spark starts it as ``python -m``. With
``SPARK_HOME`` set, Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j source zip and the spark-core jar first on every worker's path.
Imported from there, pyspark compiles from source in every daemon, and
every task's ``importlib.invalidate_caches()`` re-reads the directory of
each archive importer (1,328 entries per pyspark.zip importer, about
5,400 per jar importer). This module drops the three archives from
``sys.path`` and from ``sys.path_importer_cache`` (the cache is what
``invalidate_caches()`` walks, and ``-m`` filled it while finding this
module), then runs pyspark's own daemon. It drops nothing unless a
pyspark of the archive's version is importable without them, and it
keeps every other entry, such as a ``--py-files`` package zip."""

from __future__ import annotations

import fnmatch
import importlib.machinery
import os
import re
import sys
import zipfile

_SPARK_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")
_VERSION = re.compile(r"""^__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""",
                      re.MULTILINE)


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def spark_archives(path: list[str]) -> list[str]:
    """The entries of ``path`` that are Spark's pyspark, py4j and
    spark-core archives, or none of them when no pyspark.zip is among them
    or no pyspark of the same ``__version__`` is importable from the rest
    of ``path``."""
    archives = [p for p in path
                if any(fnmatch.fnmatch(os.path.basename(p), pattern)
                       for pattern in _SPARK_ARCHIVES)]
    bundles = [p for p in archives if os.path.basename(p) == "pyspark.zip"]
    if not bundles:
        return []
    rest = [p for p in path if p not in archives]
    spec = importlib.machinery.PathFinder.find_spec("pyspark", rest)
    if spec is None or not spec.submodule_search_locations:
        return []
    try:
        with zipfile.ZipFile(bundles[0]) as z:
            bundled = _version(z.read("pyspark/version.py").decode())
        with open(os.path.join(spec.submodule_search_locations[0],
                               "version.py")) as f:
            installed = _version(f.read())
    except (OSError, KeyError, zipfile.BadZipFile):
        return []
    return archives if bundled is not None and bundled == installed else []


def main() -> None:
    drop = spark_archives(sys.path)
    if drop:
        sys.path[:] = [p for p in sys.path if p not in drop]
        for key in list(sys.path_importer_cache):
            if any(key == a or key.startswith(a + os.sep) for a in drop):
                del sys.path_importer_cache[key]
    from pyspark import daemon
    daemon.manager()


if __name__ == "__main__":
    main()

"""Spark's Python worker daemon, started with PySpark imported from the
interpreter's installation rather than from Spark's own archives.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, ``py4j-*-src.zip``
and its ``spark-core_*.jar`` (for deployments that ship PySpark inside
the jar) first on every Python worker's ``PYTHONPATH``.  PySpark's
worker calls ``importlib.invalidate_caches()`` on every task, and on
Python 3.11 that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read its archive's whole directory: the
zip's ~1.3k files once per PySpark subpackage imported from it, and the
jar's ~5.4k.  On a 4-vCPU host a trivial task cost its worker
~275 ms of CPU with the archives on the path and ~20 ms without.

So, before anything imports ``pyspark``, this module drops those
archives from ``sys.path`` (and their importers from
``sys.path_importer_cache``) when an installed ``pyspark`` of the zip's
version and an installed ``py4j`` resolve without them.  Otherwise they
stay.  It then runs ``pyspark.daemon.manager()`` unchanged.

It is a top-level module beside ``flink_skyline_qos_spark``, not inside
it, because the package's ``__init__`` imports ``pyspark`` and would
load it from the zip first.  ``session.get_spark`` names it in
``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_SPARK_ARCHIVE = re.compile(r"^((pyspark|py4j-.*-src)\.zip|spark-core_.*\.jar)$")
_VERSION = re.compile(r"""__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""")


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def worker_path(path: list[str]) -> list[str]:
    """`path` without Spark's ``pyspark.zip``, ``py4j-*-src.zip`` and
    ``spark-core_*.jar`` entries when ``pyspark`` and ``py4j`` resolve
    from the rest of it and the resolved ``pyspark/version.py`` names the
    zip's version; `path` unchanged otherwise."""
    archives = [p for p in path if _SPARK_ARCHIVE.match(os.path.basename(p))]
    rest = [p for p in path if p not in archives]
    pyspark_zip = next(
        (p for p in archives if os.path.basename(p) == "pyspark.zip"), None)
    if pyspark_zip is None:
        return path
    spec = PathFinder.find_spec("pyspark", rest)
    if (spec is None or not spec.submodule_search_locations
            or PathFinder.find_spec("py4j", rest) is None):
        return path
    try:
        with zipfile.ZipFile(pyspark_zip) as zf:
            zipped = _version(zf.read("pyspark/version.py").decode())
        installed_dir = list(spec.submodule_search_locations)[0]
        with open(os.path.join(installed_dir, "version.py")) as fh:
            installed = _version(fh.read())
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return rest if zipped is not None and zipped == installed else path


def _drop_archives() -> None:
    kept = worker_path(sys.path)
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    # Interpreter start-up may already have built importers for them
    # (the `sitecustomize` lookup walks every path entry), and
    # invalidate_caches() reaches them through this cache.
    for key in list(sys.path_importer_cache):
        if any(key == z or key.startswith(z + os.sep) for z in dropped):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    _drop_archives()
    from pyspark import daemon

    daemon.manager()

"""Python worker daemon that imports PySpark from site-packages.

Spark starts its Python worker daemon with ``$SPARK_HOME/python/lib/
pyspark.zip``, the py4j source zip and the spark-core jar first on
``sys.path``, so every worker imports PySpark from the zip. Each task
then calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), which under CPython 3.11
re-reads the directory of every ``zipimporter`` in
``sys.path_importer_cache``: 16 of them, about 0.12 s per task on a
4-core host.

Run as ``spark.python.daemon.module`` (``session.get_spark`` sets it),
this module drops those three entries, and the importers under them,
before it imports :mod:`pyspark.daemon`; the forked workers inherit
the trimmed path. It does so only when the rest of the path imports
the same PySpark and py4j: each package's ``version.py`` there must be
byte-equal to the copy inside Spark's zip. Otherwise the path stays
exactly as Spark set it.
"""

from __future__ import annotations

import fnmatch
import os
import sys
import zipimport


def _version(entry: str, package: str) -> bytes | None:
    """``<package>/version.py`` under one ``sys.path`` entry, a
    directory or a zip (read, not imported); None where it has none."""
    rel = f"{package}/version.py"
    try:
        if os.path.isdir(entry or "."):
            with open(os.path.join(entry, rel), "rb") as f:
                return f.read()
        return zipimport.zipimporter(entry).get_data(rel)
    except (OSError, zipimport.ZipImportError):
        return None


def trim_spark_entries(path: list, cache: dict) -> list:
    """Drop Spark's own entries from ``path`` and their importers from
    ``cache`` (both in place) when the remaining path imports the same
    PySpark and py4j. Spark's entries are its ``python/lib/pyspark.zip``
    and the ``python/lib/py4j-*-src.zip`` and ``jars/spark-core_*.jar``
    of the same Spark home; a user's own zip stays. Returns the dropped
    entries, ``[]`` where nothing changed."""
    zips = [e for e in path if os.path.basename(e) == "pyspark.zip"]
    if not zips:
        return []
    home = os.path.dirname(os.path.dirname(os.path.dirname(zips[0])))
    patterns = [
        os.path.realpath(os.path.join(home, *p))
        for p in (
            ("python", "lib", "pyspark.zip"),
            ("python", "lib", "py4j-*-src.zip"),
            ("jars", "spark-core_*.jar"),
        )
    ]
    drop = [
        e for e in path
        if any(fnmatch.fnmatchcase(os.path.realpath(e), p) for p in patterns)
    ]
    rest = [e for e in path if e not in drop]
    for package in ("pyspark", "py4j"):
        bundled = [v for v in (_version(e, package) for e in drop) if v is not None]
        installed = next((v for v in (_version(e, package) for e in rest) if v is not None), None)
        # a pyspark.zip away from a Spark home, or another copy installed
        if (package == "pyspark" and not bundled) or any(v != installed for v in bundled):
            return []
    path[:] = rest
    for key in [k for k in cache if any(k == e or k.startswith(e + os.sep) for e in drop)]:
        del cache[key]
    return drop


if __name__ == "__main__":
    trim_spark_entries(sys.path, sys.path_importer_cache)
    from pyspark import daemon

    daemon.manager()

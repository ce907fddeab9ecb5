"""Python daemon entry for local Spark workers: pyspark from its compiled copy.

Spark starts each session's Python daemon as ``python -m pyspark.daemon`` with
``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip and the spark-core
jar at the front of ``sys.path``. That costs twice:

- ``pyspark.zip`` holds no ``.pyc`` files, so every new daemon compiles
  pyspark from source (``import pyspark.daemon``: 1.0-1.4 CPU-s on a 4-core
  host, against 0.24-0.4 from the installed package's compiled copy);
- every task calls ``importlib.invalidate_caches()``
  (``pyspark.worker_util.setup_spark_files``), which makes each cached
  ``zipimporter`` re-read its whole archive directory: 16 importers over
  these three archives after a pandas UDF, 0.18-0.38 CPU-s per task.

``session.get_spark`` names this module in ``spark.python.daemon.module`` for
local masters. It drops those archives from ``sys.path`` when the installed
pyspark and py4j are the versions the archives hold, forgets the zip importers
that Python's start-up already made for them, and then runs ``pyspark.daemon``
as ``__main__``. The forked workers inherit the cleaned path. When a version
differs, or pyspark or py4j is not installed, Spark's path is kept as it is.

Nothing here may import pyspark before the path is cleaned, and neither may
the package ``__init__`` that ``-m`` imports first.
"""

from __future__ import annotations

import os
import re
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION_RE = re.compile(r"""^__version__\b[^=]*=\s*["']([^"']+)["']""", re.M)
_PY4J_ZIP_RE = re.compile(r"py4j-(.+)-src\.zip")


def _zip_pyspark_version(archive: str) -> str | None:
    """``__version__`` of ``pyspark/version.py`` inside ``archive``, unimported."""
    try:
        with zipfile.ZipFile(archive) as zf:
            m = _VERSION_RE.search(zf.read("pyspark/version.py").decode("utf-8"))
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    return m.group(1) if m else None


def _spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return name == "pyspark.zip" or name.endswith(".jar") or bool(_PY4J_ZIP_RE.fullmatch(name))


def worker_path(path: list[str], pyspark_version: str | None,
                py4j_version: str | None) -> list[str]:
    """``path`` without Spark's pyspark and py4j zips and its jars, when the
    installed pyspark and py4j have the zips' versions; else ``path`` as is.

    The zips' versions come from ``pyspark/version.py`` inside ``pyspark.zip``
    and from the py4j zip's file name. Jars hold no Python.
    """
    if pyspark_version is None or py4j_version is None:
        return path
    for entry in path:
        name = os.path.basename(entry)
        py4j = _PY4J_ZIP_RE.fullmatch(name)
        if name == "pyspark.zip" and _zip_pyspark_version(entry) != pyspark_version:
            return path
        if py4j and py4j.group(1) != py4j_version:
            return path
    return [entry for entry in path if not _spark_archive(entry)]


def _installed_version(package: str, path: list[str]) -> str | None:
    """``__version__`` in ``<package>/version.py`` where ``path`` would
    import ``package`` from, read without importing it."""
    spec = PathFinder.find_spec(package, path)
    if spec is None or not spec.origin:
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"), encoding="utf-8") as f:
            m = _VERSION_RE.search(f.read())
    except OSError:
        return None
    return m.group(1) if m else None


def main() -> None:
    rest = [entry for entry in sys.path if not _spark_archive(entry)]
    cleaned = worker_path(sys.path, _installed_version("pyspark", rest),
                          _installed_version("py4j", rest))
    for entry in set(sys.path) - set(cleaned):
        sys.path_importer_cache.pop(entry, None)  # else every task re-reads it
    sys.path[:] = cleaned
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()

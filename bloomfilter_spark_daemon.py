"""Python worker daemon for sessions built by ``bloomfilter_spark.config.get_spark``.

Spark starts every Python worker daemon with ``$SPARK_HOME/python/lib``'s
``pyspark.zip``, ``py4j-*-src.zip`` and the ``spark-core*.jar`` at the head
of ``PYTHONPATH``, so workers import pyspark from those archives. PySpark
calls ``importlib.invalidate_caches()`` at the start of every task, and on
CPython 3.11 ``zipimporter.invalidate_caches`` re-reads the archive's whole
directory at once: each task re-reads every cached archive importer
(thousands of entries in the jar), which is most of a small task's worker
time.

This module runs instead of ``pyspark.daemon`` (``spark.python.daemon.module``).
Before anything imports pyspark it takes exactly Spark's own archives off
``sys.path`` and drops their importers from ``sys.path_importer_cache``, so
workers import the installed pyspark and py4j and the per-task invalidation
touches no archive. It then runs ``pyspark.daemon`` unchanged. When the
installed pyspark or py4j is missing or not at the archives' version,
``sys.path`` is left as found.

Top-level and stdlib-only on purpose: importing ``bloomfilter_spark``
(whose ``__init__`` imports pyspark) would load pyspark from the archives
before they are removed.
"""

from __future__ import annotations

import fnmatch
import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

SPARK_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "spark-core*.jar")

_VERSION = re.compile(r"""__version__\b[^=]*=\s*['"]([^'"]+)['"]""")
_PY4J_ARCHIVE = re.compile(r"py4j-(.+)-src\.zip")


def is_spark_archive(entry: str) -> bool:
    """True for Spark's own import archives, by file name."""
    name = os.path.basename(entry)
    return any(fnmatch.fnmatchcase(name, pat) for pat in SPARK_ARCHIVES)


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def _installed_version(name: str, path: list[str]) -> str | None:
    """``__version__`` of the package ``name`` found on ``path``, or None."""
    spec = PathFinder.find_spec(name, path)
    if spec is None or not spec.submodule_search_locations:
        return None
    pkg = list(spec.submodule_search_locations)[0]
    with open(os.path.join(pkg, "version.py"), encoding="utf-8") as f:
        return _version(f.read())


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives, or ``path`` itself when the
    installed pyspark/py4j cannot stand in for the archived ones.

    Outside the archives pyspark must be installed at the version in
    ``pyspark.zip``'s ``pyspark/version.py``, and py4j at the version in
    the ``py4j-<version>-src.zip`` name. Never raises.
    """
    zips = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        return path
    kept = [p for p in path if not is_spark_archive(p)]
    archived_py4j = [m.group(1) for m in map(
        _PY4J_ARCHIVE.fullmatch, map(os.path.basename, path)) if m]
    try:
        with zipfile.ZipFile(zips[0]) as zf:
            want = _version(zf.read("pyspark/version.py").decode())
        py4j = _installed_version("py4j", kept)
        ok = (want is not None and _installed_version("pyspark", kept) == want
              and py4j is not None and all(v == py4j for v in archived_py4j))
    except Exception:  # noqa: BLE001 - any doubt keeps Spark's own layout
        return path
    return kept if ok else path


def _drop_archives() -> None:
    new = worker_path(sys.path)
    if new is sys.path:
        return
    gone = [p for p in sys.path if p not in new]
    sys.path[:] = new
    for key in list(sys.path_importer_cache):
        if isinstance(key, str) and any(
                key == p or key.startswith(p + os.sep) for p in gone):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    import runpy

    _drop_archives()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)

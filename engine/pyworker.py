"""Python worker daemon that imports the installed pyspark, not Spark's zips.

Spark starts its Python daemon with ``PYTHONPATH`` led by the
distribution's ``python/lib/pyspark.zip``, ``py4j-*-src.zip`` and the
``spark-core`` jar. Every task then runs ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on Python 3.11 each
cached zip importer re-reads its whole archive directory: about 6.7k
entries, 126-281 ms per task before any user code runs. ``get_spark``
names this module as ``spark.python.daemon.module``; it drops those
archives from ``sys.path`` and ``sys.path_importer_cache`` and only then
imports pyspark, so the daemon and every worker it forks use the
installed package and the per-task invalidation has no archive to
re-read.

The archives are dropped only when the installed pyspark (and py4j, when
its zip is on the path) carries the same ``version.py`` as the zip, so a
worker always speaks the JVM's protocol; otherwise the path is left as
Spark built it.

Run as ``python -m engine.pyworker [worker-module]``; the arguments are
read by ``pyspark.daemon``.
"""
from __future__ import annotations

import importlib.machinery
import os
import sys
import zipfile


def _archive_package(entry: str) -> str | None:
    """The package a Spark-shipped archive on the path provides, "" for
    the spark-core jar (no Python package), None for any other entry."""
    name = os.path.basename(entry)
    if name == "pyspark.zip":
        return "pyspark"
    if name.startswith("py4j-") and name.endswith("-src.zip"):
        return "py4j"
    if name.endswith(".jar"):
        return ""
    return None


def _zip_version(archive: str, package: str) -> bytes | None:
    try:
        with zipfile.ZipFile(archive) as z:
            return z.read(f"{package}/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _installed_version(package: str, path: list[str]) -> bytes | None:
    spec = importlib.machinery.PathFinder.find_spec(package, path)
    if spec is None or not spec.submodule_search_locations:
        return None
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py"), "rb") as f:
            return f.read()
    except OSError:
        return None


def unzipped_path(path: list[str]) -> list[str]:
    """``path`` without Spark's pyspark/py4j zips and jars, or ``path``
    unchanged unless the pyspark zip is present and every dropped zip's
    ``version.py`` matches the installed package's."""
    archives = {p: _archive_package(p) for p in path}
    rest = [p for p in path if archives[p] is None]
    zips = [(p, pkg) for p, pkg in archives.items() if pkg]
    if not any(pkg == "pyspark" for _, pkg in zips):
        return list(path)
    for archive, pkg in zips:
        shipped = _zip_version(archive, pkg)
        if shipped is None or shipped != _installed_version(pkg, rest):
            return list(path)
    return rest


def main() -> None:
    keep = unzipped_path(sys.path)
    dropped = [p for p in sys.path if p not in keep]
    sys.path[:] = keep
    for key in list(sys.path_importer_cache):
        if any(key == p or key.startswith(p + os.sep) for p in dropped):
            del sys.path_importer_cache[key]
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()

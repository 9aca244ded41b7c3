"""Python worker daemon that imports the interpreter's installed pyspark
and py4j.

Spark starts each Python worker daemon with ``$SPARK_HOME/python/lib/
pyspark.zip`` and ``py4j-*-src.zip`` first on ``PYTHONPATH``.  zipimport
keeps no bytecode, so every daemon compiles pyspark, and the py4j that
``pyspark/__init__`` imports, from source before it can fork a worker.
On a 4-core host a fresh SparkContext's first Python job took 1.6-2.5 s
that way and 1.0-1.4 s without the pyspark compile
(``PERF_worker_bytecode.json``); ``import py4j.java_gateway,
py4j.clientserver`` alone takes 0.11-0.16 s from the zip and 0.06-0.07 s
from site-packages.  For each of the two zips whose package the
interpreter has installed at the same release, this daemon takes the zip
off ``sys.path`` first, so the package is imported from the installed
copy and its cached bytecode, and the forked workers inherit the
imported modules.  Any other case (not installed, another release, an
unreadable zip) leaves that zip where Spark put it.

Spark runs the daemon as ``python -m <spark.python.daemon.module>``, so
``deploy.worker_daemon`` copies this file under a top-level name: run as
``outliertree_spark.workerd``, the package ``__init__`` would import
pyspark from the zip before the path is fixed.  For the same reason
nothing here imports the package or pyspark at module level.
"""

import fnmatch
import importlib.machinery
import os
import sys
import zipfile

# the zips Spark puts on a Python worker's path, by the package each holds
SHIPPED = {"pyspark": "pyspark.zip", "py4j": "py4j-*-src.zip"}


def worker_path(path: list) -> list:
    """``path`` without each zip of ``SHIPPED`` whose package the rest of
    ``path`` imports at the zip's release, byte for byte in
    ``<package>/version.py``; the other entries stay in their order."""
    for package, pattern in SHIPPED.items():
        path = _drop_shipped(path, package, pattern)
    return path


def _drop_shipped(path: list, package: str, pattern: str) -> list:
    zips = [p for p in path
            if fnmatch.fnmatchcase(os.path.basename(p), pattern)]
    if not zips:
        return path
    rest = [p for p in path if p not in zips]
    spec = importlib.machinery.PathFinder.find_spec(package, rest)
    if spec is None or not spec.submodule_search_locations:
        return path
    installed = os.path.join(list(spec.submodule_search_locations)[0],
                             "version.py")
    try:
        with open(installed, "rb") as f:
            mine = f.read()
        with zipfile.ZipFile(zips[0]) as zf:
            shipped = zf.read(f"{package}/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return rest if mine == shipped else path


def main() -> None:
    sys.path[:] = worker_path(list(sys.path))
    from pyspark import daemon
    daemon.manager()


if __name__ == "__main__":
    main()

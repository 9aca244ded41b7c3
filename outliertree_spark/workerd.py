"""Python worker daemon that imports the interpreter's installed pyspark.

Spark starts each Python worker daemon with ``$SPARK_HOME/python/lib/
pyspark.zip`` first on ``PYTHONPATH``.  zipimport keeps no bytecode, so
every daemon compiles pyspark from source before it can fork a worker.
On a 4-core host a fresh SparkContext's first Python job took 1.6-2.5 s
that way and 1.0-1.4 s without the compile (``PERF_worker_bytecode.json``).
When the interpreter has the same pyspark release installed, this daemon
takes the zip off ``sys.path`` first, so pyspark is imported from the
installed package and its cached bytecode, and the forked workers
inherit the imported modules.  Any other case (no installed pyspark,
another release, an unreadable zip) leaves ``sys.path`` exactly as Spark
set it.

Spark runs the daemon as ``python -m <spark.python.daemon.module>``, so
``deploy.worker_daemon`` copies this file under a top-level name: run as
``outliertree_spark.workerd``, the package ``__init__`` would import
pyspark from the zip before the path is fixed.  For the same reason
nothing here imports the package or pyspark at module level.
"""

import importlib.machinery
import os
import sys
import zipfile


def worker_path(path: list) -> list:
    """``path`` without its ``pyspark.zip`` entries when the pyspark that
    the rest of ``path`` imports is the zip's release, byte for byte in
    ``pyspark/version.py``; otherwise ``path`` itself."""
    zips = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        return path
    rest = [p for p in path if p not in zips]
    spec = importlib.machinery.PathFinder.find_spec("pyspark", rest)
    if spec is None or not spec.submodule_search_locations:
        return path
    installed = os.path.join(list(spec.submodule_search_locations)[0],
                             "version.py")
    try:
        with open(installed, "rb") as f:
            mine = f.read()
        with zipfile.ZipFile(zips[0]) as zf:
            shipped = zf.read("pyspark/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return rest if mine == shipped else path


def main() -> None:
    sys.path[:] = worker_path(list(sys.path))
    from pyspark import daemon
    daemon.manager()


if __name__ == "__main__":
    main()

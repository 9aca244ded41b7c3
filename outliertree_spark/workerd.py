"""Python worker daemon that imports the interpreter's installed pyspark
and py4j, and leaves no archive for a task to re-read.

Spark starts each Python worker daemon with ``$SPARK_HOME/python/lib/
pyspark.zip`` and ``py4j-*-src.zip`` first on ``PYTHONPATH``, and for a
local master also ``spark-core_*.jar``, which holds no Python module.
zipimport keeps no bytecode, so every daemon compiles pyspark, and the
py4j that ``pyspark/__init__`` imports, from source before it can fork a
worker.  On a 4-core host a fresh SparkContext's first Python job took
1.6-2.5 s that way and 1.0-1.4 s without the pyspark compile
(``PERF_worker_bytecode.json``); ``import py4j.java_gateway,
py4j.clientserver`` alone takes 0.11-0.16 s from the zip and 0.06-0.07 s
from site-packages.

PySpark also runs ``importlib.invalidate_caches()`` at the start of every
task (``pyspark/worker_util.py`` ``setup_spark_files``), and on Python
3.11 that re-reads the central directory of every zip importer in
``sys.path_importer_cache``, whether its archive is still on
``sys.path`` or not: the two zips, the jar and the jar's ``org``
sub-importer, 12,055 entries and 0.06-0.11 s per task on a 4-core host.

So this daemon takes off ``sys.path`` each archive that nothing would be
imported from (``worker_path``): one that holds no Python module, and
one whose every package the rest of the path imports at the archive's
release.  The rule looks at what an archive holds, never at its name.
It then drops the cached importer of every entry it took off
(``use_worker_path``), so the forked workers inherit neither the
entries nor their importers, and import pyspark and py4j from the
installed copies and their cached bytecode.  Anything else (another
release, a module that is not a package, an unreadable archive) stays
where Spark put it.

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
    """``path`` without each archive that nothing would be imported from:
    one that holds no ``.py`` or ``.pyc`` file, or one whose every
    top-level entry with Python files is a package that the rest of the
    path imports at the archive's release, byte for byte in
    ``<package>/version.py``.  Entries are judged in order, each against
    what the earlier drops left; the kept entries stay in their order."""
    out = list(path)
    for entry in path:
        rest = [p for p in out if p != entry]
        if _nothing_imported_from(entry, rest):
            out = rest
    return out


def _nothing_imported_from(entry: str, rest: list) -> bool:
    if not os.path.isfile(entry):
        return False
    try:
        with zipfile.ZipFile(entry) as zf:
            tops = {n.split("/", 1)[0] for n in zf.namelist()
                    if n.endswith((".py", ".pyc"))}
            for top in tops:
                spec = importlib.machinery.PathFinder.find_spec(top, rest)
                if spec is None or not spec.submodule_search_locations:
                    return False
                installed = os.path.join(
                    list(spec.submodule_search_locations)[0], "version.py")
                with open(installed, "rb") as f:
                    if f.read() != zf.read(f"{top}/version.py"):
                        return False
    except (OSError, KeyError, zipfile.BadZipFile):
        return False
    return True


def use_worker_path(path: list, cache: dict) -> None:
    """Set ``path`` (``sys.path``) to ``worker_path(path)`` in place, and
    remove from ``cache`` (``sys.path_importer_cache``) the importer of
    each entry taken off and of every location inside one."""
    kept = worker_path(path)
    dropped = [p for p in path if p not in kept]
    path[:] = kept
    for key in list(cache):
        if any(key == d or str(key).startswith(d + os.sep) for d in dropped):
            del cache[key]


def main() -> None:
    use_worker_path(sys.path, sys.path_importer_cache)
    from pyspark import daemon
    daemon.manager()


if __name__ == "__main__":
    main()

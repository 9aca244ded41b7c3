"""Ship this package to executors (the `spark-submit --py-files` path),
and the Python worker daemon of a local session.

Arrow UDF closures reference module functions by name, so Python workers
must be able to import ``outliertree_spark``.  When the driver didn't launch
via ``spark-submit --py-files``, we zip the package and register it with
``addPyFile`` once per SparkContext.  The zip is built once per process,
from the sources this process imported, in a private temp directory that
is removed at exit: a zip found at a shared path may be another
process's, and an older copy of the engine.

The same directory holds a copy of ``workerd`` under the top-level name
``DAEMON_MODULE``, the daemon ``session.get_spark`` names in
``spark.python.daemon.module`` for a local master: it starts the Python
workers from the installed, bytecode-compiled pyspark instead of
compiling ``$SPARK_HOME``'s ``pyspark.zip`` in every SparkContext.  The
directory exists only on the driver host, so only a local master can
use it.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import zipfile

from . import workerd

_ATTR = "_outliertree_spark_pyfile"
DAEMON_MODULE = "outliertree_spark_workerd"
# this process's private directory and package zip, made on first use
_DIR: str | None = None
_ZIP: str | None = None


def _private_dir() -> str:
    global _DIR
    if _DIR is None:
        _DIR = tempfile.mkdtemp(prefix="outliertree_spark_")
        atexit.register(shutil.rmtree, _DIR, ignore_errors=True)
    return _DIR


def worker_daemon() -> str:
    """The directory to put on the workers' ``PYTHONPATH`` so that
    ``python -m DAEMON_MODULE`` runs ``workerd``."""
    path = os.path.join(_private_dir(), DAEMON_MODULE + ".py")
    if not os.path.exists(path):
        # get_source, not a file copy: under --py-files the package is
        # imported from a zip
        src = workerd.__spec__.loader.get_source(workerd.__name__)
        with open(path, "w") as f:
            f.write(src)
    return os.path.dirname(path)


def _package_zip(pkg_dir: str) -> str:
    global _ZIP
    if _ZIP is None:
        zpath = os.path.join(_private_dir(), "outliertree_spark.zip")
        with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for fn in files:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    rel = os.path.join("outliertree_spark",
                                       os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
        _ZIP = zpath
    return _ZIP


def ensure_package_on_executors(spark) -> None:
    sc = spark.sparkContext
    if getattr(sc, _ATTR, False):
        return
    try:
        import outliertree_spark
        pkg_dir = os.path.dirname(os.path.abspath(outliertree_spark.__file__))
    except Exception:
        return
    sc.addPyFile(_package_zip(pkg_dir))
    setattr(sc, _ATTR, True)

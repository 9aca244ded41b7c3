"""Ship this package to executors (the `spark-submit --py-files` path).

Arrow UDF closures reference module functions by name, so Python workers
must be able to import ``outliertree_spark``.  When the driver didn't launch
via ``spark-submit --py-files``, we zip the package and register it with
``addPyFile`` once per SparkContext.  The zip is built once per process,
from the sources this process imported, in a private temp directory that
is removed at exit: a zip found at a shared path may be another
process's, and an older copy of the engine.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import zipfile

_ATTR = "_outliertree_spark_pyfile"
# path of this process's package zip, built on first use
_ZIP: str | None = None


def _package_zip(pkg_dir: str) -> str:
    global _ZIP
    if _ZIP is None:
        zdir = tempfile.mkdtemp(prefix="outliertree_spark_")
        atexit.register(shutil.rmtree, zdir, ignore_errors=True)
        zpath = os.path.join(zdir, "outliertree_spark.zip")
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

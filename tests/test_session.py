"""Session set-up: the warm-up runs once per process and leaves no files
behind, the package zip shipped to executors holds this process's
sources, the master is the caller's or the launcher's, a local
session's Python workers import the installed pyspark and py4j, not
Spark's ``pyspark.zip`` and ``py4j-*-src.zip``, and hold no importer
of an archive off their path, and ``stop()`` does not wait out a
one-second accumulator poll."""

import hashlib
import inspect
import json
import os
import subprocess
import sys
import tempfile
import zipfile
from types import SimpleNamespace

import pandas as pd
import pytest

import outliertree_spark
from outliertree_spark import deploy, session, workerd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TWO_CONTEXTS = """
import json, sys
sys.path.insert(0, {root!r})
from outliertree_spark import session

calls = []
inner = session._warm_engine_inner

def counted(spark):
    inner(spark)
    calls.append(spark.sparkContext.applicationId)

session._warm_engine_inner = counted
apps = []
for _ in range(2):
    s = session.get_spark(master="local[1]", shuffle_partitions=1)
    apps.append(s.sparkContext.applicationId)
    s.stop()
print(json.dumps({{"apps": apps, "calls": calls}}))
"""


def test_warm_up_leaves_temp_dir_as_found(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    session._warm_engine_inner(spark)
    assert os.listdir(tmp_path) == []


def test_second_context_runs_no_warm_up():
    """JIT and class-loading state is JVM-wide: the first context of a
    process warms up, a later one in the same JVM does not."""
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    for k in ("SPARK_GRAFT_NO_WARMUP", "PYSPARK_SUBMIT_ARGS"):
        env.pop(k, None)
    r = subprocess.run([sys.executable, "-c", TWO_CONTEXTS.format(root=ROOT)],
                       capture_output=True, text=True, timeout=300, env=env)
    assert r.returncode == 0, r.stderr[-2000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    first, second = out["apps"]
    assert first != second
    assert out["calls"] == [first]


def test_package_zip_holds_current_sources(tmp_path, monkeypatch):
    """A zip left at a shared temp path by an earlier process (PIDs
    recycle) is never shipped in place of this process's sources."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(deploy, "_DIR", None)
    monkeypatch.setattr(deploy, "_ZIP", None, raising=False)
    stale = tmp_path / f"outliertree_spark_{os.getpid()}.zip"
    with zipfile.ZipFile(stale, "w") as zf:
        zf.writestr("outliertree_spark/__init__.py", "STALE = True\n")

    shipped = []
    for _ in range(2):  # two contexts, one zip per process
        deploy.ensure_package_on_executors(SimpleNamespace(
            sparkContext=SimpleNamespace(addPyFile=shipped.append)))
    assert len(shipped) == 2 and shipped[0] == shipped[1]

    pkg = os.path.dirname(os.path.abspath(outliertree_spark.__file__))
    want = {}
    for root, _dirs, files in os.walk(pkg):
        if "__pycache__" not in root:
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    with open(full, "rb") as f:
                        want[os.path.join("outliertree_spark",
                                          os.path.relpath(full, pkg))] = f.read()
    with zipfile.ZipFile(shipped[0]) as zf:
        assert {n: zf.read(n) for n in zf.namelist()} == want


def _pyspark_tree(root, version):
    (root / "pyspark").mkdir(parents=True)
    (root / "pyspark" / "__init__.py").write_text("")
    (root / "pyspark" / "version.py").write_text(f'__version__ = "{version}"\n')
    return str(root)


def _spark_zip(path, version):
    path.parent.mkdir(parents=True)
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", f'__version__ = "{version}"\n')
    return str(path)


def test_workerd_drops_zip_of_installed_release(tmp_path):
    spark_zip = _spark_zip(tmp_path / "lib" / "pyspark.zip", "4.1.2")
    py4j = str(tmp_path / "lib" / "py4j-src.zip")
    site = _pyspark_tree(tmp_path / "site", "4.1.2")
    path = ["", spark_zip, py4j, "/x", site]
    assert workerd.worker_path(path) == ["", py4j, "/x", site]


@pytest.mark.parametrize("installed", ["4.1.1", None])
def test_workerd_keeps_path_without_same_release(tmp_path, installed):
    """Another installed release, or none: the path is left as it was."""
    spark_zip = _spark_zip(tmp_path / "lib" / "pyspark.zip", "4.1.2")
    site = str(tmp_path / "site")
    if installed:
        _pyspark_tree(tmp_path / "site", installed)
    path = [spark_zip, site]
    assert workerd.worker_path(path) == [spark_zip, site]


def _py4j_zip(path, version):
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("py4j/__init__.py", "")
        zf.writestr("py4j/version.py", f"__version__ = '{version}'\n")
    return str(path)


def _py4j_tree(root, version):
    (root / "py4j").mkdir(parents=True)
    (root / "py4j" / "__init__.py").write_text("")
    (root / "py4j" / "version.py").write_text(f"__version__ = '{version}'\n")
    return str(root)


def test_workerd_drops_py4j_zip_of_installed_release(tmp_path):
    spark_zip = _spark_zip(tmp_path / "lib" / "pyspark.zip", "4.1.2")
    py4j = _py4j_zip(tmp_path / "lib" / "py4j-0.10.9.9-src.zip", "0.10.9.9")
    site = _pyspark_tree(tmp_path / "site", "4.1.2")
    _py4j_tree(tmp_path / "site", "0.10.9.9")
    assert workerd.worker_path(["", spark_zip, py4j, "/x", site]) == [
        "", "/x", site]
    # each zip is judged on its own: another pyspark keeps only its zip
    other = _pyspark_tree(tmp_path / "other", "4.1.1")
    _py4j_tree(tmp_path / "other", "0.10.9.9")
    assert workerd.worker_path([spark_zip, py4j, other]) == [spark_zip, other]


@pytest.mark.parametrize("installed", ["0.10.9.7", None])
def test_workerd_keeps_py4j_zip_without_same_release(tmp_path, installed):
    """Another installed py4j, or none: the py4j zip stays where it was."""
    spark_zip = _spark_zip(tmp_path / "lib" / "pyspark.zip", "4.1.2")
    py4j = _py4j_zip(tmp_path / "lib" / "py4j-0.10.9.9-src.zip", "0.10.9.9")
    site = _pyspark_tree(tmp_path / "site", "4.1.2")
    if installed:
        _py4j_tree(tmp_path / "site", installed)
    assert workerd.worker_path([spark_zip, py4j, site]) == [py4j, site]


def test_workerd_keeps_path_on_unreadable_zip(tmp_path):
    spark_zip = tmp_path / "lib" / "pyspark.zip"
    spark_zip.parent.mkdir()
    spark_zip.write_text("not a zip")
    # an archive whose directory cannot be read stays too
    jar = tmp_path / "lib" / "core.jar"
    jar.write_bytes(b"PK\x03\x04trunc")
    site = _pyspark_tree(tmp_path / "site", "4.1.2")
    path = [str(spark_zip), str(jar), site]
    assert workerd.worker_path(path) == path


def _jar(path, *names):
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for name in names:
            zf.writestr(name, "")
    return str(path)


def test_workerd_drops_archive_without_python(tmp_path):
    """A jar that holds no Python module is taken off the path, whatever
    its name; one that holds a ``.py`` stays."""
    core = _jar(tmp_path / "jars" / "core.jar", "org/a/B.class",
                "META-INF/MANIFEST.MF")
    named = _jar(tmp_path / "lib" / "py4j-0.10.9.9-src.zip", "README")
    nested = _jar(tmp_path / "jars" / "nested.jar", "org/a/B.class",
                  "org/a/mod.py")
    top = _jar(tmp_path / "jars" / "top.jar", "mod.pyc")
    path = ["", core, nested, named, top, "/x"]
    assert workerd.worker_path(path) == ["", nested, top, "/x"]


def test_workerd_forgets_importers_of_dropped_entries(tmp_path):
    """The path is set in place, and no importer stays cached for an
    entry taken off it or for a location inside one."""
    core = _jar(tmp_path / "jars" / "core.jar", "org/a/B.class")
    spark_zip = _spark_zip(tmp_path / "lib" / "pyspark.zip", "4.1.2")
    site = _pyspark_tree(tmp_path / "site", "4.1.2")
    path = [spark_zip, core, site]
    cache = {p: object() for p in
             (spark_zip, core, os.path.join(core, "org"),
              os.path.join(spark_zip, "pyspark"), site,
              os.path.join(site, "pyspark"), core + "x")}
    kept = {k: cache[k] for k in (site, os.path.join(site, "pyspark"),
                                  core + "x")}
    workerd.use_worker_path(path, cache)
    assert path == [site]
    assert cache == kept


def test_daemon_conf_only_for_local_master():
    assert session._daemon_conf("yarn", {}) == {}
    assert session._daemon_conf("spark://host:7077", {}) == {}
    assert session._daemon_conf("local-cluster[2,1,1024]", {}) == {}
    mine = {"spark.python.daemon.module": "my_daemon"}
    assert session._daemon_conf("local[2]", mine) == {}
    for master in ("local", "local[*]", "local[4]"):
        conf = session._daemon_conf(
            master, {"spark.executorEnv.PYTHONPATH": "/extra"})
        assert conf["spark.python.daemon.module"] == deploy.DAEMON_MODULE
        first, rest = conf["spark.executorEnv.PYTHONPATH"].split(os.pathsep)
        assert rest == "/extra"
        with open(os.path.join(first, deploy.DAEMON_MODULE + ".py")) as f:
            with open(workerd.__file__) as g:
                assert f.read() == g.read()


WORKER_ORIGIN = """
import json, sys
sys.path.insert(0, {root!r})
import pandas as pd
import py4j
import pyspark
from outliertree_spark.session import get_spark

spark = get_spark(master="local[2]", shuffle_partitions=2)
jvm = spark.sparkContext._jvm

def commands():
    return [p.info().commandLine().orElse("") for p in
            jvm.java.lang.ProcessHandle.current().descendants().toArray()]

def origin(it):
    import py4j, pyspark
    for _ in it:
        pass
    yield pd.DataFrame({{"f": [pyspark.__file__], "g": [py4j.__file__]}})

before = commands()
rows = (spark.range(0, 8, numPartitions=2)
        .mapInPandas(origin, "f string, g string").collect())
print(json.dumps({{"before": before, "after": commands(),
                  "workers": sorted({{r.f for r in rows}}),
                  "driver": pyspark.__file__,
                  "py4j_workers": sorted({{r.g for r in rows}}),
                  "py4j_driver": py4j.__file__}}))
spark.stop()
"""


SPARK_HOME = os.environ.get("SPARK_HOME", "")
SPARK_ZIP = os.path.join(SPARK_HOME, "python", "lib", "pyspark.zip")
PY4J_ZIPS = [os.path.join(SPARK_HOME, "python", "lib", f)
             for f in (os.listdir(os.path.join(SPARK_HOME, "python", "lib"))
                       if SPARK_HOME else ())
             if f.startswith("py4j-") and f.endswith("-src.zip")]


@pytest.mark.skipif(
    workerd.worker_path([SPARK_ZIP, *sys.path]) == [SPARK_ZIP, *sys.path],
    reason="no installed pyspark of $SPARK_HOME's release")
def test_local_workers_import_installed_pyspark():
    """Under a local master the Python workers run the installed pyspark
    from a daemon named after the stub, and get_spark (warm-up included)
    starts no Python worker."""
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    for k in ("SPARK_GRAFT_NO_WARMUP", "PYSPARK_SUBMIT_ARGS"):
        env.pop(k, None)
    r = subprocess.run([sys.executable, "-c", WORKER_ORIGIN.format(root=ROOT)],
                       capture_output=True, text=True, timeout=300, env=env)
    assert r.returncode == 0, r.stderr[-2000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert not [c for c in out["before"] if "python" in c or "pyspark" in c
                or deploy.DAEMON_MODULE in c], out["before"]
    assert any(f"-m {deploy.DAEMON_MODULE} " in c for c in out["after"]), out
    assert ".zip" not in out["driver"]
    assert out["workers"] == [out["driver"]]
    if PY4J_ZIPS and workerd.worker_path([*PY4J_ZIPS, *sys.path]) == sys.path:
        assert out["py4j_workers"] == [out["py4j_driver"]]


MASTER_PROBE = """
import json, sys
sys.path.insert(0, {root!r})
from outliertree_spark.session import get_spark

spark = get_spark()
print(json.dumps({{"master": spark.sparkContext.master,
                  "daemon": spark.conf.get("spark.python.daemon.module", None)}}))
spark.stop()
"""


@pytest.mark.skipif(not SPARK_HOME, reason="spark-submit needs SPARK_HOME")
def test_master_from_launcher(tmp_path):
    """spark-submit's --master wins over SPARK_GRAFT_CPUS; a plain
    interpreter still gets local[SPARK_GRAFT_CPUS]."""
    probe = tmp_path / "probe.py"
    probe.write_text(MASTER_PROBE.format(root=ROOT))
    env = dict(os.environ, SPARK_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="3",
               SPARK_GRAFT_NO_WARMUP="1", PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    submit = os.path.join(SPARK_HOME, "bin", "spark-submit")
    got = {}
    for how, cmd in (("submit", [submit, "--master", "local[2]", str(probe)]),
                     ("plain", [sys.executable, str(probe)])):
        r = subprocess.run(cmd, capture_output=True, text=True, timeout=300,
                           env=env, cwd=str(tmp_path))
        assert r.returncode == 0, r.stderr[-2000:]
        got[how] = json.loads(r.stdout.strip().splitlines()[-1])
    assert got["submit"]["master"] == "local[2]"
    assert got["plain"]["master"] == "local[3]"
    for how in got:
        assert got[how]["daemon"] == deploy.DAEMON_MODULE


def _worker_imports(it):
    import importlib
    import sys
    import time
    import zipimport
    for _ in it:
        pass
    times = []
    for _ in range(3):
        t = time.perf_counter()
        importlib.invalidate_caches()
        times.append(time.perf_counter() - t)
    stray = sorted(
        k for k, v in sys.path_importer_cache.items()
        if isinstance(v, zipimport.zipimporter) and v.archive not in sys.path)
    yield pd.DataFrame({"stray": [json.dumps(stray)],
                        "invalidate_s": [min(times)]})


@pytest.mark.skipif(
    workerd.worker_path([SPARK_ZIP, *sys.path]) == [SPARK_ZIP, *sys.path],
    reason="no installed pyspark of $SPARK_HOME's release")
def test_local_workers_hold_no_stray_zip_importer(spark):
    """PySpark runs ``importlib.invalidate_caches()`` at the start of every
    task; in a local session's worker no zip importer of an archive off
    ``sys.path`` is cached, so the call re-reads no archive."""
    rows = (spark.range(0, 8, numPartitions=2)
            .mapInPandas(_worker_imports, "stray string, invalidate_s double")
            .collect())
    assert len(rows) == 2
    for r in rows:
        assert json.loads(r.stray) == []
        assert r.invalidate_s < 0.005, r


ACCUMULATOR_STOP = """
import json, sys, time
sys.path.insert(0, {root!r})
from outliertree_spark.session import get_spark

spark = get_spark(master="local[2]", shuffle_partitions=2)
sc = spark.sparkContext
acc = sc.accumulator(0)
sc.parallelize(range(1000), 2).foreach(lambda x: acc.add(x))
first = acc.value
sc.parallelize([4, 6], 2).foreach(lambda x: acc.add(x))
second = acc.value
t = time.perf_counter()
spark.stop()
print(json.dumps({{"values": [first, second],
                  "stop_s": time.perf_counter() - t}}))
"""


def test_stop_after_python_job_is_prompt():
    """After a Python job the JVM holds a connection to the driver's
    accumulator server; ``stop()`` returns without waiting out PySpark's
    one-second poll, and the accumulator updates of two jobs arrive."""
    env = dict(os.environ, SPARK_DRIVER_MEM="1g", SPARK_GRAFT_NO_WARMUP="1")
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    r = subprocess.run(
        [sys.executable, "-c", ACCUMULATOR_STOP.format(root=ROOT)],
        capture_output=True, text=True, timeout=300, env=env)
    assert r.returncode == 0, r.stderr[-2000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["values"] == [499500, 499510]
    assert out["stop_s"] < 0.3, out


def test_accumulator_handler_source_is_pinned():
    """``session._PromptUpdateHandler`` copies the wire protocol of
    PySpark's ``UpdateRequestHandler.handle``.  A PySpark release that
    changes that method fails here: compare the copy with the new source,
    then record the new digest."""
    from pyspark.accumulators import UpdateRequestHandler
    src = inspect.getsource(UpdateRequestHandler.handle)
    assert hashlib.sha256(src.encode()).hexdigest() == (
        "cc31064dc413fb61b91f46b847e766101f57c134085cb3ecf82ec9dfb7de8335")
    assert issubclass(session._PromptUpdateHandler, UpdateRequestHandler)

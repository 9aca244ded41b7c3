"""Session set-up: the warm-up runs once per process and leaves no files
behind, and the package zip shipped to executors holds this process's
sources."""

import json
import os
import subprocess
import sys
import tempfile
import zipfile
from types import SimpleNamespace

import outliertree_spark
from outliertree_spark import deploy, session

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

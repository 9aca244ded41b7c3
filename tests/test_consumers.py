"""Every package module is reached by a declared consumer.

A module under ``outliertree_spark/`` stays only if something that runs
or gates the product imports it, directly or through other modules: the
spark-submit entry, the validate CLI, the two suite benchmarks, the
DuckDB oracle check, the reference-parity harness or the product-path
benchmark.  A module that only tests or plan audits import is dead code.
The walk is static (``ast``) and follows function-local imports too.
"""

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "outliertree_spark"

CONSUMERS = [
    "__spark_entry__.py",
    "scripts/run_validate.py",
    "bench.py",
    "bench_extra.py",
    "tools/check_oracles.py",
    "tools/diff_vs_reference.py",
    *sorted(os.path.relpath(p, ROOT)
            for p in glob.glob(os.path.join(ROOT, "perfbench", "*.py"))),
]

# sources/iceberg.py reads partitioned Iceberg tables, the batch source
# the product is scoped to, but no declared consumer runs it: the
# Iceberg runtime jar is not bundled with Spark, so only its gate is
# tested (tests/test_iceberg_gating.py).
UNREACHED_BY_DESIGN = {f"{PKG}.sources.iceberg"}


def _module_file(name, search_dirs):
    parts = name.split(".")
    for d in search_dirs:
        base = os.path.join(d, *parts)
        for path in (base + ".py", os.path.join(base, "__init__.py")):
            if os.path.isfile(path):
                return path
    return None


def _module_name(path):
    rel = os.path.relpath(path, ROOT)[:-len(".py")].split(os.sep)
    return ".".join(rel[:-1] if rel[-1] == "__init__" else rel)


def _imported_names(path):
    """Every dotted name an import in ``path`` may load, parent
    packages included; relative imports resolved against the file's
    package."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    pkg = _module_name(path)
    if not path.endswith("__init__.py"):
        pkg = pkg.rpartition(".")[0]
    names = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                up = pkg.rsplit(".", node.level - 1)[0]
                base = f"{up}.{base}" if base else up
            names += [base] + [f"{base}.{a.name}" for a in node.names]
    for name in names:
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            yield ".".join(parts[:i])


def _reached_files():
    todo = [os.path.join(ROOT, c) for c in CONSUMERS]
    seen = set()
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        dirs = [ROOT, os.path.dirname(path)]
        for name in _imported_names(path):
            found = _module_file(name, dirs)
            if found is not None and found not in seen:
                todo.append(found)
    return seen


def test_every_package_module_has_a_declared_consumer():
    reached = {_module_name(p) for p in _reached_files()
               if os.path.relpath(p, ROOT).startswith(PKG + os.sep)}
    # package __init__ files are containers; the modules are what count
    modules = {_module_name(p)
               for p in glob.glob(os.path.join(ROOT, PKG, "**", "*.py"),
                                  recursive=True)
               if os.path.basename(p) != "__init__.py"}
    assert modules & reached, "the walk reached no package module"
    assert UNREACHED_BY_DESIGN <= modules, "stale exception list"
    unreached = sorted(modules - reached - UNREACHED_BY_DESIGN)
    assert unreached == [], unreached

"""The meaning of a split branch is decided in one module.

A split's raw fields (``split_type``, ``split_point``, ``split_subset``,
``split_lev``, ``parent_branch``, ``branch_lev`` and a follow_all
branch's ``own``) are written by the fit and read only by ``model.py``,
which turns each branch into one condition form.  NumPy predict, the
Catalyst ``score()`` plan and the explanations compile that form, so a
new consumer cannot grow a condition decoder of its own.  The check is
static (``ast``): any string constant naming one of the fields counts
as a read.
"""

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "outliertree_spark"
FIELDS = {"split_type", "split_point", "split_subset", "split_lev",
          "parent_branch", "branch_lev", "own"}
OWNERS = {f"{PKG}/operators/fit.py", f"{PKG}/model.py"}


def _field_names(path):
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    return {node.value for node in ast.walk(tree)
            if isinstance(node, ast.Constant) and node.value in FIELDS}


def test_only_fit_and_model_read_split_fields():
    readers = {}
    for path in glob.glob(os.path.join(ROOT, PKG, "**", "*.py"),
                          recursive=True):
        names = _field_names(path)
        if names:
            readers[os.path.relpath(path, ROOT)] = sorted(names)
    assert set(readers) - OWNERS == set(), readers
    assert set(readers[f"{PKG}/model.py"]) == FIELDS

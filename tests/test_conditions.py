"""One split-condition form, three compilers, against the decoders it
replaced.

``model.cluster_condition`` and ``model.edge_condition`` derive every
branch condition once; the explanations, NumPy ``predict_batch`` and the
Catalyst ``score()`` plan compile that form.  The oracle here is the
per-consumer decoding they replaced: the display dicts built straight
from a cluster's split and a tree edge, and the tree routing that read
each node's split kind (numeric, ordinal, subset, separate, follow_all)
itself.  Over seeded models of every split mode the condition chains
must be equal, and ``predict_batch`` must pick the same winners, on
inputs with NaNs, missing and unseen categories.
"""

import functools
import itertools

import numpy as np
import pytest

from outliertree_spark.config import ValidationConfig
from outliertree_spark.model import (
    attach_conditions,
    cluster_condition,
    edge_condition,
    levels_by_column,
)
from outliertree_spark.operators.fit import fit_arrays
from outliertree_spark.operators.predict import (
    BatchResult,
    _take_better,
    _transform_target,
    predict_batch,
)
from outliertree_spark.schema import build_model_schema

from .test_fit_concurrent import _random_table


# -- oracle: the display decoders --------------------------------------------
def _cond_from_cluster(cl, levels_by_col):
    if cl["split_type"] == "root" or cl["col"] is None:
        return None
    col, kind, st = cl["col"], cl["col_kind"], cl["split_type"]
    levels = levels_by_col.get(col)

    def cond(comp, value):
        return {"column": col, "comparison": comp, "value_comp": value,
                "kind": kind}

    if st == "isna":
        return cond("is NA", None)
    if kind == "numeric":
        if st in ("le", "gt"):
            return cond("<=" if st == "le" else ">", cl["split_point"])
        return None
    if st == "eq":
        return cond("=", levels[cl["split_lev"]])
    if st == "neq":
        return cond("!=", levels[cl["split_lev"]])
    if st == "le":
        return cond("in", [levels[i] for i in range(cl["split_lev"] + 1)])
    if st == "gt":
        return cond("in", [levels[i] for i in
                           range(cl["split_lev"] + 1, len(levels))])
    if st in ("in", "notin") and cl["split_subset"] is not None:
        want = 1 if st == "in" else 0
        return cond("in", [levels[i] for i, s in
                           enumerate(cl["split_subset"]) if s == want])
    return None


def _cond_from_tree_edge(parent, child, levels_by_col):
    br = child["parent_branch"]
    if br == "root":
        return None
    if br == "allbranch":
        own = child.get("own") or {}
        col, kind = own.get("col"), own.get("kind")
        if col is None:
            return None
        levels = levels_by_col.get(col)
        b = own["branch"]

        def cond(comp, value):
            return {"column": col, "comparison": comp, "value_comp": value,
                    "kind": kind}

        if b == "isna":
            return cond("is NA", None)
        if kind == "numeric":
            return cond("<=" if b == "le" else ">", own["point"])
        if b == "eq":
            return cond("=", levels[own["lev"]])
        if b == "le":
            return cond("in", [levels[i] for i in range(own["lev"] + 1)])
        if b == "gt":
            return cond("in", [levels[i] for i in
                               range(own["lev"] + 1, len(levels))])
        want = 1 if b == "in" else 0
        return cond("in", [levels[i] for i, s in
                           enumerate(own.get("subset") or []) if s == want])
    col, kind = parent.get("col"), parent.get("col_kind")

    def cond(comp, value):
        return {"column": col, "comparison": comp, "value_comp": value,
                "kind": kind}

    if br == "subtrees":
        lev = child.get("branch_lev")
        if lev is None or col is None:
            return None
        return cond("=", levels_by_col[col][lev])
    if col is None:
        return None
    levels = levels_by_col.get(col)
    if br == "isna":
        return cond("is NA", None)
    if kind == "numeric":
        return cond("<=" if br == "le" else ">", parent["split_point"])
    if kind == "ordinal":
        lev = parent["split_lev"]
        if br == "le":
            return cond("in", [levels[i] for i in range(lev + 1)])
        return cond("in", [levels[i] for i in range(lev + 1, len(levels))])
    ss = parent.get("split_subset")
    if ss is None:
        return None
    want = 1 if br == "in" else 0
    return cond("in", [levels[i] for i, s in enumerate(ss) if s == want])


def _oracle_conditions(model, cm, cl):
    levels_by_col = {c["name"]: c["levels"] for c in model["columns"]
                     if c["levels"] is not None}
    levels_by_col.update(model.get("predictor_levels", {}))
    trees = cm["trees"]
    conds = [_cond_from_cluster(cl, levels_by_col)]
    t_ix = cl["tree"]
    while t_ix is not None and trees:
        child = trees[t_ix]
        if child["parent_branch"] == "root":
            break
        conds.append(_cond_from_tree_edge(trees[child["parent"]], child,
                                          levels_by_col))
        t_ix = child["parent"]
    return [c for c in conds if c is not None]


# -- oracle: the routing that decoded each split kind itself -----------------
def _subset_mask(ss, xv, seen, branch):
    ss = np.asarray(ss if ss is not None else [], dtype=np.int64)
    ok = np.zeros(xv.shape[0], dtype=bool)
    if ss.shape[0] == 0:
        return ok
    nn = seen & (xv >= 0)
    ok[nn] = ss[xv[nn]] == (1 if branch == "in" else 0)
    return ok


def _oracle_cond_mask(cl, data, levels_count, rows):
    st = cl["split_type"]
    if st == "root":
        return np.ones(rows.shape[0], dtype=bool)
    xv = data[cl["col"]][rows]
    if cl["col_kind"] == "numeric":
        if st == "isna":
            return np.isnan(xv)
        if st == "le":
            return ~np.isnan(xv) & (xv <= cl["split_point"])
        if st == "gt":
            return ~np.isnan(xv) & (xv > cl["split_point"])
        return np.zeros(rows.shape[0], dtype=bool)
    seen = xv < levels_count.get(cl["col"], 0)
    lev = cl["split_lev"]
    if st == "isna":
        return seen & (xv < 0)
    if st == "le":
        return seen & (xv >= 0) & (xv <= lev)
    if st == "gt":
        return seen & (xv >= 0) & (xv > lev)
    if st == "eq":
        return seen & (xv == lev)
    if st == "neq":
        return seen & (xv >= 0) & (xv != lev)
    return _subset_mask(cl["split_subset"], xv, seen, st)


def _oracle_own_mask(own, data, levels_count, rows):
    col = own.get("col")
    if col is None or col not in data:
        return np.zeros(rows.shape[0], dtype=bool)
    branch = own["branch"]
    xv = data[col][rows]
    if own["kind"] == "numeric":
        if branch == "isna":
            return np.isnan(xv)
        if branch == "le":
            return ~np.isnan(xv) & (xv <= own["point"])
        if branch == "gt":
            return ~np.isnan(xv) & (xv > own["point"])
        return np.zeros(rows.shape[0], dtype=bool)
    seen = xv < levels_count.get(col, 0)
    if branch == "isna":
        return seen & (xv < 0)
    if branch == "eq":
        return seen & (xv == own["lev"])
    if branch == "le":
        return seen & (xv >= 0) & (xv <= own["lev"])
    if branch == "gt":
        return seen & (xv >= 0) & (xv > own["lev"])
    return _subset_mask(own.get("subset"), xv, seen, branch)


def _oracle_route(node, trees, data, levels_count, rows, stack):
    """Push a node's children with their rows, earliest visited last."""
    ab = node.get("all_branches") or []
    if ab and max(ab) > 0:
        for br in reversed([b for b in ab if b > 0]):
            sub = rows[_oracle_own_mask(trees[br].get("own") or {}, data,
                                        levels_count, rows)]
            if sub.shape[0]:
                stack.append((br, sub))
        return
    col = node.get("col")
    if col is None:
        for br in reversed(node["binary_branches"]):
            if br > 0:
                stack.append((br, rows))
        return
    kind = node["col_kind"]
    xv = data[col][rows]
    if kind == "numeric":
        isna = np.isnan(xv)
        if node["tree_NA"] > 0:
            stack.append((node["tree_NA"], rows[isna]))
        if node["tree_right"] > 0:
            stack.append((node["tree_right"],
                          rows[~isna & (xv > node["split_point"])]))
        if node["tree_left"] > 0:
            stack.append((node["tree_left"],
                          rows[~isna & (xv <= node["split_point"])]))
        return
    seen = xv < levels_count.get(col, 0)
    isna = xv < 0
    if node["tree_NA"] > 0:
        stack.append((node["tree_NA"], rows[seen & isna]))
    nn = seen & ~isna
    if kind == "categorical" and node["binary_branches"]:
        bb = node["binary_branches"]
        for cat_x in range(len(bb) - 1, -1, -1):
            if bb[cat_x] > 0:
                stack.append((bb[cat_x], rows[nn & (xv == cat_x)]))
    elif kind == "ordinal" or node.get("split_lev") is not None:
        lev = node["split_lev"]
        if node["tree_right"] > 0:
            stack.append((node["tree_right"], rows[nn & (xv > lev)]))
        if node["tree_left"] > 0:
            stack.append((node["tree_left"], rows[nn & (xv <= lev)]))
    else:
        for br, branch in ((node["tree_right"], "notin"),
                           (node["tree_left"], "in")):
            if br > 0:
                stack.append((br, rows[_subset_mask(
                    node["split_subset"], xv, nn, branch)]))


def _oracle_predict(model, data):
    n = next(iter(data.values())).shape[0]
    res = BatchResult(n)
    levels_count = {k: len(v) for k, v in
                    model.get("predictor_levels", {}).items()}
    for cm in model["columns"]:
        if cm["levels"] is not None:
            levels_count.setdefault(cm["name"], len(cm["levels"]))
    for col_ix, cm in enumerate(model["columns"]):
        if not cm["trees"] or not cm["clusters"] or cm["name"] not in data:
            continue
        trees, clusters = cm["trees"], cm["clusters"]
        vals = data[cm["name"]]
        is_num = cm["kind"] == "numeric"
        if is_num:
            tvals = _transform_target(vals, cm)
            cand = np.isfinite(vals) & ((vals >= cm["max_outlier_any"])
                                        | (vals <= cm["min_outlier_any"]))
        else:
            flag = np.asarray(cm["cat_outlier_any"], dtype=bool)
            inrange = (vals >= 0) & (vals < len(cm["levels"]))
            cand = np.zeros(n, dtype=bool)
            cand[inrange] = flag[vals[inrange]]
        stack = [(0, np.flatnonzero(cand))]
        while stack:
            node_ix, rows = stack.pop()
            if rows.shape[0] == 0:
                continue
            node = trees[node_ix]
            flagged_here = np.zeros(rows.shape[0], dtype=bool)
            for cl_id in node["clusters"]:
                cl = clusters[cl_id]
                if is_num:
                    v = vals[rows]
                    bound = (v <= cl["lower_lim"]) | (v >= cl["upper_lim"])
                else:
                    sc = np.asarray(cl["subset_common"], dtype=np.int64)
                    bound = sc[vals[rows]] != 0
                sub = rows[bound]
                hit = sub[_oracle_cond_mask(cl, data, levels_count, sub)]
                if hit.shape[0] == 0:
                    continue
                if is_num:
                    z = (tvals[hit] - cl["cluster_mean"]) \
                        / max(cl["cluster_sd"], 1e-12)
                    score = 1.0 / np.maximum(z * z, 1.0)
                    score = np.where(np.isfinite(score), score, 1.0 - 1e-15)
                else:
                    score = np.asarray(cl["score_categ"],
                                       dtype=np.float64)[vals[hit]]
                _take_better(res, hit, score, col_ix, cl_id, node_ix,
                             int(cl["depth"]), bool(cl["has_NA_branch"]),
                             int(cl["cluster_size"]))
                flagged_here[np.searchsorted(rows, hit)] = True
            if flagged_here.any():
                rows = rows[~(flagged_here & ~res.nab[rows])]
            if rows.shape[0]:
                _oracle_route(node, trees, data, levels_count, rows, stack)
    return res


# -- the sweep ---------------------------------------------------------------
# Every seed, split mode and categorical-outlier mode at depth 3 and 4.
# follow_all fits take seconds a model (15-17 s at depth 4), so it runs
# at depth 3 on one table whose categorical and ordinal columns miss 8%
# of their values, enough rows for follow_all NA branches of every kind.
SWEEP = [*itertools.product([False], range(6),
                            ["binarize", "bruteforce", "separate"],
                            ["tail", "majority"], [False], [3, 4]),
         *itertools.product([True], [2],
                            ["binarize", "bruteforce", "separate"],
                            ["tail", "majority"], [True], [3])]


@functools.lru_cache(maxsize=None)
def _model(holey, seed, categ_split, categ_outliers, follow_all, depth):
    # gain_as_pct=False: with the default, no categorical or ordinal
    # target of these tables gets a tree, and their edges go untested
    cfg = ValidationConfig(categ_split=categ_split,
                           categ_outliers=categ_outliers,
                           follow_all=follow_all, max_depth=depth,
                           gain_as_pct=False, min_size_numeric=15,
                           min_size_categ=20)
    cols = _random_table(seed)
    if holey:
        rng = np.random.RandomState(50 + seed)
        for c in cols:
            if c.kind != "numeric":
                c.values[rng.rand(c.values.shape[0]) < 0.08] = -1
    model = fit_arrays(cols, cfg)
    model["schema"] = build_model_schema(cols)
    model["predictor_levels"] = {c.name: c.levels for c in cols
                                 if c.levels is not None}
    return attach_conditions(model), cols


def _inputs(cols, seed):
    """The fit rows plus as many perturbed copies: numeric values moved
    and blanked, categories redrawn with missing (-1) and unseen (ncat)
    codes."""
    rng = np.random.RandomState(100 + seed)
    n = cols[0].values.shape[0]
    data = {}
    for c in cols:
        if c.kind == "numeric":
            v = np.concatenate([c.values, c.values + rng.normal(0, 3, n)])
            v[rng.rand(2 * n) < 0.03] = np.nan
        else:
            ncat = len(c.levels)
            v = np.concatenate([c.values, rng.randint(-1, ncat + 1, n)])
            v[rng.rand(2 * n) < 0.05] = ncat
        data[c.name] = v
    return data


def _combos(model):
    """(source, kind, op) of every condition the model's clusters and
    tree edges carry."""
    levels = levels_by_column(model)
    seen = set()
    for cm in model["columns"]:
        trees = cm["trees"]
        for cl in cm["clusters"]:
            c = cluster_condition(cl, levels)
            if c is not None:
                seen.add(("cluster", c[1], c[2]))
        for child in trees[1:]:
            c = edge_condition(trees[child["parent"]], child, levels)
            if c is not None:
                src = "own" if child["parent_branch"] == "allbranch" else "edge"
                seen.add((src, c[1], c[2]))
    return seen


ALL_COMBOS = {
    ("cluster", "numeric", "isna"), ("cluster", "numeric", "le"),
    ("cluster", "numeric", "gt"),
    *[("cluster", k, op) for k in ("categorical", "ordinal")
      for op in ("isna", "eq", "neq", "in")],
    ("edge", "numeric", "le"), ("edge", "numeric", "gt"),
    ("edge", "categorical", "eq"), ("edge", "categorical", "in"),
    ("edge", "ordinal", "in"),
    ("own", "numeric", "isna"), ("own", "numeric", "le"),
    ("own", "numeric", "gt"),
    ("own", "categorical", "isna"), ("own", "categorical", "eq"),
    ("own", "categorical", "in"),
    ("own", "ordinal", "isna"), ("own", "ordinal", "in"),
}


@pytest.mark.parametrize("holey, seed", sorted({k[:2] for k in SWEEP}))
def test_conditions_and_routing_match_decoders(holey, seed):
    flagged = 0
    for key in [k for k in SWEEP if k[:2] == (holey, seed)]:
        model, cols = _model(*key)
        for cm in model["columns"]:
            for cl in cm["clusters"]:
                assert cl["conditions"] == _oracle_conditions(model, cm, cl), key
        data = _inputs(cols, seed)
        got, want = predict_batch(model, data), _oracle_predict(model, data)
        for field in vars(want):
            np.testing.assert_array_equal(getattr(got, field),
                                          getattr(want, field),
                                          err_msg=f"{key} {field}")
        flagged += int((got.score < 1.0).sum())
    assert flagged > 0


def test_sweep_reaches_every_condition_kind():
    seen = set()
    for key in SWEEP:
        seen |= _combos(_model(*key)[0])
    assert seen == ALL_COMBOS, sorted(seen ^ ALL_COMBOS)

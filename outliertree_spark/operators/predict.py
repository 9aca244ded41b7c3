"""Vectorized batch prediction against a broadcast model.

Re-expresses the reference predict pipeline (src/predict.cpp:70-739) as
NumPy mask operations over Arrow record batches: a cheap flaggable-bounds
pre-filter selects candidate rows per target column, then each column's
conditioning tree is walked once per *node* (not per row), carrying an
active-row mask, checking every cluster's bound + condition, and keeping
the per-row best via the predict-side tie-break (which the reference
documents as the more trustworthy of its two rules).
"""

from __future__ import annotations

import numpy as np

from ..model import cluster_condition, edge_condition, levels_by_column


class BatchResult:
    """Per-row best outlier assignment for one batch."""

    def __init__(self, n: int):
        self.score = np.ones(n, dtype=np.float64)
        self.col = np.full(n, -1, dtype=np.int64)       # model column index
        self.cluster = np.full(n, -1, dtype=np.int64)
        self.tree = np.zeros(n, dtype=np.int64)
        self.depth = np.zeros(n, dtype=np.int64)
        self.nab = np.zeros(n, dtype=bool)
        self.size = np.zeros(n, dtype=np.int64)


def _condition_mask(cond: tuple, data: dict, levels: dict,
                    rows: np.ndarray) -> np.ndarray:
    """Which of ``rows`` satisfy one branch condition of the
    ``model.py`` form (src/predict.cpp:536-663)."""
    col, kind, op, arg = cond
    xv = data.get(col)
    if xv is None:
        return np.zeros(rows.shape[0], dtype=bool)
    xv = xv[rows]
    if kind == "numeric":
        if op == "isna":
            return np.isnan(xv)
        return xv <= arg if op == "le" else xv > arg  # NaN compares False
    if op == "isna":
        return xv < 0
    ncat = len(levels.get(col, ()))
    seen = (xv >= 0) & (xv < ncat)  # an unseen category takes no branch
    if op == "eq":
        return seen & (xv == arg)
    if op == "neq":
        return seen & (xv != arg)
    member = np.zeros(ncat, dtype=bool)
    member[list(arg)] = True
    ok = np.zeros(rows.shape[0], dtype=bool)
    ok[seen] = member[xv[seen]]
    return ok


def _take_better(res: BatchResult, rows: np.ndarray, score: np.ndarray,
                 col_ix: int, cl_ix: int, tree_ix: int, depth: int,
                 nab: bool, size: int) -> None:
    """Predict-side tie-break (src/predict.cpp:688-728)."""
    old_score = res.score[rows]
    no_prev = old_score >= 1.0
    old_nab = res.nab[rows]
    old_depth = res.depth[rows]
    old_size = res.size[rows]
    take = (
        no_prev
        | ((depth < old_depth) & (old_nab == nab))
        | (old_nab & (not nab))
        | ((depth == old_depth) & (old_nab == nab) & (size > old_size))
        | ((depth == old_depth) & (size == old_size) & (old_nab == nab)
           & (score < old_score))
    )
    sel = rows[take]
    if sel.shape[0]:
        res.score[sel] = score[take]
        res.col[sel] = col_ix
        res.cluster[sel] = cl_ix
        res.tree[sel] = tree_ix
        res.depth[sel] = depth
        res.nab[sel] = nab
        res.size[sel] = size


def _transform_target(vals: np.ndarray, cm: dict) -> np.ndarray:
    t = cm["transf"]
    if t == "log":
        with np.errstate(invalid="ignore", divide="ignore"):
            return np.log(vals - cm["log_minval"])
    if t == "exp":
        return np.exp((vals - cm["orig_mean"]) / max(cm["orig_sd"], 1e-12))
    return vals


def predict_batch(model: dict, data: dict[str, np.ndarray]) -> BatchResult:
    """Run every target column's tree over one encoded batch."""
    n = next(iter(data.values())).shape[0] if data else 0
    res = BatchResult(n)
    levels = levels_by_column(model)

    for col_ix, cm in enumerate(model["columns"]):
        if not cm["trees"] or not cm["clusters"]:
            continue
        name = cm["name"]
        if name not in data:
            continue
        vals = data[name]
        if cm["kind"] == "numeric":
            finite = np.isfinite(vals)
            cand = finite & ((vals >= cm["max_outlier_any"])
                             | (vals <= cm["min_outlier_any"]))
        else:
            ncat = len(cm["levels"])
            flag = np.asarray(cm["cat_outlier_any"], dtype=bool)
            inrange = (vals >= 0) & (vals < ncat)
            cand = np.zeros(n, dtype=bool)
            cand[inrange] = flag[vals[inrange]]
        rows0 = np.flatnonzero(cand)
        if rows0.shape[0] == 0:
            continue
        _follow_tree_column(cm, col_ix, data, levels, rows0, res)
    return res


def _children(node: dict) -> list[int]:
    """A node's subtrees in visit order: the follow_all branches, else the
    per-category subtrees, then left, right and NA."""
    branches = [b for b in node["all_branches"] if b > 0]
    if branches:
        return branches
    return [b for b in node["binary_branches"] if b > 0] + \
        [b for b in (node["tree_left"], node["tree_right"], node["tree_NA"])
         if b > 0]


def _follow_tree_column(cm, col_ix, data, levels, rows0, res: BatchResult):
    trees = cm["trees"]
    clusters = cm["clusters"]
    vals = data[cm["name"]]
    is_num = cm["kind"] == "numeric"
    if is_num:
        tvals = _transform_target(vals, cm)

    # DFS; earlier-pushed siblings processed first to mirror reference order
    stack = [(0, rows0)]
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
            if not bound.any():
                continue
            hit = rows[bound]
            own = cluster_condition(cl, levels)
            if own is not None:
                hit = hit[_condition_mask(own, data, levels, hit)]
            if hit.shape[0] == 0:
                continue
            if is_num:
                z = (tvals[hit] - cl["cluster_mean"]) / max(cl["cluster_sd"], 1e-12)
                score = 1.0 / np.maximum(z * z, 1.0)
                score = np.where(np.isfinite(score), score, 1.0 - 1e-15)
            else:
                score = np.asarray(cl["score_categ"], dtype=np.float64)[vals[hit]]
            depth = int(cl["depth"])
            _take_better(res, hit, score, col_ix, cl_id, node_ix, depth,
                         bool(cl["has_NA_branch"]), int(cl["cluster_size"]))
            mask_hit = np.zeros(rows.shape[0], dtype=bool)
            mask_hit[np.searchsorted(rows, hit)] = True
            flagged_here |= mask_hit

        # early exit: flagged at this node with a non-NA-branch best
        if flagged_here.any():
            stop = flagged_here & ~res.nab[rows]
            rows = rows[~stop]
            if rows.shape[0] == 0:
                continue

        # every child whose entry condition holds; follow_all branches
        # overlap and are all explored (predict.cpp:193-376)
        for child in reversed(_children(node)):
            cond = edge_condition(node, trees[child], levels)
            sub = rows if cond is None else \
                rows[_condition_mask(cond, data, levels, rows)]
            if sub.shape[0]:
                stack.append((child, sub))

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


def _cond_mask(cl: dict, data: dict, levels_count: dict, rows: np.ndarray) -> np.ndarray:
    """Which of ``rows`` satisfy the cluster's own extra condition
    (src/predict.cpp:536-663)."""
    st = cl["split_type"]
    if st == "root":
        return np.ones(rows.shape[0], dtype=bool)
    col = cl["col"]
    kind = cl["col_kind"]
    xv = data[col][rows]
    if kind == "numeric":
        if st == "isna":
            return np.isnan(xv)
        if st == "le":
            return ~np.isnan(xv) & (xv <= cl["split_point"])
        if st == "gt":
            return ~np.isnan(xv) & (xv > cl["split_point"])
        return np.zeros(rows.shape[0], dtype=bool)
    ncat = levels_count.get(col, 0)
    seen = xv < ncat  # unseen category -> cluster skipped for that row
    if st == "isna":
        return seen & (xv < 0)
    if st == "le":
        return seen & (xv >= 0) & (xv <= cl["split_lev"])
    if st == "gt":
        return seen & (xv >= 0) & (xv > cl["split_lev"])
    if st == "eq":
        return seen & (xv == cl["split_lev"])
    if st == "neq":
        return seen & (xv >= 0) & (xv != cl["split_lev"])
    ss = np.asarray(cl["split_subset"] if cl["split_subset"] is not None else [],
                    dtype=np.int64)
    if ss.shape[0] == 0:
        return np.zeros(rows.shape[0], dtype=bool)
    ok = np.zeros(rows.shape[0], dtype=bool)
    nn = seen & (xv >= 0)
    if st == "in":
        ok[nn] = ss[xv[nn]] == 1
    elif st == "notin":
        ok[nn] = ss[xv[nn]] == 0
    return ok


def _own_cond_mask(own: dict, data: dict, levels_count: dict,
                   rows: np.ndarray) -> np.ndarray:
    """Evaluate a follow_all branch's own entry condition."""
    col = own.get("col")
    if col is None or col not in data:
        return np.zeros(rows.shape[0], dtype=bool)
    branch = own["branch"]
    kind = own["kind"]
    xv = data[col][rows]
    if kind == "numeric":
        if branch == "isna":
            return np.isnan(xv)
        if branch == "le":
            return ~np.isnan(xv) & (xv <= own["point"])
        if branch == "gt":
            return ~np.isnan(xv) & (xv > own["point"])
        return np.zeros(rows.shape[0], dtype=bool)
    ncat = levels_count.get(col, 0)
    seen = xv < ncat
    if branch == "isna":
        return seen & (xv < 0)
    if branch == "eq":
        return seen & (xv == own["lev"])
    if branch == "le":
        return seen & (xv >= 0) & (xv <= own["lev"])
    if branch == "gt":
        return seen & (xv >= 0) & (xv > own["lev"])
    ss = np.asarray(own.get("subset") or [], dtype=np.int64)
    if ss.shape[0] == 0:
        return np.zeros(rows.shape[0], dtype=bool)
    out = np.zeros(rows.shape[0], dtype=bool)
    nn = seen & (xv >= 0)
    if branch == "in":
        out[nn] = ss[xv[nn]] == 1
    elif branch == "notin":
        out[nn] = ss[xv[nn]] == 0
    return out


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
    levels_count = {k: len(v) for k, v in model.get("predictor_levels", {}).items()}
    for cm in model["columns"]:
        if cm["levels"] is not None:
            levels_count.setdefault(cm["name"], len(cm["levels"]))

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
        _follow_tree_column(model, cm, col_ix, data, levels_count, rows0, res)
    return res


def _follow_tree_column(model, cm, col_ix, data, levels_count, rows0, res: BatchResult):
    trees = cm["trees"]
    clusters = cm["clusters"]
    name = cm["name"]
    vals = data[name]
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
            sub = rows[bound]
            ok = _cond_mask(cl, data, levels_count, sub)
            hit = sub[ok]
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

        ab = node.get("all_branches") or []
        has_children = (node["tree_NA"] or node["tree_left"] or node["tree_right"]
                        or (node["binary_branches"] and max(node["binary_branches"]) > 0)
                        or (ab and max(ab) > 0))
        if not has_children:
            continue

        if ab and max(ab) > 0:
            # follow_all: every branch whose own condition matches is
            # explored; no standard routing (predict.cpp:193-376)
            for br in reversed([b for b in ab if b > 0]):
                own = trees[br].get("own") or {}
                mask = _own_cond_mask(own, data, levels_count, rows)
                sub = rows[mask]
                if sub.shape[0]:
                    stack.append((br, sub))
            continue

        col = node.get("col")
        if col is None:
            # binarize-mode root: follow every subtree with all rows
            for br in reversed(node["binary_branches"]):
                if br > 0:
                    stack.append((br, rows))
            continue

        kind = node["col_kind"]
        xv = data[col][rows]
        if kind == "numeric":
            isna = np.isnan(xv)
            if node["tree_NA"] > 0:
                stack.append((node["tree_NA"], rows[isna]))
            if node["tree_right"] > 0:
                stack.append((node["tree_right"], rows[~isna & (xv > node["split_point"])]))
            if node["tree_left"] > 0:
                stack.append((node["tree_left"], rows[~isna & (xv <= node["split_point"])]))
        else:
            ncat_x = levels_count.get(col, 0)
            seen = xv < ncat_x
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
                ss = np.asarray(node["split_subset"], dtype=np.int64)
                go_left = np.zeros(rows.shape[0], dtype=bool)
                go_right = np.zeros(rows.shape[0], dtype=bool)
                go_left[nn] = ss[xv[nn]] == 1
                go_right[nn] = ss[xv[nn]] == 0
                if node["tree_right"] > 0:
                    stack.append((node["tree_right"], rows[go_right]))
                if node["tree_left"] > 0:
                    stack.append((node["tree_left"], rows[go_left]))

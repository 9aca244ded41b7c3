"""Driver-side conditioning-tree fit over NumPy arrays.

Re-expresses the reference fit pipeline (src/fit_model.cpp) over a bounded
in-memory sample: per-target-column shallow trees whose every
gain-qualifying split branch gets a 1-D cluster (numeric bounds /
categorical proportion thresholds).  The Spark engine collects a
deterministic sample, calls :func:`fit_arrays`, and broadcasts the
resulting plain-dict model; the *validate* path is what scales out.

Column order convention matches the reference: numeric, categorical,
ordinal (fit_model.cpp:148).

The per-target fits run concurrently on a driver thread pool, as the
reference fits its target columns in parallel (OpenMP over columns,
fit_model.cpp:285-286); the hot loops are NumPy sorts and scans, which
release the GIL.  One order dependency is kept for parity with the
single-threaded reference: a numeric target reads the stale
``has_outliers`` the previous target left behind (see
``_ColumnFit.__init__``).  So the numeric targets are fitted in column
order inside one task that hands the flag on, and each categorical or
ordinal target, which never reads it, is its own task.  Simplifying the
cluster conditions and merging the per-row winners stay one walk in
column order, because merge ties depend on that order.  The model is
byte-identical to fitting the columns one after another.
"""

from __future__ import annotations

import math
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np

from ..config import ValidationConfig
from ..functions.stats import (
    prop_small_and_prior,
    total_info,
    welford_mean_sd,
)
from .cluster import (
    RowState,
    define_categ_cluster,
    define_categ_cluster_no_cond,
    define_numerical_cluster,
    find_outlier_categories_no_cond,
)
from .split import (
    SplitResult,
    categ_gain_from_split,
    split_categx_biny,
    split_categx_categy_separate,
    split_categx_categy_subset,
    split_categx_numericy,
    split_numericx_categy,
    split_numericx_numericy,
    split_ordx_categy,
)

NEG_INF = -math.inf


@dataclass
class FitColumn:
    name: str
    kind: str                      # numeric | categorical | ordinal
    values: np.ndarray             # float64, or int codes with -1 == NA
    levels: list | None = None     # category levels (categorical/ordinal)
    is_bool: bool = False
    is_ts: bool = False
    ts_min: float | None = None    # timestamp shift (seconds), reference-style


def _new_tree(parent: int, parent_branch: str, depth: int) -> dict:
    return {
        "parent": parent, "parent_branch": parent_branch, "depth": depth,
        "col": None, "col_kind": None,
        "split_point": None, "split_subset": None, "split_lev": None,
        "tree_NA": 0, "tree_left": 0, "tree_right": 0,
        "binary_branches": [], "all_branches": [],
        "clusters": [],
    }


def _new_cluster(column_type, col, col_kind, split_type, split_point=None,
                 split_subset=None, split_lev=None, has_NA_branch=False,
                 tree=0, depth=0) -> dict:
    return {
        "column_type": column_type, "col": col, "col_kind": col_kind,
        "split_type": split_type, "split_point": split_point,
        "split_subset": list(split_subset) if split_subset is not None else None,
        "split_lev": split_lev,
        "has_NA_branch": bool(has_NA_branch), "tree": tree, "depth": depth,
        "lower_lim": -math.inf, "upper_lim": math.inf,
        "perc_above": 1.0, "perc_below": 1.0,
        "cluster_mean": 0.0, "cluster_sd": 0.0,
        "display_mean": 0.0, "display_sd": 0.0,
        "display_lim_low": float("nan"), "display_lim_high": float("nan"),
        "cluster_size": 0,
        "subset_common": None, "score_categ": None,
        "perc_in_subset": 1.0, "perc_next_most_comm": 0.0, "categ_maj": -1,
    }


class _FitContext:
    """Shared per-dataset state for one fit run."""

    def __init__(self, columns: list[FitColumn], cfg: ValidationConfig):
        self.cfg = cfg
        self.numeric = [c for c in columns if c.kind == "numeric"]
        self.categ = [c for c in columns if c.kind == "categorical"]
        self.ordinal = [c for c in columns if c.kind == "ordinal"]
        self.columns = self.numeric + self.categ + self.ordinal
        self.nrows = columns[0].values.shape[0] if columns else 0

        self.has_na: dict[str, bool] = {}
        self.skip_col: dict[str, bool] = {}
        self.cat_counts: dict[str, np.ndarray] = {}
        self.prop_small: dict[str, np.ndarray] = {}
        self.prior: dict[str, np.ndarray] = {}
        self.decimals: dict[str, int] = {}

        min_cond = min(cfg.min_size_numeric, cfg.min_size_categ)
        for c in self.numeric:
            v = c.values
            bad = ~np.isfinite(v)
            self.has_na[c.name] = bool(bad.any())
            good = v[np.isfinite(v)]
            if good.shape[0] < 2 or float(np.var(good, ddof=1)) < 1e-6:
                self.skip_col[c.name] = True
            else:
                self.skip_col[c.name] = False
            self.decimals[c.name] = self._col_decimals(good)
        for c in self.categ + self.ordinal:
            codes = c.values
            ncat = len(c.levels)
            counts = np.bincount(codes[codes >= 0], minlength=ncat).astype(np.int64)
            self.cat_counts[c.name] = counts
            self.has_na[c.name] = bool((codes < 0).any())
            largest = int(counts.max(initial=0))
            # reference: src/misc.cpp:82-97
            self.skip_col[c.name] = (largest > self.nrows - min_cond) or (largest <= 1)
            ps, pr = prop_small_and_prior(counts, self.nrows, cfg.z_norm)
            self.prop_small[c.name] = ps
            self.prior[c.name] = pr

    @staticmethod
    def _col_decimals(good: np.ndarray) -> int:
        from ..functions.stats import decimals_diff
        if good.shape[0] < 2:
            return 0
        mean = float(good.mean())
        sd = float(good.std(ddof=1)) if good.shape[0] > 1 else 0.0
        d = max(0, decimals_diff(mean, float(good.min())))
        d = max(d, decimals_diff(mean, float(good.max())))
        d = max(d, decimals_diff(0.0, sd))
        return d


class _ColumnFit:
    """Workspace for fitting one target column (reference Workspace struct)."""

    def __init__(self, ctx: _FitContext, target: FitColumn,
                 stale_has_outliers: bool = False):
        self.ctx = ctx
        self.cfg = ctx.cfg
        self.target = target
        # Mirrors the reference's Workspace.has_outliers, which at
        # process_numeric_col:559-568 still holds the LAST branch-cluster
        # result of the previously fitted column (it is only assigned per
        # split branch, never reset; the root-cluster call assigns
        # col_has_outliers instead).  This makes root-outlier removal depend
        # on the previous column -- deliberate parity with the reference,
        # verified by the tools/diff_vs_reference.py harness.  Only numeric
        # targets read it, and they come first in column order, so
        # fit_arrays fits them as one ordered chain that hands the flag on;
        # categorical and ordinal targets never read it.
        self.has_outliers = stale_has_outliers
        self.trees: list[dict] = []
        self.clusters: list[dict] = []
        self.state = RowState(ctx.nrows)
        self.exhausted: set[str] = set()
        self.col_has_outliers = False
        # numeric transform state
        self.exp_transf = False
        self.log_transf = False
        self.log_minval = 0.0
        self.orig_mean = 0.0
        self.orig_sd = 1.0
        self.left_tail = -math.inf
        self.right_tail = math.inf
        self.y = None          # working target (possibly transformed)
        self.y_orig = None
        # categorical state
        self.codes = None      # original codes
        self.y_bin = None      # binarized target (binarize mode)
        self.col_is_bin = False
        self.ncat = 0
        self.is_ord = False
        self.already_split_main = False
        self.base_info = 0.0
        self.base_info_orig = 0.0

    # ------------------------------------------------------------------
    def predictors(self):
        """(column, kind) candidates in reference order."""
        for c in self.ctx.numeric:
            yield c, "numeric"
        for c in self.ctx.categ:
            yield c, "categorical"
        for c in self.ctx.ordinal:
            yield c, "ordinal"

    def _follow_all_subtree(self, rows, tree_from: int, depth: int,
                            is_na_branch: bool, own: dict,
                            push_col: str | None, rec_fn) -> None:
        """follow_all mode: recurse into this qualifying branch as its own
        subtree (reference all_branches, fit_model.cpp:644-654 etc.)."""
        cfg = self.cfg
        if not cfg.follow_all or (depth + 1) >= cfg.max_depth:
            return
        child = len(self.trees)
        self.trees[tree_from]["all_branches"].append(child)
        t = _new_tree(tree_from, "allbranch", depth + 1)
        t["own"] = own
        self.trees.append(t)
        pushed = []
        if push_col is not None:
            self.exhausted.add(push_col)
            pushed.append(push_col)
        rec_fn(rows, child, depth + 1, is_na_branch)
        self._restore_exhausted(pushed)

    def _drop_tree_if_not_needed(self, tree_ix: int) -> None:
        t = self.trees[tree_ix]
        needed = (
            t["tree_NA"] or t["tree_left"] or t["tree_right"] or t["clusters"]
            or (t["binary_branches"] and max(t["binary_branches"]) > 0)
            or (t["all_branches"] and max(t["all_branches"]) > 0)
        )
        if needed:
            return
        if tree_ix == 0:
            self.trees.clear()
            return
        parent = self.trees[t["parent"]]
        br = t["parent_branch"]
        if br == "allbranch":
            if parent["all_branches"] and parent["all_branches"][-1] == tree_ix:
                parent["all_branches"].pop()
                if tree_ix == len(self.trees) - 1:
                    self.trees.pop()
            return
        if parent["binary_branches"] and tree_ix in parent["binary_branches"]:
            parent["binary_branches"] = [0 if b == tree_ix else b
                                         for b in parent["binary_branches"]]
        elif br == "isna":
            parent["tree_NA"] = 0
        elif br in ("le", "in", "subtrees"):
            parent["tree_left"] = 0
        elif br in ("gt", "notin"):
            parent["tree_right"] = 0
        if tree_ix == len(self.trees) - 1:
            self.trees.pop()

    # ------------------------------------------------------------------
    # numeric target
    # ------------------------------------------------------------------
    def fit_numeric(self) -> None:
        from ..functions.stats import check_for_tails

        cfg = self.cfg
        v = self.target.values
        self.y_orig = v
        ix = np.flatnonzero(np.isfinite(v))
        if ix.shape[0] < 8:
            return
        xs = np.sort(v[ix])
        mean, _ = welford_mean_sd(xs)
        # reference uses ddof=1 over (end-st) == n-1
        sd_full = float(np.sqrt(np.square(xs.astype(np.longdouble) - mean).sum()
                                / (xs.shape[0] - 1)))
        lt, rt, exp_t, log_t = check_for_tails(xs, cfg.z_norm, cfg.pct_outliers,
                                               mean, sd_full)
        if (exp_t or math.isfinite(lt)) and (log_t or math.isfinite(rt)):
            return  # double-tailed: column not modeled (fit_model.cpp:507-508)
        self.left_tail, self.right_tail = lt, rt
        self.exp_transf, self.log_transf = exp_t, log_t
        y = v.astype(np.float64, copy=True)
        if exp_t:
            self.orig_mean, self.orig_sd = mean, sd_full
            y[ix] = np.exp((v[ix] - mean) / max(sd_full, 1e-12))
        elif log_t:
            self.log_minval = -1.0 if xs[0] == 0 else float(xs[0]) - 1e-3
            y[ix] = np.log(v[ix] - self.log_minval)
        self.y = y

        self.trees.append(_new_tree(0, "root", 0))
        cl = _new_cluster(None, None, None, "root")
        found = define_numerical_cluster(
            y, ix, v, self.state, cl, self.clusters, 0, 0, 0,
            log_t, self.log_minval, exp_t, self.orig_mean, self.orig_sd,
            lt, rt, cfg.pct_outliers, cfg.z_norm, cfg.z_outlier,
            check_nonneg_outliers=True)
        self.clusters.append(cl)
        self.trees[0]["clusters"].append(0)
        self.col_has_outliers = found
        # reference checks the STALE has_outliers here, not `found`
        # (fit_model.cpp:559-568); see __init__ comment
        if self.has_outliers:
            ix = ix[self.state.scores[ix] >= 1.0]
        if self.has_outliers or exp_t or log_t:
            mean_y, sd_y = welford_mean_sd(y[ix])
        else:
            mean_y, sd_y = mean, sd_full
        if cfg.max_depth > 0 and sd_y > 0 and ix.shape[0] >= 2 * cfg.min_size_numeric:
            self._rec_numeric(ix, 0, 0, False, sd_y, mean_y)

    def _branch_partition_numeric_x(self, ix, res: SplitResult):
        return res.na_ix, res.left_ix, res.right_ix

    def _branch_partition_categ_x(self, ix, codes, subset):
        xv = codes[ix]
        na = ix[xv < 0]
        su = np.asarray(subset)
        nn = xv >= 0
        in_l = np.zeros_like(xv, dtype=bool)
        in_l[nn] = su[xv[nn]] == 1
        return na, ix[in_l], ix[nn & ~in_l]

    def _branch_partition_ord_x(self, ix, codes, lev):
        xv = codes[ix]
        na = ix[xv < 0]
        left = ix[(xv >= 0) & (xv <= lev)]
        right = ix[xv > lev]
        return na, left, right

    def _define_num_cluster_branch(self, rows, column_type, col, col_kind,
                                   split_type, split_point, split_subset,
                                   split_lev, has_nab, tree_from, depth) -> bool:
        cl = _new_cluster(column_type, col, col_kind, split_type, split_point,
                          split_subset, split_lev, has_nab, tree_from, depth)
        cfg = self.cfg
        found = define_numerical_cluster(
            self.y, rows, self.y_orig, self.state, cl, self.clusters,
            len(self.clusters), tree_from, depth,
            self.log_transf, self.log_minval, self.exp_transf,
            self.orig_mean, self.orig_sd, self.left_tail, self.right_tail,
            cfg.pct_outliers, cfg.z_norm, cfg.z_outlier, False)
        self.has_outliers = found
        self.trees[tree_from]["clusters"].append(len(self.clusters))
        self.clusters.append(cl)
        return found

    def _rec_numeric(self, ix, tree_from, depth, is_na_branch, sd_y, mean_y):
        cfg = self.cfg
        if depth > 0:
            mean_y, sd_y = welford_mean_sd(self.y[ix])
            if sd_y <= 0:
                self._drop_tree_if_not_needed(tree_from)
                return
        exhausted_here: list[str] = []
        best = None  # (gain, col, kind, res)
        lev_has_outliers = False

        for pred, kind in self.predictors():
            if pred.name == self.target.name:
                continue
            if self.ctx.skip_col.get(pred.name):
                continue
            if pred.name in self.exhausted:
                continue
            if kind == "numeric":
                res = split_numericx_numericy(ix, pred.values, self.y, sd_y,
                                              cfg.min_size_numeric, cfg.take_mid)
            elif kind == "categorical":
                res = split_categx_numericy(ix, pred.values, self.y, sd_y, mean_y,
                                            False, len(pred.levels),
                                            cfg.min_size_numeric)
            else:
                res = split_categx_numericy(ix, pred.values, self.y, sd_y, mean_y,
                                            True, len(pred.levels),
                                            cfg.min_size_numeric)
            if res.has_zero_variance:
                self.exhausted.add(pred.name)
                exhausted_here.append(pred.name)
                continue
            gain = res.gain / sd_y if cfg.gain_as_pct else res.gain
            if not (gain >= cfg.min_gain):
                continue

            if kind == "numeric":
                na_ix, left_ix, right_ix = res.na_ix, res.left_ix, res.right_ix
                ct, sp, ss, sl = "numeric", res.split_point, None, None
                st_l, st_r = "le", "gt"
                push_lr = None
            elif kind == "categorical":
                na_ix, left_ix, right_ix = self._branch_partition_categ_x(
                    ix, pred.values, res.split_subset)
                ct, sp, ss, sl = "categorical", None, res.split_subset, None
                st_l, st_r = "in", "notin"
                push_lr = pred.name if (len(pred.levels) == 2
                                        or res.is_binary_split) else None
            else:
                na_ix, left_ix, right_ix = self._branch_partition_ord_x(
                    ix, pred.values, res.split_lev)
                ct, sp, ss, sl = "ordinal", None, None, res.split_lev
                st_l, st_r = "le", "gt"
                push_lr = pred.name if res.is_binary_split else None

            def _own(branch):
                return {"col": pred.name, "kind": kind, "branch": branch,
                        "point": sp,
                        "subset": [int(x) for x in ss] if ss is not None else None,
                        "lev": sl}

            if na_ix.shape[0] > cfg.min_size_numeric:
                f = self._define_num_cluster_branch(
                    na_ix, ct, pred.name, kind, "isna", None, None, None,
                    True, tree_from, depth + 1)
                lev_has_outliers |= f
                self._follow_all_subtree(na_ix, tree_from, depth, True,
                                         _own("isna"), pred.name,
                                         self._rec_num_follow)
            f = self._define_num_cluster_branch(
                left_ix, ct, pred.name, kind, st_l, sp, ss, sl,
                is_na_branch, tree_from, depth + 1)
            lev_has_outliers |= f
            self._follow_all_subtree(left_ix, tree_from, depth, is_na_branch,
                                     _own(st_l), push_lr, self._rec_num_follow)
            f = self._define_num_cluster_branch(
                right_ix, ct, pred.name, kind, st_r, sp, ss, sl,
                is_na_branch, tree_from, depth + 1)
            lev_has_outliers |= f
            self._follow_all_subtree(right_ix, tree_from, depth, is_na_branch,
                                     _own(st_r), push_lr, self._rec_num_follow)

            if (best is None or gain > best[0]) and not cfg.follow_all:
                best = (gain, pred, kind, res)

        self.col_has_outliers |= lev_has_outliers

        if best is not None and best[0] >= cfg.min_gain:
            depth += 1
            if depth >= cfg.max_depth:
                self._drop_tree_if_not_needed(tree_from)
                self._restore_exhausted(exhausted_here)
                return
            if lev_has_outliers:
                ix = ix[self.state.scores[ix] >= 1.0]
            _, pred, kind, res = best
            node = self.trees[tree_from]
            node["col"] = pred.name
            node["col_kind"] = kind
            best_pushed = []
            if kind == "numeric":
                na_ix, left_ix, right_ix = self._partition_num_x(ix, pred.values,
                                                                 res.split_point)
                node["split_point"] = res.split_point
                spl1, spl2 = "le", "gt"
            elif kind == "categorical":
                na_ix, left_ix, right_ix = self._branch_partition_categ_x(
                    ix, pred.values, res.split_subset)
                node["split_subset"] = [int(s) for s in res.split_subset]
                spl1, spl2 = "in", "notin"
                if len(pred.levels) == 2 or res.is_binary_split:
                    self.exhausted.add(pred.name)
                    best_pushed.append(pred.name)
            else:
                na_ix, left_ix, right_ix = self._branch_partition_ord_x(
                    ix, pred.values, res.split_lev)
                node["split_lev"] = int(res.split_lev)
                spl1, spl2 = "le", "gt"
                if len(pred.levels) == 2 or res.is_binary_split:
                    self.exhausted.add(pred.name)
                    best_pushed.append(pred.name)

            # NA subtree: reference's guard can never hold (fit_model.cpp:1039),
            # so NA branches get clusters but never subtrees; mirrored here.
            if left_ix.shape[0] >= 2 * cfg.min_size_numeric:
                child = len(self.trees)
                node["tree_left"] = child
                self.trees.append(_new_tree(tree_from, spl1, depth))
                self._rec_numeric(left_ix, child, depth, is_na_branch, sd_y, mean_y)
            if right_ix.shape[0] >= 2 * cfg.min_size_numeric:
                child = len(self.trees)
                node["tree_right"] = child
                self.trees.append(_new_tree(tree_from, spl2, depth))
                self._rec_numeric(right_ix, child, depth, is_na_branch, sd_y, mean_y)
            self._restore_exhausted(best_pushed)

        self._drop_tree_if_not_needed(tree_from)
        self._restore_exhausted(exhausted_here)

    def _rec_num_follow(self, rows, child, depth, is_na_branch):
        self._rec_numeric(rows, child, depth, is_na_branch, 1.0, 0.0)

    def _rec_categ_follow(self, rows, child, depth, is_na_branch):
        self._rec_categ(rows, child, depth, is_na_branch)

    @staticmethod
    def _partition_num_x(ix, x, split_point):
        xv = x[ix]
        na = ix[np.isnan(xv)]
        left = ix[xv <= split_point]
        right = ix[(~np.isnan(xv)) & (xv > split_point)]
        return na, left, right

    def _restore_exhausted(self, names) -> None:
        for n in names:
            self.exhausted.discard(n)

    # ------------------------------------------------------------------
    # categorical / ordinal target
    # ------------------------------------------------------------------
    def fit_categ(self, is_ord: bool) -> None:
        cfg = self.cfg
        self.is_ord = is_ord
        codes = self.target.values
        self.codes = codes
        ncat = len(self.target.levels)
        self.ncat = ncat
        ix = np.flatnonzero(codes >= 0)
        if ix.shape[0] < 2 * cfg.min_size_categ:
            return
        self.col_is_bin = ncat <= 2
        counts = self.ctx.cat_counts[self.target.name]
        prop_small = self.ctx.prop_small[self.target.name]
        prior = self.ctx.prior[self.target.name]

        self.trees.append(_new_tree(0, "root", 0))
        is_outlier, has_out, next_most = find_outlier_categories_no_cond(
            counts, ix.shape[0])
        self.col_has_outliers = has_out
        if has_out:
            cl = _new_cluster(None, None, None, "root")
            define_categ_cluster_no_cond(codes, ix, ncat, self.state, cl,
                                         counts, is_outlier, next_most)
            self.clusters.append(cl)
            self.trees[0]["clusters"].append(0)
            ix = ix[self.state.scores[ix] >= 1.0]

        if cfg.max_depth == 0:
            return
        if ncat == 2 and has_out:
            return
        # skip if no category could possibly be flagged (fit_model.cpp:1182-1188)
        denom = ix.shape[0] - cfg.min_size_categ
        if denom <= 0 or not (prop_small > 1.0 / denom).any():
            return

        n_other_categ = len(self.ctx.categ) - (0 if is_ord else 1)
        binarize = (cfg.categ_as_bin if not is_ord else cfg.ord_as_bin)
        if (not binarize) or self.col_is_bin or n_other_categ < 1:
            self.base_info_orig = float(
                ix.shape[0] * math.log(ix.shape[0])
                - sum(c * math.log(c) for c in counts if c > 1))
            self.base_info = self.base_info_orig
            self._rec_categ(ix, 0, 0, False)
        else:
            self.col_is_bin = True
            self.already_split_main = False
            self.base_info_orig = float(
                ix.shape[0] * math.log(ix.shape[0])
                - sum(c * math.log(c) for c in counts if c > 1))
            for cat in range(ncat - (1 if is_ord else 0)):
                if not is_ord:
                    ybin = (codes == cat).astype(np.int64)
                    c1 = int(counts[cat])
                    c0 = ix.shape[0] - c1
                else:
                    ybin = np.where(codes >= 0, (codes <= cat).astype(np.int64), 0)
                    c0 = int(counts[:cat + 1].sum())
                    c1 = ix.shape[0] - c0
                if c0 > 0 and c1 > 0:
                    self.y_bin = ybin
                    bc = np.array([c0, c1], dtype=np.int64)
                    self.base_info = float(
                        ix.shape[0] * math.log(ix.shape[0])
                        - sum(c * math.log(c) for c in bc if c > 1))
                    child = len(self.trees)
                    self.trees[0]["binary_branches"].append(child)
                    self.trees.append(_new_tree(0, "subtrees", 0))
                    self._rec_categ(ix, child, 0, False)

    def _define_categ_cluster_branch(self, rows, column_type, col, col_kind,
                                     split_type, split_point, split_subset,
                                     split_lev, has_nab, tree_from, depth) -> bool:
        cfg = self.cfg
        cl = _new_cluster(column_type, col, col_kind, split_type, split_point,
                          split_subset, split_lev, has_nab, tree_from, depth)
        found, drop = define_categ_cluster(
            self.codes, rows, self.ncat, cfg.categ_from_maj,
            self.state, cl, self.clusters, len(self.clusters), tree_from, depth,
            cfg.pct_outliers, cfg.z_norm, cfg.z_outlier,
            self.ctx.prop_small[self.target.name],
            self.ctx.prior[self.target.name])
        self.has_outliers = found
        if not drop:
            self.trees[tree_from]["clusters"].append(len(self.clusters))
            self.clusters.append(cl)
        return found

    def _rec_categ(self, ix, tree_from, depth, is_na_branch):
        cfg = self.cfg
        ncat = self.ncat
        base_info = self.base_info
        base_info_orig = self.base_info_orig
        if depth > 0:
            sub_counts = np.bincount(self.codes[ix], minlength=ncat)
            base_info_orig = total_info(sub_counts)
            if int((sub_counts > 0).sum()) < 2:
                self._drop_tree_if_not_needed(tree_from)
                return
            if self.col_is_bin and ncat > 2:
                bc = np.bincount(self.y_bin[ix], minlength=2)
                base_info = total_info(bc)
                # '==' mirrors the reference's comparison (fit_model.cpp:1304)
                if bc[0] < cfg.min_size_categ or bc[1] == cfg.min_size_categ:
                    self._drop_tree_if_not_needed(tree_from)
                    return
            else:
                base_info = base_info_orig
        if base_info_orig <= 0:
            self._drop_tree_if_not_needed(tree_from)
            return

        ybin = self.y_bin if (self.col_is_bin and ncat > 2) else None
        ywork = ybin if ybin is not None else self.codes
        exhausted_here: list[str] = []
        best = None  # (gain, pred, kind, res, mode)
        lev_has_outliers = False

        for pred, kind in self.predictors():
            if kind == "numeric":
                if depth == 0 and self.col_is_bin and ncat > 2 and self.already_split_main:
                    continue
            if kind == "ordinal":
                if depth == 0 and self.col_is_bin and ncat > 2 and self.already_split_main:
                    continue
                if self.is_ord and pred.name == self.target.name:
                    continue
            if kind == "categorical" and pred.name == self.target.name and not self.is_ord:
                continue
            if self.ctx.skip_col.get(pred.name):
                continue
            if pred.name in self.exhausted:
                continue

            mode = "subset"
            if kind == "numeric":
                res = split_numericx_categy(ix, pred.values, self.codes, ncat,
                                            base_info_orig, cfg.min_size_categ,
                                            cfg.take_mid)
            elif kind == "categorical":
                ncat_x = len(pred.levels)
                if self.col_is_bin:
                    yb = ywork if ybin is not None else self.codes
                    res = split_categx_biny(ix, pred.values, yb, ncat_x,
                                            base_info, cfg.min_size_categ)
                    if (not res.has_zero_variance and math.isfinite(res.gain)
                            and ncat > 2):
                        na_ix, l_ix, r_ix = self._branch_partition_categ_x(
                            ix, pred.values, res.split_subset)
                        res.gain = categ_gain_from_split(
                            na_ix, l_ix, r_ix, self.codes, ncat, base_info_orig)
                elif cfg.cat_bruteforce_subset and ncat_x > 2:
                    res = split_categx_categy_subset(
                        ix, pred.values, self.codes, ncat_x, ncat,
                        base_info_orig, cfg.min_size_categ)
                else:
                    res = split_categx_categy_separate(
                        ix, pred.values, self.codes, ncat_x, ncat,
                        base_info_orig, cfg.min_size_categ)
                    mode = "separate"
            else:
                res = split_ordx_categy(ix, pred.values, self.codes, ncat,
                                        len(pred.levels), base_info_orig,
                                        cfg.min_size_categ)
            if res.has_zero_variance:
                self.exhausted.add(pred.name)
                exhausted_here.append(pred.name)
                continue
            gain = res.gain / base_info_orig if cfg.gain_as_pct else res.gain
            if not (gain >= cfg.min_gain):
                continue

            def _own(branch, point=None, subset=None, lev=None):
                return {"col": pred.name, "kind": kind, "branch": branch,
                        "point": point,
                        "subset": [int(x) for x in subset] if subset is not None else None,
                        "lev": lev}

            if kind == "numeric":
                na_ix, left_ix, right_ix = res.na_ix, res.left_ix, res.right_ix
                if na_ix.shape[0] > cfg.min_size_categ:
                    lev_has_outliers |= self._define_categ_cluster_branch(
                        na_ix, "numeric", pred.name, kind, "isna",
                        None, None, None, True, tree_from, depth + 1)
                    self._follow_all_subtree(na_ix, tree_from, depth, True,
                                             _own("isna"), pred.name,
                                             self._rec_categ_follow)
                lev_has_outliers |= self._define_categ_cluster_branch(
                    left_ix, "numeric", pred.name, kind, "le",
                    res.split_point, None, None, is_na_branch, tree_from, depth + 1)
                self._follow_all_subtree(left_ix, tree_from, depth, is_na_branch,
                                         _own("le", point=res.split_point),
                                         None, self._rec_categ_follow)
                lev_has_outliers |= self._define_categ_cluster_branch(
                    right_ix, "numeric", pred.name, kind, "gt",
                    res.split_point, None, None, is_na_branch, tree_from, depth + 1)
                self._follow_all_subtree(right_ix, tree_from, depth, is_na_branch,
                                         _own("gt", point=res.split_point),
                                         None, self._rec_categ_follow)
            elif kind == "categorical":
                ncat_x = len(pred.levels)
                xv = pred.values[ix]
                na_ix = ix[xv < 0]
                if na_ix.shape[0] > cfg.min_size_categ:
                    lev_has_outliers |= self._define_categ_cluster_branch(
                        na_ix, "categorical", pred.name, kind, "isna",
                        None, None, None, True, tree_from, depth + 1)
                    self._follow_all_subtree(na_ix, tree_from, depth, True,
                                             _own("isna"), pred.name,
                                             self._rec_categ_follow)
                if mode == "separate" and ncat_x > 2:
                    present = [c for c in range(ncat_x)
                               if (pred.values[ix] == c).any()]
                    for cat_x in present:
                        rows = ix[pred.values[ix] == cat_x]
                        # reference requires >= min_size for middle categories
                        # but strictly > for the last one (fit_model.cpp:1565,1601)
                        need = (cfg.min_size_categ + 1 if cat_x == present[-1]
                                else cfg.min_size_categ)
                        if rows.shape[0] >= need:
                            lev_has_outliers |= self._define_categ_cluster_branch(
                                rows, "categorical", pred.name, kind, "eq",
                                None, None, cat_x, is_na_branch, tree_from, depth + 1)
                            self._follow_all_subtree(
                                rows, tree_from, depth, is_na_branch,
                                _own("eq", lev=cat_x), pred.name,
                                self._rec_categ_follow)
                else:
                    if ncat_x == 2:
                        subset = np.array([1, 0], dtype=np.int8)
                        nn = xv >= 0
                        l_ix = ix[nn & (xv == 0)]
                        r_ix = ix[nn & (xv == 1)]
                        if (l_ix.shape[0] < cfg.min_size_categ
                                or r_ix.shape[0] < cfg.min_size_categ):
                            continue
                    else:
                        subset = res.split_subset
                        _, l_ix, r_ix = self._branch_partition_categ_x(
                            ix, pred.values, subset)
                    push_lr = pred.name if (ncat_x == 2 or res.is_binary_split) \
                        else None
                    lev_has_outliers |= self._define_categ_cluster_branch(
                        l_ix, "categorical", pred.name, kind, "in",
                        None, subset, None, is_na_branch, tree_from, depth + 1)
                    self._follow_all_subtree(l_ix, tree_from, depth, is_na_branch,
                                             _own("in", subset=subset), push_lr,
                                             self._rec_categ_follow)
                    lev_has_outliers |= self._define_categ_cluster_branch(
                        r_ix, "categorical", pred.name, kind, "notin",
                        None, subset, None, is_na_branch, tree_from, depth + 1)
                    self._follow_all_subtree(r_ix, tree_from, depth, is_na_branch,
                                             _own("notin", subset=subset), push_lr,
                                             self._rec_categ_follow)
                    res.split_subset = subset
            else:
                na_ix, left_ix, right_ix = self._branch_partition_ord_x(
                    ix, pred.values, res.split_lev)
                push_lr = pred.name if res.is_binary_split else None
                if na_ix.shape[0] > cfg.min_size_categ:
                    lev_has_outliers |= self._define_categ_cluster_branch(
                        na_ix, "ordinal", pred.name, kind, "isna",
                        None, None, None, True, tree_from, depth + 1)
                    self._follow_all_subtree(na_ix, tree_from, depth, True,
                                             _own("isna"), pred.name,
                                             self._rec_categ_follow)
                lev_has_outliers |= self._define_categ_cluster_branch(
                    left_ix, "ordinal", pred.name, kind, "le",
                    None, None, res.split_lev, is_na_branch, tree_from, depth + 1)
                self._follow_all_subtree(left_ix, tree_from, depth, is_na_branch,
                                         _own("le", lev=res.split_lev), push_lr,
                                         self._rec_categ_follow)
                lev_has_outliers |= self._define_categ_cluster_branch(
                    right_ix, "ordinal", pred.name, kind, "gt",
                    None, None, res.split_lev, is_na_branch, tree_from, depth + 1)
                self._follow_all_subtree(right_ix, tree_from, depth, is_na_branch,
                                         _own("gt", lev=res.split_lev), push_lr,
                                         self._rec_categ_follow)

            if (best is None or gain > best[0]) and not cfg.follow_all:
                best = (gain, pred, kind, res, mode)

        self.col_has_outliers |= lev_has_outliers

        if best is not None and best[0] >= cfg.min_gain:
            depth += 1
            if depth < cfg.max_depth:
                if lev_has_outliers:
                    ix = ix[self.state.scores[ix] >= 1.0]
                _, pred, kind, res, mode = best
                node = self.trees[tree_from]
                node["col"] = pred.name
                node["col_kind"] = kind
                best_pushed = []
                if kind == "numeric":
                    na_ix, left_ix, right_ix = self._partition_num_x(
                        ix, pred.values, res.split_point)
                    node["split_point"] = res.split_point
                    spl1, spl2 = "le", "gt"
                elif kind == "ordinal":
                    na_ix, left_ix, right_ix = self._branch_partition_ord_x(
                        ix, pred.values, res.split_lev)
                    node["split_lev"] = int(res.split_lev)
                    spl1, spl2 = "le", "gt"
                    if len(pred.levels) == 2 or res.is_binary_split:
                        self.exhausted.add(pred.name)
                        best_pushed.append(pred.name)
                else:
                    ncat_x = len(pred.levels)
                    if ncat_x == 2:
                        subset = np.array([1, 0], dtype=np.int8)
                        na_ix, left_ix, right_ix = self._branch_partition_categ_x(
                            ix, pred.values, subset)
                        node["split_subset"] = [1, 0]
                        spl1, spl2 = "in", "notin"
                        self.exhausted.add(pred.name)
                        best_pushed.append(pred.name)
                    elif self.col_is_bin or cfg.cat_bruteforce_subset:
                        na_ix, left_ix, right_ix = self._branch_partition_categ_x(
                            ix, pred.values, res.split_subset)
                        node["split_subset"] = [int(s) for s in res.split_subset]
                        spl1, spl2 = "in", "notin"
                        if res.is_binary_split:
                            self.exhausted.add(pred.name)
                            best_pushed.append(pred.name)
                    else:
                        # separate mode: one subtree per predictor category
                        node["split_subset"] = None
                        node["binary_branches"] = [0] * ncat_x
                        self.exhausted.add(pred.name)
                        best_pushed.append(pred.name)
                        for cat_x in range(ncat_x):
                            rows = ix[pred.values[ix] == cat_x]
                            if rows.shape[0] >= 2 * cfg.min_size_categ:
                                child = len(self.trees)
                                node["binary_branches"][cat_x] = child
                                t = _new_tree(tree_from, "subtrees", depth)
                                t["branch_lev"] = cat_x  # condition: col == cat_x
                                self.trees.append(t)
                                self._rec_categ(rows, child, depth, is_na_branch)
                        self._restore_exhausted(best_pushed)
                        self._drop_tree_if_not_needed(tree_from)
                        self._restore_exhausted(exhausted_here)
                        return

                # NA subtree never taken (same reference quirk as numeric)
                if left_ix.shape[0] >= 2 * cfg.min_size_categ:
                    child = len(self.trees)
                    node["tree_left"] = child
                    self.trees.append(_new_tree(tree_from, spl1, depth))
                    self._rec_categ(left_ix, child, depth, is_na_branch)
                # reference uses strict '>' for the right branch (line 2053)
                if right_ix.shape[0] > 2 * cfg.min_size_categ:
                    child = len(self.trees)
                    node["tree_right"] = child
                    self.trees.append(_new_tree(tree_from, spl2, depth))
                    self._rec_categ(right_ix, child, depth, is_na_branch)
                self._restore_exhausted(best_pushed)

        if depth == 0 and self.col_is_bin and ncat > 2 and not self.already_split_main:
            self.already_split_main = True
        self._drop_tree_if_not_needed(tree_from)
        self._restore_exhausted(exhausted_here)


def _simplify_cluster_conditions(clusters: list[dict], levels: dict[str, list]) -> None:
    """C7: rewrite singleton subset conditions to eq/neq
    (src/clusters.cpp:699-800)."""
    for cl in clusters:
        if cl["split_type"] == "isna":
            continue
        if cl["column_type"] == "categorical" and cl["split_subset"] is not None:
            ss = cl["split_subset"]
            if len(ss) == 2:
                col_equal = (0 if ss[0] else 1) if cl["split_type"] == "in" else (1 if ss[0] else 0)
                cl["split_type"] = "eq"
                cl["split_lev"] = col_equal
                cl["split_subset"] = None
            else:
                if any(s < 0 for s in ss):
                    continue
                n_in = sum(1 for s in ss if s > 0)
                if n_in == 1:
                    col_equal = next(i for i, s in enumerate(ss) if s > 0)
                    cl["split_type"] = "eq" if cl["split_type"] == "in" else "neq"
                    cl["split_lev"] = col_equal
                    cl["split_subset"] = None
                elif n_in == len(ss) - 1:
                    col_equal = next(i for i, s in enumerate(ss) if s == 0)
                    cl["split_type"] = "eq" if cl["split_type"] == "notin" else "neq"
                    cl["split_lev"] = col_equal
                    cl["split_subset"] = None
        elif cl["column_type"] == "ordinal" and cl["split_lev"] is not None:
            ncat_x = len(levels.get(cl["col"], []))
            if cl["split_lev"] == 0:
                cl["split_type"] = "eq" if cl["split_type"] == "le" else "neq"
            elif ncat_x >= 2 and cl["split_lev"] == ncat_x - 2:
                cl["split_lev"] += 1
                cl["split_type"] = "eq" if cl["split_type"] == "gt" else "neq"


@dataclass
class _TargetFit:
    """What the serial merge walk needs from one finished target fit: its
    trees, clusters and transform scalars, and the RowState entries of the
    rows it flagged.  The fit's working arrays are not kept."""
    col: FitColumn
    trees: list
    clusters: list
    col_has_outliers: bool
    transf: str
    orig_mean: float
    orig_sd: float
    log_minval: float
    left_tail: float
    right_tail: float
    rows: np.ndarray               # flagged rows (score < 1), ascending
    scores: np.ndarray             # RowState entries of those rows
    cluster: np.ndarray
    tree: np.ndarray
    depth: np.ndarray
    nab: np.ndarray


def _fit_chain(ctx: _FitContext, cols: list[FitColumn]) -> list[_TargetFit]:
    """Fit ``cols`` in order, handing each target's stale ``has_outliers``
    on to the next (see ``_ColumnFit.__init__``)."""
    fits = []
    stale_has_outliers = False
    for col in cols:
        w = _ColumnFit(ctx, col, stale_has_outliers)
        if col.kind == "numeric":
            w.fit_numeric()
        else:
            w.fit_categ(is_ord=(col.kind == "ordinal"))
        stale_has_outliers = w.has_outliers
        st = w.state
        rows = np.flatnonzero(st.scores < 1.0)
        fits.append(_TargetFit(
            col, w.trees, w.clusters, w.col_has_outliers,
            "exp" if w.exp_transf else ("log" if w.log_transf else "none"),
            w.orig_mean, w.orig_sd, w.log_minval, w.left_tail, w.right_tail,
            rows, st.scores[rows], st.cluster[rows], st.tree[rows],
            st.depth[rows], st.cl_nab[rows]))
    return fits


def _driver_cpus() -> int:
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def _fit_targets(ctx: _FitContext) -> list[_TargetFit]:
    """Fit every modeled target, in column order, on a thread pool: the
    non-skipped numeric targets as one ordered chain (they pass the stale
    flag along), each categorical or ordinal target as its own task."""
    numeric = [c for c in ctx.numeric if not ctx.skip_col[c.name]]
    chains = ([numeric] if numeric else []) + [[c] for c in ctx.categ + ctx.ordinal]
    if not chains:
        return []
    workers = min(len(chains), _driver_cpus())
    with ThreadPoolExecutor(max_workers=workers,
                            thread_name_prefix="fit_arrays") as pool:
        futures = [pool.submit(_fit_chain, ctx, chain) for chain in chains]
        try:
            return [fit for f in futures for fit in f.result()]
        except BaseException:
            for f in futures:
                f.cancel()
            raise


def fit_arrays(columns: list[FitColumn], cfg: ValidationConfig) -> dict:
    """Fit the full model over in-memory columns; returns a plain-dict,
    JSON-serializable model ready to broadcast."""
    ctx = _FitContext(columns, cfg)
    nrows = ctx.nrows
    levels_by_col = {c.name: (c.levels or []) for c in ctx.columns}

    final = {
        "scores": np.ones(nrows, dtype=np.float64),
        "col": np.full(nrows, -1, dtype=np.int64),
        "cluster": np.zeros(nrows, dtype=np.int64),
        "tree": np.zeros(nrows, dtype=np.int64),
        "depth": np.zeros(nrows, dtype=np.int64),
        "nab": np.zeros(nrows, dtype=bool),
        "size": np.zeros(nrows, dtype=np.int64),
    }

    col_models = []
    for fit in _fit_targets(ctx):
        col = fit.col
        if not fit.clusters or not fit.trees or _tree_not_needed(fit.trees[0]):
            continue
        _simplify_cluster_conditions(fit.clusters, levels_by_col)

        cm = {
            "name": col.name, "kind": col.kind,
            "is_bool": col.is_bool, "is_ts": col.is_ts, "ts_min": col.ts_min,
            "levels": col.levels,
            "transf": fit.transf,
            "orig_mean": fit.orig_mean, "orig_sd": fit.orig_sd,
            "log_minval": fit.log_minval,
            "left_tail": fit.left_tail, "right_tail": fit.right_tail,
            "decimals": ctx.decimals.get(col.name, 0),
            "trees": fit.trees, "clusters": fit.clusters,
            "prior_prob": (ctx.prior.get(col.name, np.array([])).tolist()
                           if col.kind != "numeric" else None),
        }
        if col.kind == "numeric":
            lims = [c["lower_lim"] for c in fit.clusters]
            ulims = [c["upper_lim"] for c in fit.clusters]
            cm["min_outlier_any"] = max(lims) if lims else -math.inf
            cm["max_outlier_any"] = min(ulims) if ulims else math.inf
        else:
            ncat = len(col.levels)
            flag = [False] * ncat
            for c in fit.clusters:
                sc = c.get("subset_common")
                if sc:
                    for cat in range(min(ncat, len(sc))):
                        if sc[cat] != 0:
                            flag[cat] = True
            cm["cat_outlier_any"] = flag
        col_models.append(cm)

        # merge this column's per-row winners (fit_model.cpp:353-407)
        if fit.col_has_outliers:
            _merge_final(final, fit, len(col_models) - 1)

    model = {
        "config": cfg.to_dict(),
        "nrows_fit": nrows,
        "columns": col_models,
    }
    model["_train_rows"] = final
    return model


def _tree_not_needed(t: dict) -> bool:
    return not (
        t["tree_NA"] or t["tree_left"] or t["tree_right"] or t["clusters"]
        or (t["binary_branches"] and max(t["binary_branches"]) > 0)
        or (t["all_branches"] and max(t["all_branches"]) > 0)
    )


def _merge_final(final: dict, fit: _TargetFit, model_col_ix: int) -> None:
    """Fit-side per-row winner merge across target columns
    (fit_model.cpp:353-407): this column's flagged row wins over the
    current winner by depth, NA branch, cluster size, then score."""
    r = fit.rows
    new_depth, new_nab, new_score = fit.depth, fit.nab, fit.scores
    new_size = np.array([fit.clusters[c]["cluster_size"] for c in fit.cluster],
                        dtype=np.int64)
    old_depth, old_nab = final["depth"][r], final["nab"][r]
    old_size, old_score = final["size"][r], final["scores"][r]
    same = (new_depth == old_depth) & (new_nab == old_nab)
    take = (
        (old_score >= 1.0)
        | ((new_depth < old_depth) & (~new_nab | old_nab))
        | (old_nab & ~new_nab)
        | (same & (old_size < new_size))
        | (same & (new_size == old_size) & (new_score < old_score))
    )
    r = r[take]
    final["scores"][r] = new_score[take]
    final["col"][r] = model_col_ix
    final["cluster"][r] = fit.cluster[take]
    final["tree"][r] = fit.tree[take]
    final["depth"][r] = new_depth[take]
    final["nab"][r] = new_nab[take]
    final["size"][r] = new_size[take]

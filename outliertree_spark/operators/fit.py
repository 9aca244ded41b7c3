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
``_ColumnFit.__init__``).  Every target is its own task, fitted as if
that flag were False; a walk in column order then refits, on the calling
thread, each numeric target whose predecessor left True.  Simplifying
the cluster conditions and merging the per-row winners stay one walk in
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


# the (left, right) branches of a split, by predictor kind
_SIDES = {"numeric": ("le", "gt"), "ordinal": ("le", "gt"),
          "categorical": ("in", "notin")}
_NO_ARGS = (None, None, None)
# float slack on the categorical-target gain bound in _rec_categ
_GAIN_EPS = 1e-9


def _split_args(kind: str, res: SplitResult) -> tuple:
    """A split's (point, subset, lev): the one its predictor kind fills."""
    if kind == "numeric":
        return res.split_point, None, None
    if kind == "categorical":
        return None, res.split_subset, None
    return None, None, res.split_lev


def _push_col(pred: FitColumn, kind: str, res: SplitResult) -> str | None:
    """The predictor a split exhausts below its branches: a categorical or
    ordinal one once each side keeps one level, or a separate-mode split
    (one branch per level, no subset)."""
    if kind == "numeric":
        return None
    if (len(pred.levels) == 2 or res.is_binary_split
            or (kind == "categorical" and res.split_subset is None)):
        return pred.name
    return None


def _info(n: int, counts) -> float:
    """n ln n - sum c ln c over the counts above 1."""
    return float(n * math.log(n) - sum(c * math.log(c) for c in counts if c > 1))


def _partition(ix, pred: FitColumn, kind: str, res: SplitResult):
    """(NA, left, right) rows of ``ix`` under a split of ``pred``.  A
    separate-mode split (categorical, no subset) has no sides: both are
    None."""
    xv = pred.values[ix]
    if kind == "numeric":
        na = np.isnan(xv)
        left = xv <= res.split_point
    else:
        na = xv < 0
        if kind == "ordinal":
            left = ~na & (xv <= res.split_lev)
        elif res.split_subset is None:
            return ix[na], None, None
        else:
            left = np.zeros_like(na)
            left[~na] = np.asarray(res.split_subset)[xv[~na]] == 1
    return ix[na], ix[left], ix[~na & ~left]


def _branch_rows(ix, pred: FitColumn, kind: str, res: SplitResult):
    """(NA, left, right) rows of a candidate split: a numeric predictor's
    as the split kernel found them, the others by ``_partition``."""
    if kind == "numeric":
        return res.na_ix, res.left_ix, res.right_ix
    return _partition(ix, pred, kind, res)


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
        self.cfg = cfg = ctx.cfg
        self.target = target
        self.min_size = (cfg.min_size_numeric if target.kind == "numeric"
                         else cfg.min_size_categ)
        # Mirrors the reference's Workspace.has_outliers, which at
        # process_numeric_col:559-568 still holds the LAST branch-cluster
        # result of the previously fitted column (it is only assigned per
        # split branch, never reset; the root-cluster call assigns
        # col_has_outliers instead).  This makes root-outlier removal depend
        # on the previous column -- deliberate parity with the reference,
        # verified by the tools/diff_vs_reference.py harness.  Only numeric
        # targets read it, and they come first in column order, so
        # _fit_targets fits every target with False and refits a numeric
        # target whose predecessor left True; categorical and ordinal
        # targets never read it.
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
        self.already_split_main = False
        self.base_info = 0.0
        self.base_info_orig = 0.0

    # ------------------------------------------------------------------
    def predictors(self):
        """(column, kind) split candidates in reference order: every column
        but the target, the skipped ones and those exhausted on this path."""
        for c in self.ctx.columns:
            if (c.name != self.target.name and not self.ctx.skip_col[c.name]
                    and c.name not in self.exhausted):
                yield c, c.kind

    def _define_cluster(self, rows, pred, kind, branch, args, is_na,
                        tree_from, depth) -> bool:
        """The 1-D cluster of one split branch, numeric or categorical by
        the target; returns whether it flagged rows."""
        cfg = self.cfg
        cl = _new_cluster(kind, pred.name, kind, branch, *args, is_na,
                          tree_from, depth)
        if self.target.kind == "numeric":
            found = define_numerical_cluster(
                self.y, rows, self.y_orig, self.state, cl, self.clusters,
                len(self.clusters), tree_from, depth,
                self.log_transf, self.log_minval, self.exp_transf,
                self.orig_mean, self.orig_sd, self.left_tail, self.right_tail,
                cfg.pct_outliers, cfg.z_norm, cfg.z_outlier, False)
            drop = False
        else:
            found, drop = define_categ_cluster(
                self.codes, rows, self.ncat, cfg.categ_from_maj,
                self.state, cl, self.clusters, len(self.clusters), tree_from,
                depth, cfg.pct_outliers, cfg.z_norm, cfg.z_outlier,
                self.ctx.prop_small[self.target.name],
                self.ctx.prior[self.target.name])
        # stale for the next target: the last branch cluster's result
        self.has_outliers = found
        if not drop:
            self.trees[tree_from]["clusters"].append(len(self.clusters))
            self.clusters.append(cl)
        return found

    def _branch(self, rows, pred, kind, branch, args, is_na, tree_from,
                depth, push, own_args=None) -> bool:
        """One branch of a candidate split of node ``tree_from``: its
        cluster, then in follow_all mode its own subtree, with ``push``
        exhausted below it (reference all_branches, fit_model.cpp:644-654).
        ``args`` is the cluster's (point, subset, lev); the subtree's
        ``own`` records ``own_args``, by default the same."""
        found = self._define_cluster(rows, pred, kind, branch, args, is_na,
                                     tree_from, depth + 1)
        cfg = self.cfg
        if not cfg.follow_all or depth + 1 >= cfg.max_depth:
            return found
        point, subset, lev = args if own_args is None else own_args
        child = len(self.trees)
        self.trees[tree_from]["all_branches"].append(child)
        t = _new_tree(tree_from, "allbranch", depth + 1)
        t["own"] = {"col": pred.name, "kind": kind, "branch": branch,
                    "point": point,
                    "subset": [int(x) for x in subset] if subset is not None else None,
                    "lev": lev}
        self.trees.append(t)
        if push is not None:
            self.exhausted.add(push)
        self._recurse(rows, child, depth + 1, is_na)
        self.exhausted.discard(push)
        return found

    def _na_branch(self, rows, pred, kind, res, tree_from, depth) -> bool:
        """The NA branch of a candidate split, taken with more rows than the
        target's min size.  A numeric target's subtree records the split's
        arguments in ``own`` and a categorical target's none; conditions
        ignore them on an NA branch, the model keeps them as fitted."""
        if rows.shape[0] <= self.min_size:
            return False
        own = _split_args(kind, res) if self.target.kind == "numeric" else _NO_ARGS
        return self._branch(rows, pred, kind, "isna", _NO_ARGS, True,
                            tree_from, depth, pred.name, own)

    def _side_branches(self, left, right, pred, kind, res, is_na, tree_from,
                       depth) -> bool:
        """The le/gt (numeric, ordinal) or in/notin (subset) branches."""
        lo, hi = _SIDES[kind]
        args = _split_args(kind, res)
        push = _push_col(pred, kind, res)
        found = self._branch(left, pred, kind, lo, args, is_na, tree_from,
                             depth, push)
        found |= self._branch(right, pred, kind, hi, args, is_na, tree_from,
                              depth, push)
        return found

    def _split_node(self, ix, pred, kind, res, is_na, tree_from, depth) -> None:
        """Split node ``tree_from`` by its best candidate: record the split,
        exhaust the predictor when each side keeps one level, and fit a
        subtree on each side with at least twice the min size of rows.
        The NA side never gets one: the reference's guard can never hold
        (fit_model.cpp:1039)."""
        node = self.trees[tree_from]
        node["col"], node["col_kind"] = pred.name, kind
        if kind == "numeric":
            node["split_point"] = res.split_point
        elif kind == "ordinal":
            node["split_lev"] = int(res.split_lev)
        elif res.split_subset is not None:
            node["split_subset"] = [int(s) for s in res.split_subset]
        push = _push_col(pred, kind, res)
        if push is not None:
            self.exhausted.add(push)
        need = 2 * self.min_size
        if kind == "categorical" and res.split_subset is None:
            # separate mode: one subtree per predictor level
            node["binary_branches"] = [0] * len(pred.levels)
            for cat_x in range(len(pred.levels)):
                rows = ix[pred.values[ix] == cat_x]
                if rows.shape[0] >= need:
                    child = len(self.trees)
                    node["binary_branches"][cat_x] = child
                    t = _new_tree(tree_from, "subtrees", depth + 1)
                    t["branch_lev"] = cat_x  # condition: col == cat_x
                    self.trees.append(t)
                    self._recurse(rows, child, depth + 1, is_na)
        else:
            _, left, right = _partition(ix, pred, kind, res)
            lo, hi = _SIDES[kind]
            # a categorical target's right side needs strictly more rows
            # (reference fit_model.cpp:2053)
            right_need = need + (self.target.kind != "numeric")
            for slot, branch, rows, n in (("tree_left", lo, left, need),
                                          ("tree_right", hi, right, right_need)):
                if rows.shape[0] >= n:
                    child = len(self.trees)
                    node[slot] = child
                    self.trees.append(_new_tree(tree_from, branch, depth + 1))
                    self._recurse(rows, child, depth + 1, is_na)
        self.exhausted.discard(push)

    def _recurse(self, rows, tree_from, depth, is_na) -> None:
        if self.target.kind == "numeric":
            self._rec_numeric(rows, tree_from, depth, is_na)
        else:
            self._rec_categ(rows, tree_from, depth, is_na)

    def _qualifies(self, res, pred, scale, exhausted_here) -> float | None:
        """The candidate's gain when it reaches ``min_gain``; a predictor
        constant on these rows is exhausted below this node."""
        if res.has_zero_variance:
            self.exhausted.add(pred.name)
            exhausted_here.append(pred.name)
            return None
        gain = res.gain / scale if self.cfg.gain_as_pct else res.gain
        return gain if gain >= self.cfg.min_gain else None

    def _drop_tree_if_not_needed(self, tree_ix: int) -> None:
        t = self.trees[tree_ix]
        if not _tree_not_needed(t):
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

    def _rec_numeric(self, ix, tree_from, depth, is_na_branch,
                     sd_y=None, mean_y=None):
        """Below the root the target's moments come from ``ix``."""
        cfg = self.cfg
        if depth > 0:
            mean_y, sd_y = welford_mean_sd(self.y[ix])
            if sd_y <= 0:
                self._drop_tree_if_not_needed(tree_from)
                return
        exhausted_here: list[str] = []
        best = None  # (gain, pred, kind, res)
        lev_has_outliers = False

        for pred, kind in self.predictors():
            if kind == "numeric":
                res = split_numericx_numericy(ix, pred.values, self.y, sd_y,
                                              self.min_size, cfg.take_mid)
            else:
                res = split_categx_numericy(ix, pred.values, self.y, sd_y, mean_y,
                                            kind == "ordinal", len(pred.levels),
                                            self.min_size)
            gain = self._qualifies(res, pred, sd_y, exhausted_here)
            if gain is None:
                continue
            na_ix, left_ix, right_ix = _branch_rows(ix, pred, kind, res)
            lev_has_outliers |= self._na_branch(na_ix, pred, kind, res,
                                                tree_from, depth)
            lev_has_outliers |= self._side_branches(
                left_ix, right_ix, pred, kind, res, is_na_branch, tree_from, depth)
            if (best is None or gain > best[0]) and not cfg.follow_all:
                best = (gain, pred, kind, res)

        self.col_has_outliers |= lev_has_outliers
        if best is not None and depth + 1 < cfg.max_depth:
            if lev_has_outliers:
                ix = ix[self.state.scores[ix] >= 1.0]
            self._split_node(ix, *best[1:], is_na_branch, tree_from, depth)
        self._drop_tree_if_not_needed(tree_from)
        self.exhausted.difference_update(exhausted_here)

    # ------------------------------------------------------------------
    # categorical / ordinal target
    # ------------------------------------------------------------------
    def fit_categ(self, is_ord: bool) -> None:
        cfg = self.cfg
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
        self.base_info_orig = _info(ix.shape[0], counts)
        if (not binarize) or self.col_is_bin or n_other_categ < 1:
            self.base_info = self.base_info_orig
            self._rec_categ(ix, 0, 0, False)
        else:
            self.col_is_bin = True
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
                    self.base_info = _info(ix.shape[0], (c0, c1))
                    child = len(self.trees)
                    self.trees[0]["binary_branches"].append(child)
                    self.trees.append(_new_tree(0, "subtrees", 0))
                    self._rec_categ(ix, child, 0, False)

    def _rec_categ(self, ix, tree_from, depth, is_na_branch):
        """``y_bin`` is set only when a multi-level target is binarized."""
        cfg = self.cfg
        ncat = self.ncat
        ybin = self.y_bin
        base_info = self.base_info
        base_info_orig = self.base_info_orig
        if depth > 0:
            sub_counts = np.bincount(self.codes[ix], minlength=ncat)
            base_info_orig = total_info(sub_counts)
            if int((sub_counts > 0).sum()) < 2:
                self._drop_tree_if_not_needed(tree_from)
                return
            if ybin is not None:
                bc = np.bincount(ybin[ix], minlength=2)
                base_info = total_info(bc)
                # '==' mirrors the reference's comparison (fit_model.cpp:1304)
                if bc[0] < self.min_size or bc[1] == self.min_size:
                    self._drop_tree_if_not_needed(tree_from)
                    return
            else:
                base_info = base_info_orig
        if base_info_orig <= 0:
            self._drop_tree_if_not_needed(tree_from)
            return

        exhausted_here: list[str] = []
        best = None  # (gain, pred, kind, res)
        lev_has_outliers = False

        # Every gain of a categorical target is (base_info_orig - sum of
        # the branches' info) / ix.shape[0], each branch's info >= 0, so
        # gain / base_info_orig <= 1 / ix.shape[0] (base_info_orig > 0
        # here).  Under gain_as_pct no candidate then reaches min_gain on
        # more than 1 / min_gain rows.  A search that qualifies none adds
        # no branch and no split, and the predictors it exhausts are
        # restored below, so it is skipped; best stays None, so
        # already_split_main is set as the search would set it.
        searched = () if (cfg.gain_as_pct and ix.shape[0] * cfg.min_gain
                          > 1 + _GAIN_EPS) else self.predictors()
        for pred, kind in searched:
            # once a binarized target's subtree ends without a best split at
            # its root (always under follow_all), the later subtrees try
            # only categorical predictors at theirs
            if kind != "categorical" and depth == 0 and self.already_split_main:
                continue
            ncat_x = len(pred.levels) if kind != "numeric" else 0
            if kind == "numeric":
                res = split_numericx_categy(ix, pred.values, self.codes, ncat,
                                            base_info_orig, self.min_size,
                                            cfg.take_mid)
            elif kind == "ordinal":
                res = split_ordx_categy(ix, pred.values, self.codes, ncat, ncat_x,
                                        base_info_orig, self.min_size)
            elif self.col_is_bin:
                res = split_categx_biny(ix, pred.values,
                                        self.codes if ybin is None else ybin,
                                        ncat_x, base_info, self.min_size)
                if (ybin is not None and not res.has_zero_variance
                        and math.isfinite(res.gain)):
                    res.gain = categ_gain_from_split(
                        *_partition(ix, pred, kind, res), self.codes, ncat,
                        base_info_orig)
            elif cfg.cat_bruteforce_subset and ncat_x > 2:
                res = split_categx_categy_subset(
                    ix, pred.values, self.codes, ncat_x, ncat,
                    base_info_orig, self.min_size)
            else:
                res = split_categx_categy_separate(
                    ix, pred.values, self.codes, ncat_x, ncat,
                    base_info_orig, self.min_size)
            gain = self._qualifies(res, pred, base_info_orig, exhausted_here)
            if gain is None:
                continue

            two_levels = kind == "categorical" and ncat_x == 2
            if two_levels:
                res.split_subset = np.array([1, 0], dtype=np.int8)
            na_ix, left_ix, right_ix = _branch_rows(ix, pred, kind, res)
            lev_has_outliers |= self._na_branch(na_ix, pred, kind, res,
                                                tree_from, depth)
            if left_ix is None:
                lev_has_outliers |= self._level_branches(ix, pred, is_na_branch,
                                                         tree_from, depth)
            else:
                # the NA cluster above is kept even when this skips the split
                if two_levels and min(left_ix.shape[0],
                                      right_ix.shape[0]) < self.min_size:
                    continue
                lev_has_outliers |= self._side_branches(
                    left_ix, right_ix, pred, kind, res, is_na_branch,
                    tree_from, depth)
            if (best is None or gain > best[0]) and not cfg.follow_all:
                best = (gain, pred, kind, res)

        self.col_has_outliers |= lev_has_outliers
        if best is not None and depth + 1 < cfg.max_depth:
            if lev_has_outliers:
                ix = ix[self.state.scores[ix] >= 1.0]
            self._split_node(ix, *best[1:], is_na_branch, tree_from, depth)
        if depth == 0 and best is None and ybin is not None:
            self.already_split_main = True
        self._drop_tree_if_not_needed(tree_from)
        self.exhausted.difference_update(exhausted_here)

    def _level_branches(self, ix, pred, is_na, tree_from, depth) -> bool:
        """Separate mode: an ``eq`` branch per predictor level present."""
        xv = pred.values[ix]
        present = [c for c in range(len(pred.levels)) if (xv == c).any()]
        found = False
        for cat_x in present:
            rows = ix[xv == cat_x]
            # reference requires >= min_size for middle categories but
            # strictly > for the last one (fit_model.cpp:1565,1601)
            if rows.shape[0] >= self.min_size + (cat_x == present[-1]):
                found |= self._branch(rows, pred, "categorical", "eq",
                                      (None, None, cat_x), is_na, tree_from,
                                      depth, pred.name)
        return found

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
    has_outliers: bool             # the stale flag left for the next target
    rows: np.ndarray               # flagged rows (score < 1), ascending
    scores: np.ndarray             # RowState entries of those rows
    cluster: np.ndarray
    tree: np.ndarray
    depth: np.ndarray
    nab: np.ndarray


def _fit_target(ctx: _FitContext, col: FitColumn,
                stale_has_outliers: bool = False) -> _TargetFit:
    """Fit one target, given the stale ``has_outliers`` it receives (see
    ``_ColumnFit.__init__``)."""
    w = _ColumnFit(ctx, col, stale_has_outliers)
    if col.kind == "numeric":
        w.fit_numeric()
    else:
        w.fit_categ(is_ord=(col.kind == "ordinal"))
    st = w.state
    rows = np.flatnonzero(st.scores < 1.0)
    return _TargetFit(
        col, w.trees, w.clusters, w.col_has_outliers,
        "exp" if w.exp_transf else ("log" if w.log_transf else "none"),
        w.orig_mean, w.orig_sd, w.log_minval, w.left_tail, w.right_tail,
        w.has_outliers, rows, st.scores[rows], st.cluster[rows],
        st.tree[rows], st.depth[rows], st.cl_nab[rows])


def _driver_cpus() -> int:
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def _fit_targets(ctx: _FitContext) -> list[_TargetFit]:
    """Fit every modeled target, in column order: each non-skipped numeric,
    categorical or ordinal target as its own task on a thread pool, with
    the stale flag False.  Then walk the numeric targets in order and
    refit, on this thread, each one whose predecessor left the flag True,
    so every target has the flag the serial walk hands it."""
    cols = ([c for c in ctx.numeric if not ctx.skip_col[c.name]]
            + ctx.categ + ctx.ordinal)
    if not cols:
        return []
    workers = min(len(cols), _driver_cpus())
    with ThreadPoolExecutor(max_workers=workers,
                            thread_name_prefix="fit_arrays") as pool:
        futures = [pool.submit(_fit_target, ctx, col) for col in cols]
        try:
            fits = [f.result() for f in futures]
        except BaseException:
            for f in futures:
                f.cancel()
            raise
    stale = False
    for i, fit in enumerate(fits):
        if fit.col.kind != "numeric":
            break
        if stale:
            fits[i] = fit = _fit_target(ctx, fit.col, True)
        stale = fit.has_outliers
    return fits


def fit_arrays(columns: list[FitColumn], cfg: ValidationConfig) -> dict:
    """Fit the full model over in-memory columns; returns a plain-dict,
    JSON-serializable model ready to broadcast."""
    # schema.pandas_to_fit_columns rejects these, as the reference does
    # (__init__.py:504-510): split_categx_numericy returns a 2-level
    # predictor with split_lev -1, which an ordinal split would use as
    # its level
    short = [c.name for c in columns
             if c.kind == "ordinal" and len(c.levels or ()) < 3]
    assert not short, f"ordinal columns need >= 3 levels: {short}"
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

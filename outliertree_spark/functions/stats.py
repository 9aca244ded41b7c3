"""Pure-NumPy statistics kernels shared by fit and predict.

These re-express (not transliterate) the reference's gain / moment /
threshold math so that flagged-row sets match its semantics:

- sample SD with the ``SD_REG`` regularizer (reference src/split.cpp:74-101)
- numeric gain = sd_tot - sum(n_i * sd_i) / n (src/split.cpp:103-117)
- Shannon "total information" and categorical gain (src/split.cpp:119-213)
- trimmed tail size, z-score, Chebyshev bound (src/outlier_tree.hpp:727-729,764)
- central-half robust mean/SD and long-tail detection
  (src/misc.cpp:178-320)
- per-category prior lower-limit proportion (src/misc.cpp:100-125)

Accumulations use ``np.longdouble`` to match the reference's deliberate use
of ``long double`` (src/outlier_tree.hpp:412-419).
"""

from __future__ import annotations

import math

import numpy as np

from ..config import SD_REG

LD = np.longdouble


def welford_mean_sd(x: np.ndarray) -> tuple[float, float]:
    """Mean and ddof=1 SD via stable two-pass longdouble accumulation."""
    n = x.shape[0]
    if n == 0:
        return 0.0, 0.0
    xl = x.astype(LD, copy=False)
    mean = xl.sum() / n
    if n < 2:
        return float(mean), 0.0
    ssq = np.square(xl - mean).sum()
    return float(mean), float(np.sqrt(ssq / (n - 1)))


def calc_sd_counts(cnt, s, ssq) -> float:
    """SD from sufficient statistics with the reference's regularizer;
    returns 0 for cnt < 3 (src/split.cpp:74-84). Works on scalars/arrays."""
    cnt = np.asarray(cnt, dtype=LD)
    s = np.asarray(s, dtype=LD)
    ssq = np.asarray(ssq, dtype=LD)
    with np.errstate(divide="ignore", invalid="ignore"):
        var = (ssq - (s * s) / np.maximum(cnt, 1) + LD(SD_REG)) / np.maximum(cnt - 1, 1)
        sd = np.sqrt(np.maximum(var, 0))
    sd = np.where(cnt < 3, LD(0.0), sd)
    if sd.ndim == 0:
        return float(sd)
    return sd


def total_info(counts: np.ndarray) -> float:
    """N*ln N - sum n_i ln n_i over positive counts."""
    c = np.asarray(counts, dtype=LD)
    pos = c[c > 0]
    tot = pos.sum()
    if tot <= 0:
        return 0.0
    return float(tot * np.log(tot) - (pos * np.log(pos)).sum())


def categ_gain(na_counts, left_counts, right_counts, base_info: float, tot: int) -> float:
    resid = total_info(na_counts) + total_info(left_counts) + total_info(right_counts)
    return float((LD(base_info) - LD(resid)) / LD(tot))


def z_score(x, mu, sd):
    return (x - mu) / max(sd, 1e-12)


def z_score_arr(x: np.ndarray, mu: float, sd: float) -> np.ndarray:
    return (x - mu) / max(sd, 1e-12)


def chebyshyov_bound(z):
    """Score in (0, 1]; smaller = more anomalous (src/outlier_tree.hpp:729)."""
    return 1.0 / max(z * z, 1.0)


def calculate_max_outliers(n: float, perc: float) -> float:
    """Tail size allowance (src/outlier_tree.hpp:727)."""
    return n * perc + 2.0 * math.sqrt(n * perc * (1.0 - perc)) + 1.0


def calculate_max_cat_outliers(n: float, perc: float, z_norm: float) -> float:
    """(src/outlier_tree.hpp:764)"""
    return 1.0 + n * perc / z_norm


def log2ceil(x: int) -> int:
    return int(math.ceil(math.log2(max(x, 1))))


def prop_small_and_prior(counts: np.ndarray, nrows: int, z_norm: float):
    """Per-category prior proportion and the lower-limit threshold below
    which a category can be an outlier (src/misc.cpp:100-125)."""
    counts = np.asarray(counts, dtype=np.float64)
    prior = np.where(counts > 0, counts / float(nrows), 0.0)
    sd = np.sqrt(prior * (1.0 - prior) / float(nrows))
    prop_small = np.where(counts > 0, np.minimum(prior - z_norm * sd, prior * 0.5), 0.0)
    return prop_small, prior


def _prewindowed_central_stats(core: np.ndarray) -> tuple[float, float]:
    """mean + 2.5x SD over an already-central window (the reference calls
    calc_central_mean_and_sd with a buffer populated only on
    [st+q, end-q]; the window is NOT trimmed again)."""
    m = core.shape[0]
    if m < 2:
        return (float(core.mean()) if m else 0.0), 0.0
    xl = core.astype(LD, copy=False)
    mean = xl.sum() / m
    ssq = np.square(xl - mean).sum()
    sd = 2.5 * float(np.sqrt(ssq / (m - 1)))
    return float(mean), sd


def calc_central_mean_and_sd(x_sorted: np.ndarray) -> tuple[float, float]:
    """Robust mean/SD from the central half, SD inflated x2.5
    (src/misc.cpp:178-204)."""
    n = x_sorted.shape[0]
    q = n // 4
    core = x_sorted[q:n - q]  # rows q .. n-q-1 (reference: st+q .. end-q)
    if core.shape[0] < 2:
        return (float(x_sorted.mean()) if n else 0.0), 0.0
    return _prewindowed_central_stats(core)


def check_for_tails(x_sorted: np.ndarray, z_norm: float, max_perc_outliers: float,
                    mean: float, sd: float):
    """Long-tail detection and transform choice (src/misc.cpp:242-320).

    Input must be sorted ascending, NA-free.  Returns
    (left_tail, right_tail, exp_transf, log_transf).
    """
    n = x_sorted.shape[0]
    size_quarter = n // 4
    median = 2 * size_quarter
    z_tail = 2.0 * z_norm
    left_tail = -math.inf
    right_tail = math.inf
    exp_transf = False
    log_transf = False
    max_norm_tail = int(calculate_max_outliers(float(n), max_perc_outliers))
    if n < 8 or size_quarter == 0 or max_norm_tail >= n:
        return left_tail, right_tail, exp_transf, log_transf

    mean_c, sd_c = calc_central_mean_and_sd(x_sorted)
    if z_score(x_sorted[max_norm_tail], mean_c, sd_c) < -z_tail:
        left_tail = 1.0
    if z_score(x_sorted[n - 1 - max_norm_tail], mean_c, sd_c) > z_tail:
        right_tail = 1.0

    if left_tail == 1.0:
        # would exponentiating the z-scores fix it?  (the probe stats are
        # computed over the central window itself, not re-trimmed --
        # misc.cpp:267-269 fills buffer_x only on [st+q, end-q])
        core = np.exp(z_score_arr(x_sorted[size_quarter:n - size_quarter], mean, sd))
        mean_c2, sd_c2 = _prewindowed_central_stats(core)
        probe = math.exp(z_score(x_sorted[max_norm_tail], mean, sd))
        if z_score(probe, mean_c2, sd_c2) >= -z_tail:
            left_tail = math.inf
            exp_transf = True
        else:
            tail_ix = median
            for i in range(0, median + 1):
                if z_score(x_sorted[i], mean_c2, sd_c2) > -z_tail:
                    tail_ix = i
                    break
            left_tail = float(x_sorted[tail_ix])

    if right_tail == 1.0:
        const_add = 1.0 if x_sorted[0] == 0 else -x_sorted[0] + 1e-3
        core = np.log(x_sorted[size_quarter:n - size_quarter] + const_add)
        mean_c2, sd_c2 = _prewindowed_central_stats(core)
        probe = math.log(x_sorted[n - 1 - max_norm_tail] + const_add)
        if z_score(probe, mean_c2, sd_c2) <= z_tail:
            right_tail = math.inf
            log_transf = True
        else:
            tail_ix = median
            for i in range(n - 1, median - 1, -1):
                if z_score(x_sorted[i], mean_c2, sd_c2) < z_tail:
                    tail_ix = i
                    break
            right_tail = float(x_sorted[tail_ix])

    return left_tail, right_tail, exp_transf, log_transf


def decimals_diff(val1: float, val2: float) -> int:
    """Decimals needed to tell two values apart (src/misc.cpp:676-681)."""
    d = abs(val1 - val2)
    if d == 0 or not math.isfinite(d):
        return 0
    res = math.ceil(-math.log10(d))
    if not math.isfinite(res):
        return 0
    return int(res)

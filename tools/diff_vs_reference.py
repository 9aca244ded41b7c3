"""Differential test: our NumPy fit vs the compiled reference C++ core.

Usage: python tools/diff_vs_reference.py [n_cases] [--follow-all] [--vary]
Requires /tmp/ref_harness, which :func:`build_harness` builds on first use
when the reference sources and g++ are present, via:
  g++ -O2 -std=c++11 -fopenmp -I/root/reference/src \
      tools/ref_harness.cpp /root/reference/src/{fit_model,split,clusters,\
      cat_outlier,misc,predict}.cpp -o /tmp/ref_harness
Without them it exits with status 2.
Compares flagged-row sets, per-row scores/depths and cluster bounds.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from outliertree_spark.config import ValidationConfig  # noqa: E402
from outliertree_spark.operators.fit import FitColumn, fit_arrays  # noqa: E402

REF_SRC = "/root/reference/src"
HARNESS = "/tmp/ref_harness"


def build_harness() -> str | None:
    """The compiled reference harness, (re)built when it is missing or
    older than tools/ref_harness.cpp and the reference sources and g++
    are present; None when there is no harness to run."""
    src = os.path.join(ROOT, "tools", "ref_harness.cpp")
    fresh = (os.path.exists(HARNESS)
             and os.path.getmtime(HARNESS) >= os.path.getmtime(src))
    if not fresh and os.path.isdir(REF_SRC) and shutil.which("g++"):
        srcs = [f"{REF_SRC}/{f}.cpp" for f in
                ("fit_model", "split", "clusters", "cat_outlier",
                 "misc", "predict")]
        subprocess.run(
            ["g++", "-O2", "-std=c++11", "-fopenmp", f"-I{REF_SRC}",
             src, *srcs, "-o", HARNESS], check=True, cwd=ROOT)
    return HARNESS if os.path.exists(HARNESS) else None


def _fmt_rows(num_cols, cat_cols, ord_cols):
    n = (num_cols or [c for c, _ in cat_cols] or [c for c, _ in ord_cols])[0].shape[0]
    lines = []
    for r in range(n):
        parts = []
        for c in num_cols:
            v = c[r]
            parts.append("nan" if not np.isfinite(v) else repr(float(v)))
        for c, _ in cat_cols:
            parts.append(str(int(c[r])))
        for c, _ in ord_cols:
            parts.append(str(int(c[r])))
        lines.append(" ".join(parts))
    return n, lines


def _parse_rows(lines):
    rows = {}
    for ln in lines:
        f = ln.split()
        rows[int(f[0])] = {"col": int(f[1]), "score": float(f[2]),
                           "depth": int(f[3]), "nab": bool(int(f[4])),
                           "size": int(f[5]), "lo": float(f[6]),
                           "hi": float(f[7])}
    return rows


def run_reference(num_cols, cat_cols, ord_cols=(), mode_args=("0", "0", "1"),
                  predict_cols=None):
    n, lines = _fmt_rows(num_cols, cat_cols, ord_cols)
    header = (f"{n} {len(num_cols)} {len(cat_cols)} {len(ord_cols)} "
              + " ".join(str(nc) for _, nc in cat_cols) + " "
              + " ".join(str(nc) for _, nc in ord_cols))
    body = [header] + lines
    if predict_cols is not None:
        n2, lines2 = _fmt_rows(*predict_cols)
        body += [str(n2)] + lines2
    out = subprocess.run([HARNESS, *mode_args], input="\n".join(body),
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr
    stdout = out.stdout.splitlines()
    if "PREDICT" in stdout:
        cut = stdout.index("PREDICT")
        fit_rows = _parse_rows(stdout[1:cut])
        pred_rows = _parse_rows(stdout[cut + 1:])
        return fit_rows, pred_rows
    return _parse_rows(stdout[1:])


def run_ours(num_cols, cat_cols, ord_cols=(), cfg=None):
    cols = [FitColumn(f"num{i}", "numeric", c.astype(float))
            for i, c in enumerate(num_cols)]
    cols += [FitColumn(f"cat{i}", "categorical", c.astype(np.int64),
                       levels=[f"l{j}" for j in range(nc)])
             for i, (c, nc) in enumerate(cat_cols)]
    cols += [FitColumn(f"ord{i}", "ordinal", c.astype(np.int64),
                       levels=[f"o{j}" for j in range(nc)])
             for i, (c, nc) in enumerate(ord_cols)]
    m = fit_arrays(cols, cfg or ValidationConfig())
    tr = m["_train_rows"]
    rows = {}
    name_to_global = {cm["name"]: i for i, cm in enumerate(m["columns"])}
    for r in np.flatnonzero(tr["scores"] < 1.0):
        cm = m["columns"][tr["col"][r]]
        cl = cm["clusters"][tr["cluster"][r]]
        rows[int(r)] = {"name": cm["name"], "score": float(tr["scores"][r]),
                        "depth": int(tr["depth"][r]), "nab": bool(tr["nab"][r]),
                        "size": int(cl["cluster_size"]),
                        "lo": cl["lower_lim"], "hi": cl["upper_lim"]}
    return rows, m


def gen_case(seed: int):
    rng = np.random.RandomState(seed)
    n = int(rng.choice([300, 1200, 3000, 8000]))
    kind = seed % 12
    num_cols, cat_cols, ord_cols = [], [], []
    mode = ("0", "0", "1")
    cfg = ValidationConfig()
    if kind == 0:  # plain normal + planted extremes
        x = rng.normal(0, 1, n)
        x[rng.randint(n)] = rng.choice([-1, 1]) * rng.uniform(50, 1e5)
        num_cols = [x, rng.normal(5, 2, n)]
        cat_cols = [(rng.randint(0, 3, n), 3)]
    elif kind == 1:  # conditional structure
        g = rng.randint(0, 2, n)
        y = np.where(g == 1, rng.normal(100, 5, n), rng.normal(0, 1, n))
        y[np.flatnonzero(g == 1)[0]] = 400.0
        num_cols = [y]
        cat_cols = [(g, 2)]
    elif kind == 2:  # NAs in predictor
        g = rng.randint(0, 3, n)
        g[rng.rand(n) < 0.15] = -1
        y = rng.normal(10, 3, n) + np.where(g >= 0, g, 0) * 20
        y[rng.randint(n)] = 1e4
        num_cols = [y]
        cat_cols = [(g, 3)]
    elif kind == 3:  # lognormal (transform path)
        y = np.exp(rng.normal(0, 1.2, n))
        y[rng.randint(n)] = y.max() * 1e4
        num_cols = [y, rng.normal(0, 1, n)]
        cat_cols = []
    elif kind == 4:  # categorical target w/ rare category
        y = rng.choice(4, n, p=[0.5, 0.3, 0.19, 0.01])
        x = rng.normal(y.astype(float), 0.5)
        num_cols = [x]
        cat_cols = [(y, 4)]
    elif kind == 5:  # deep multi-predictor interactions
        g1 = rng.randint(0, 2, n)
        g2 = rng.randint(0, 4, n)
        x1 = rng.normal(0, 1, n)
        y = g1 * 50 + g2 * 10 + np.where(x1 > 0, 20, 0) + rng.normal(0, 1, n)
        y[rng.randint(n)] += 5000
        num_cols = [y, x1]
        cat_cols = [(g1, 2), (g2, 4)]
    elif kind == 6:  # ordinal predictor
        o = rng.randint(0, 4, n)
        y = o * 25 + rng.normal(0, 2, n)
        y[rng.randint(n)] = -3000
        num_cols = [y]
        ord_cols = [(o, 4)]
    elif kind == 7:  # NaNs in the target itself + extreme
        y = rng.normal(0, 1, n)
        y[rng.rand(n) < 0.1] = np.nan
        fin = np.flatnonzero(np.isfinite(y))
        y[fin[0]] = 7e4
        num_cols = [y, rng.normal(0, 3, n)]
        cat_cols = [(rng.randint(0, 2, n), 2)]
    elif kind == 8:  # majority mode
        g = rng.randint(0, 2, n)
        y = np.where(g == 1, 0, 1)
        flip = rng.rand(n) < 0.001
        y = np.where(flip, 2, y)
        num_cols = [rng.normal(0, 1, n)]
        cat_cols = [(y.astype(np.int64), 3), (g, 2)]
        mode = ("1", "0", "1")
        cfg = ValidationConfig(categ_outliers="majority")
    elif kind == 9:  # bruteforce subset mode, multi-cat x multi-cat
        gx = rng.randint(0, 5, n)
        y = (gx % 3).astype(np.int64)
        noise = rng.rand(n) < 0.002
        y = np.where(noise, (y + 1) % 3, y)
        num_cols = [rng.normal(0, 1, n)]
        cat_cols = [(y, 3), (gx, 5)]
        mode = ("0", "1", "0")
        cfg = ValidationConfig(categ_split="bruteforce")
    elif kind == 10:  # left tail (exp-transform path)
        y = -np.exp(rng.normal(0, 1.3, n))
        y[rng.randint(n)] = -np.exp(9.0)
        num_cols = [y, rng.normal(0, 1, n)]
        cat_cols = [(rng.randint(0, 2, n), 2)]
    else:  # ordinal target with numeric + categ predictors
        x = rng.normal(0, 1, n)
        o = np.clip(np.digitize(x, [-1.0, 0.0, 1.0]), 0, 3).astype(np.int64)
        flip = rng.rand(n) < 0.002
        o = np.where(flip, 3 - o, o)
        num_cols = [x]
        cat_cols = [(rng.randint(0, 3, n), 3)]
        ord_cols = [(o, 4)]
    return num_cols, cat_cols, ord_cols, mode, cfg


def gen_predict_case(seed: int, num_cols, cat_cols, ord_cols):
    """Held-out rows in the train distribution plus planted extremes and
    unseen-ish codes for the predict diff."""
    rng = np.random.RandomState(10_000 + seed)
    m = 500
    p_num, p_cat, p_ord = [], [], []
    for c in num_cols:
        fin = c[np.isfinite(c)]
        v = rng.normal(fin.mean(), max(fin.std(), 1e-6), m)
        v[rng.rand(m) < 0.02] = np.nan
        v[0] = fin.mean() + 100 * max(fin.std(), 1.0)   # extreme high
        v[1] = fin.mean() - 100 * max(fin.std(), 1.0)   # extreme low
        p_num.append(v)
    for c, nc in cat_cols:
        v = rng.randint(0, nc, m)
        v[rng.rand(m) < 0.02] = -1
        # UNSEEN categories (code == ncat): the reference skips them at
        # every tree/cluster check (predict.cpp:241,405 guards), which
        # is also why its tree-side simplify_when_equal_cond
        # (clusters.cpp:810-972) is pure representation normalization —
        # subset and eq/neq routing agree on every reachable input.
        # Feeding them through the diff PROVES our subset-kept trees
        # route identically (COVERAGE.md "known deviations").
        v[2] = nc
        v[rng.rand(m) < 0.02] = nc
        p_cat.append((v, nc))
    for c, nc in ord_cols:
        v = rng.randint(0, nc, m)
        p_ord.append((v, nc))
    return p_num, p_cat, p_ord


def run_ours_predict(model, p_num, p_cat, p_ord):
    from outliertree_spark.operators.predict import predict_batch
    data = {}
    for i, c in enumerate(p_num):
        data[f"num{i}"] = c.astype(float)
    for i, (c, _) in enumerate(p_cat):
        data[f"cat{i}"] = c.astype(np.int64)
    for i, (c, _) in enumerate(p_ord):
        data[f"ord{i}"] = c.astype(np.int64)
    res = predict_batch(model, data)
    rows = {}
    for r in np.flatnonzero(res.score < 1.0):
        cm = model["columns"][res.col[r]]
        cl = cm["clusters"][res.cluster[r]]
        rows[int(r)] = {"score": float(res.score[r]),
                        "depth": int(res.depth[r]), "nab": bool(res.nab[r]),
                        "size": int(cl["cluster_size"]),
                        "lo": cl["lower_lim"], "hi": cl["upper_lim"]}
    return rows


def _vary_hyperparams(seed: int, mode, cfg):
    """Randomize hyperparams per seed (and encode them as harness args):
    take_mid, max_depth, min_gain, z thresholds, pct, min sizes."""
    rng = np.random.RandomState(77_000 + seed)
    max_depth = int(rng.choice([2, 3, 4, 6]))
    take_mid = bool(rng.rand() < 0.5)
    min_gain = float(rng.choice([1e-2, 1e-3, 5e-2]))
    z_norm = float(rng.choice([2.0, 2.67, 3.5]))
    z_outlier = float(rng.choice([6.0, 8.0, 10.0]))
    pct = float(rng.choice([0.01, 0.03, 0.005]))
    msn = int(rng.choice([15, 25, 40]))
    msc = int(rng.choice([25, 50, 80]))
    d = cfg.to_dict()
    d.update(max_depth=max_depth, min_gain=min_gain, z_norm=z_norm,
             z_outlier=z_outlier, pct_outliers=pct,
             min_size_numeric=msn, min_size_categ=msc,
             numeric_split="mid" if take_mid else "raw")
    cfg2 = ValidationConfig(**d)
    mode2 = mode[:3] + ("0", str(max_depth),
                        "1" if d.get("follow_all") else "0",
                        "1" if take_mid else "0",
                        repr(min_gain), repr(z_norm), repr(z_outlier),
                        repr(pct), str(msn), str(msc))
    return mode2, cfg2


def main(n_cases: int = 20, follow_all: bool = False,
         vary: bool = False) -> int:
    from outliertree_spark.model import attach_conditions
    n_fail = 0
    for seed in range(n_cases):
        num_cols, cat_cols, ord_cols, mode, cfg = gen_case(seed)
        if follow_all:
            mode = mode[:3] + ("0", "4", "1")
            cfg = ValidationConfig(**{**cfg.to_dict(), "follow_all": True})
        if vary:
            if follow_all:
                cfg = ValidationConfig(**{**cfg.to_dict(), "follow_all": True})
            mode, cfg = _vary_hyperparams(seed, mode, cfg)
        p_num, p_cat, p_ord = gen_predict_case(seed, num_cols, cat_cols, ord_cols)
        ref, ref_pred = run_reference(num_cols, cat_cols, ord_cols, mode,
                                      predict_cols=(p_num, p_cat, p_ord))
        ours, model = run_ours(num_cols, cat_cols, ord_cols, cfg)
        model["predictor_levels"] = {}
        for i, (_, nc) in enumerate(cat_cols):
            model["predictor_levels"][f"cat{i}"] = [f"l{j}" for j in range(nc)]
        for i, (_, nc) in enumerate(ord_cols):
            model["predictor_levels"][f"ord{i}"] = [f"o{j}" for j in range(nc)]
        ours_pred = run_ours_predict(model, p_num, p_cat, p_ord)
        pred_rows_ok = set(ref_pred) == set(ours_pred)
        pred_score_ok = all(
            abs(ref_pred[r]["score"] - ours_pred[r]["score"])
            <= 1e-6 + 1e-6 * abs(ref_pred[r]["score"])
            for r in ref_pred if r in ours_pred)
        pred_ok = pred_rows_ok and pred_score_ok
        same_rows = set(ref) == set(ours)
        score_ok = all(
            abs(ref[r]["score"] - ours[r]["score"])
            <= 1e-6 + 1e-6 * abs(ref[r]["score"])
            for r in ref if r in ours)
        depth_ok = all(ref[r]["depth"] == ours[r]["depth"]
                       for r in ref if r in ours)
        lim_ok = all(
            (np.isinf(ref[r]["lo"]) and np.isinf(ours[r]["lo"]))
            or abs(ref[r]["lo"] - ours[r]["lo"]) <= 1e-6 * max(1, abs(ref[r]["lo"]))
            for r in ref if r in ours) and all(
            (np.isinf(ref[r]["hi"]) and np.isinf(ours[r]["hi"]))
            or abs(ref[r]["hi"] - ours[r]["hi"]) <= 1e-6 * max(1, abs(ref[r]["hi"]))
            for r in ref if r in ours)
        status = "OK " if (same_rows and score_ok and depth_ok and lim_ok
                           and pred_ok) else "FAIL"
        if status == "FAIL":
            n_fail += 1
        print(f"{status} seed={seed} ref_flagged={len(ref)} "
              f"ours_flagged={len(ours)} rows_match={same_rows} "
              f"scores={score_ok} depths={depth_ok} lims={lim_ok} "
              f"predict={pred_ok} ({len(ref_pred)}/{len(ours_pred)})")
        if not pred_ok and len(ref_pred) < 12 and len(ours_pred) < 12:
            print("   ref_pred :", {k: round(v['score'], 6) for k, v in sorted(ref_pred.items())})
            print("   ours_pred:", {k: round(v['score'], 6) for k, v in sorted(ours_pred.items())})
        if status == "FAIL" and len(ref) < 15 and len(ours) < 15:
            print("   ref :", {k: (v['score'], v['depth']) for k, v in sorted(ref.items())})
            print("   ours:", {k: (v['score'], v['depth']) for k, v in sorted(ours.items())})
    print(f"\n{n_cases - n_fail}/{n_cases} cases match the reference core")
    return n_fail


if __name__ == "__main__":
    if build_harness() is None:
        print(f"{HARNESS} is missing and cannot be built: it needs "
              f"{REF_SRC} and g++", file=sys.stderr)
        sys.exit(2)
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    fa = "--follow-all" in sys.argv[2:]
    vary = "--vary" in sys.argv[2:]
    sys.exit(main(n, follow_all=fa, vary=vary))

"""The concurrent per-target fit against the serial column walk.

``fit_arrays`` fits every target column as its own task on a driver
thread pool, with the stale ``has_outliers`` flag False, then refits each
numeric target whose predecessor left the flag True.  The oracle here is
the serial loop it replaced: one ``_ColumnFit`` per target in column
order, each given the flag the previous one left, then the per-row
winner merge one row at a time.  Model JSON and ``_train_rows`` must
match byte for byte.
"""

import math
import sys
import threading

import numpy as np
import pytest

from outliertree_spark.config import ValidationConfig
from outliertree_spark.model import model_to_json
from outliertree_spark.operators import fit
from outliertree_spark.operators.fit import FitColumn, fit_arrays

CONFIGS = [
    ValidationConfig(),
    ValidationConfig(follow_all=True, max_depth=2),
    ValidationConfig(categ_outliers="majority"),
    ValidationConfig(categ_outliers="majority", follow_all=True, max_depth=2),
    ValidationConfig(categ_split="bruteforce", numeric_split="mid"),
    ValidationConfig(categ_split="separate", gain_as_pct=False,
                     min_size_numeric=15, min_size_categ=20),
]


def _serial_fit(columns, cfg, stale_effects=None):
    """The serial column walk.  With ``stale_effects`` a list, every
    numeric target that receives ``stale=True`` is refitted with
    ``stale=False`` and whether its clusters changed is appended."""
    ctx = fit._FitContext(columns, cfg)
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
    stale = False
    for col in ctx.columns:
        w = fit._ColumnFit(ctx, col, stale)
        if col.kind == "numeric":
            if ctx.skip_col.get(col.name):
                continue
            w.fit_numeric()
            if stale and stale_effects is not None:
                fresh = fit._ColumnFit(ctx, col, False)
                fresh.fit_numeric()
                stale_effects.append(fresh.clusters != w.clusters)
        else:
            w.fit_categ(is_ord=(col.kind == "ordinal"))
        stale = w.has_outliers
        if not w.clusters or not w.trees or fit._tree_not_needed(w.trees[0]):
            continue
        fit._simplify_cluster_conditions(w.clusters, levels_by_col)
        cm = {
            "name": col.name, "kind": col.kind,
            "is_bool": col.is_bool, "is_ts": col.is_ts, "ts_min": col.ts_min,
            "levels": col.levels,
            "transf": "exp" if w.exp_transf else ("log" if w.log_transf else "none"),
            "orig_mean": w.orig_mean, "orig_sd": w.orig_sd,
            "log_minval": w.log_minval,
            "left_tail": w.left_tail, "right_tail": w.right_tail,
            "decimals": ctx.decimals.get(col.name, 0),
            "trees": w.trees, "clusters": w.clusters,
            "prior_prob": (ctx.prior.get(col.name, np.array([])).tolist()
                           if col.kind != "numeric" else None),
        }
        if col.kind == "numeric":
            lims = [c["lower_lim"] for c in w.clusters]
            ulims = [c["upper_lim"] for c in w.clusters]
            cm["min_outlier_any"] = max(lims) if lims else -math.inf
            cm["max_outlier_any"] = min(ulims) if ulims else math.inf
        else:
            flag = [False] * len(col.levels)
            for c in w.clusters:
                sc = c.get("subset_common")
                if sc:
                    for cat in range(min(len(flag), len(sc))):
                        if sc[cat] != 0:
                            flag[cat] = True
            cm["cat_outlier_any"] = flag
        col_models.append(cm)
        if w.col_has_outliers:
            _merge_rows(final, w, len(col_models) - 1)
    return {"config": cfg.to_dict(), "nrows_fit": nrows,
            "columns": col_models, "_train_rows": final}


def _merge_rows(final, w, model_col_ix):
    for r in np.flatnonzero(w.state.scores < 1.0):
        new_depth = int(w.state.depth[r])
        new_nab = bool(w.state.cl_nab[r])
        new_size = int(w.clusters[w.state.cluster[r]]["cluster_size"])
        new_score = float(w.state.scores[r])
        if final["scores"][r] >= 1.0:
            take = True
        else:
            old_nab = bool(final["nab"][r])
            old_depth = int(final["depth"][r])
            old_size = int(final["size"][r])
            old_score = float(final["scores"][r])
            take = (
                (new_depth < old_depth and (not new_nab or old_nab))
                or (old_nab and not new_nab)
                or (new_depth == old_depth and new_nab == old_nab
                    and old_size < new_size)
                or (new_depth == old_depth and new_size == old_size
                    and new_nab == old_nab and new_score < old_score))
        if take:
            final["scores"][r] = new_score
            final["col"][r] = model_col_ix
            final["cluster"][r] = w.state.cluster[r]
            final["tree"][r] = w.state.tree[r]
            final["depth"][r] = new_depth
            final["nab"][r] = new_nab
            final["size"][r] = new_size


def _assert_identical(got, want):
    assert model_to_json(got) == model_to_json(want)
    assert got["_train_rows"].keys() == want["_train_rows"].keys()
    for k, a in want["_train_rows"].items():
        b = got["_train_rows"][k]
        assert b.dtype == a.dtype and b.tobytes() == a.tobytes(), k


def _random_table(seed):
    """Mixed numeric / categorical / boolean / ordinal columns with NaNs,
    group-conditional structure, planted outliers and a duplicated
    numeric column."""
    rng = np.random.RandomState(seed)
    n = int(rng.randint(300, 900))
    g = rng.randint(0, 3, n)
    flag = rng.rand(n) < 0.4
    lev = rng.randint(0, 4, n)
    cols = []
    for k in range(int(rng.randint(2, 5))):
        shift = np.array([0.0, 4.0, 9.0])[g] * rng.rand() + 3.0 * flag
        v = shift + rng.normal(0, 1 + k, n)
        if k % 2:
            v = np.exp(v / 4.0)                 # skewed: log transform
        for i in rng.choice(n, 4, replace=False):
            v[i] = shift[i] + rng.choice([-1, 1]) * rng.uniform(6, 30) * (1 + k)
        v[rng.rand(n) < 0.03 * k] = np.nan
        cols.append(FitColumn(f"num{k}", "numeric", v))
    # a copy flags the same rows from a cluster of the same size: the
    # winner merge resolves that tie by column order
    cols.append(FitColumn("twin", "numeric", cols[0].values.copy()))
    const = np.full(n, 2.5)                     # skipped numeric target
    cols.append(FitColumn("const", "numeric", const))
    cat = (g + (rng.rand(n) < 0.1)) % 3
    cat[rng.choice(n, 3, replace=False)] = 3    # rare level
    cat[rng.rand(n) < 0.02] = -1
    cols.append(FitColumn("grp", "categorical", g.astype(np.int64),
                          levels=["a", "b", "c"]))
    cols.append(FitColumn("cat", "categorical", cat.astype(np.int64),
                          levels=["x", "y", "z", "w"]))
    b = flag.astype(np.int64)
    b[rng.rand(n) < 0.02] = -1
    cols.append(FitColumn("flag", "categorical", b, levels=[False, True],
                          is_bool=True))
    o = np.where(rng.rand(n) < 0.9, np.minimum(lev + (g == 2), 3), lev)
    o[rng.rand(n) < 0.03] = -1
    cols.append(FitColumn("size", "ordinal", o.astype(np.int64),
                          levels=["S", "M", "L", "XL"]))
    order = rng.permutation(len(cols))
    return [cols[i] for i in order]


def _stale_table():
    """The first numeric target is bimodal by ``grp`` with a few rows
    planted between the modes, so its last branch cluster flags rows and
    the second numeric target is fitted with ``stale=True``.  That target
    has a gross root outlier, which the stale flag drops before the split
    search."""
    rng = np.random.RandomState(0)
    n = 600
    grp = rng.randint(0, 2, n)
    first = 100.0 * grp + rng.normal(0, 1, n)
    first[rng.choice(n, 4, replace=False)] = 50.0
    region = rng.randint(0, 3, n)
    second = np.array([1.0, 6.0, 12.0])[region] + rng.normal(0, 1, n)
    second[17] = 1e4
    return [
        FitColumn("first", "numeric", first),
        FitColumn("second", "numeric", second),
        FitColumn("grp", "categorical", grp.astype(np.int64),
                  levels=["g0", "g1"]),
        FitColumn("region", "categorical", region.astype(np.int64),
                  levels=["r0", "r1", "r2"]),
    ]


TABLES = [_stale_table] + [lambda s=s: _random_table(s) for s in range(12)]


@pytest.mark.parametrize("cfg", CONFIGS, ids=lambda c: (
    f"{c.categ_split}-{c.categ_outliers}-follow{int(c.follow_all)}"))
def test_concurrent_fit_matches_serial_walk(cfg):
    stale_effects = []
    for make in TABLES:
        cols = make()
        _assert_identical(fit_arrays(cols, cfg),
                          _serial_fit(cols, cfg, stale_effects))
    # the sweep reaches a numeric target fitted under stale=True whose
    # clusters the flag changes
    assert any(stale_effects), stale_effects


def test_stale_flag_changes_second_target():
    effects = []
    _serial_fit(_stale_table(), ValidationConfig(), effects)
    assert effects == [True]


def _fit_threads():
    return [t for t in threading.enumerate() if t.name.startswith("fit_arrays")]


def test_task_failure_propagates_and_joins_pool(monkeypatch):
    class Boom(RuntimeError):
        pass

    def fail(self, is_ord):
        raise Boom(self.target.name)

    monkeypatch.setattr(fit._ColumnFit, "fit_categ", fail)
    with pytest.raises(Boom):
        fit_arrays(_random_table(3), ValidationConfig())
    assert _fit_threads() == []


def test_single_cpu_fits_each_target_once(monkeypatch):
    """On one CPU the pool has one thread.  No numeric target of this
    table receives a stale True, so none is refitted and each target is
    fitted once, in column order, on that thread."""
    cols = _random_table(5)
    cfg = ValidationConfig()
    want = _serial_fit(cols, cfg)

    calls = []
    real_numeric, real_categ = fit._ColumnFit.fit_numeric, fit._ColumnFit.fit_categ

    def numeric(self):
        calls.append((self.target.name, threading.current_thread().name))
        real_numeric(self)

    def categ(self, is_ord):
        calls.append((self.target.name, threading.current_thread().name))
        real_categ(self, is_ord)

    workers = []
    real_pool = fit.ThreadPoolExecutor

    def pool(max_workers, **kw):
        workers.append(max_workers)
        return real_pool(max_workers=max_workers, **kw)

    monkeypatch.setattr(fit.os, "sched_getaffinity", lambda pid: {0},
                        raising=False)
    monkeypatch.setattr(fit._ColumnFit, "fit_numeric", numeric)
    monkeypatch.setattr(fit._ColumnFit, "fit_categ", categ)
    monkeypatch.setattr(fit, "ThreadPoolExecutor", pool)

    out = {}
    t = threading.Thread(target=lambda: out.update(m=fit_arrays(cols, cfg)),
                         daemon=True)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive(), "fit_arrays did not finish on one CPU"
    _assert_identical(out["m"], want)
    assert workers == [1]
    names = [name for name, _ in calls]
    ctx = fit._FitContext(cols, cfg)
    modeled = [c.name for c in ctx.columns
               if not (c.kind == "numeric" and ctx.skip_col[c.name])]
    assert "const" not in modeled
    assert names == modeled
    assert len({thread for _, thread in calls}) == 1


def test_more_threads_than_cores_short_switch_interval(monkeypatch):
    """Stress: a pool wider than the host with a tiny switch interval
    still fits every target exactly as the serial walk does."""
    cols = _random_table(8)
    base = [c for c in cols if c.kind != "numeric"]
    cols += [FitColumn(f"{c.name}{k}", c.kind, c.values, levels=c.levels,
                       is_bool=c.is_bool) for k in range(3) for c in base]
    cfg = ValidationConfig()
    want = _serial_fit(cols, cfg)
    monkeypatch.setattr(fit.os, "sched_getaffinity",
                        lambda pid: set(range(64)), raising=False)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        out = {}
        t = threading.Thread(target=lambda: out.update(m=fit_arrays(cols, cfg)),
                             daemon=True)
        t.start()
        t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not t.is_alive(), "fit_arrays did not finish"
    _assert_identical(out["m"], want)


# the split kernels that only a categorical or ordinal target calls
CATEG_TARGET_KERNELS = (
    "split_numericx_categy", "split_ordx_categy", "split_categx_biny",
    "categ_gain_from_split", "split_categx_categy_separate",
    "split_categx_categy_subset")


def _count_fits(monkeypatch):
    """Wrap the split kernels and the per-target fits with call logs."""
    calls = []
    for name in CATEG_TARGET_KERNELS + ("split_numericx_numericy",):
        def counted(*args, _real=getattr(fit, name), _name=name, **kw):
            calls.append(_name)
            return _real(*args, **kw)
        monkeypatch.setattr(fit, name, counted)
    real_numeric, real_categ = fit._ColumnFit.fit_numeric, fit._ColumnFit.fit_categ

    def numeric(self):
        calls.append(("numeric", self.target.name, self.has_outliers))
        real_numeric(self)

    def categ(self, is_ord):
        calls.append(("categ", self.target.name))
        real_categ(self, is_ord)

    monkeypatch.setattr(fit._ColumnFit, "fit_numeric", numeric)
    monkeypatch.setattr(fit._ColumnFit, "fit_categ", categ)
    return calls


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_default_gain_skips_categorical_searches(monkeypatch, seed):
    """Under the default ``gain_as_pct`` and ``min_gain`` every node of a
    categorical target here has more than 100 rows, where no candidate
    can qualify: no categorical-target kernel runs.  Without
    ``gain_as_pct`` they do."""
    cols = _random_table(seed)
    calls = _count_fits(monkeypatch)
    fit_arrays(cols, ValidationConfig())
    assert "split_numericx_numericy" in calls
    assert not set(calls) & set(CATEG_TARGET_KERNELS)
    calls.clear()
    fit_arrays(cols, ValidationConfig(gain_as_pct=False))
    assert set(calls) & set(CATEG_TARGET_KERNELS)


def test_only_a_stale_target_is_refitted(monkeypatch):
    """``_stale_table``'s first target leaves the flag True: the second is
    fitted on the pool with False, then refitted with True; every other
    target is fitted once."""
    cols = _stale_table()
    calls = _count_fits(monkeypatch)
    model = fit_arrays(cols, ValidationConfig())
    fits = [c for c in calls if isinstance(c, tuple)]
    assert sorted(fits) == [("categ", "grp"), ("categ", "region"),
                            ("numeric", "first", False),
                            ("numeric", "second", False),
                            ("numeric", "second", True)]
    assert fits[-1] == ("numeric", "second", True)
    _assert_identical(model, _serial_fit(cols, ValidationConfig()))

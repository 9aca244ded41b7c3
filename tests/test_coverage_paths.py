"""Coverage of the less-traveled fit/predict paths: ordinals, NA branches,
exp transform, majority mode, separate/bruteforce splits, report/export."""

import math

import numpy as np
import pandas as pd
import pytest

from outliertree_spark.config import ValidationConfig
from outliertree_spark.model import attach_conditions
from outliertree_spark.operators.fit import FitColumn, fit_arrays
from outliertree_spark.operators.predict import predict_batch


def _schema_for(cols):
    return {c.name: {"kind": "timestamp" if c.is_ts else c.kind,
                     "levels": c.levels, "is_bool": c.is_bool,
                     "ts_min": c.ts_min} for c in cols}


def _finish(m, cols):
    m["schema"] = _schema_for(cols)
    m["predictor_levels"] = {c.name: c.levels for c in cols
                             if c.levels is not None}
    attach_conditions(m)
    return m


def test_ordinal_predictor_split():
    rng = np.random.RandomState(3)
    n = 3000
    ordc = rng.randint(0, 3, size=n)  # low/mid/high
    y = np.where(ordc == 2, rng.normal(100, 5, n), rng.normal(10, 2, n))
    planted = int(np.flatnonzero(ordc == 2)[0])
    y[planted] = 400.0  # extreme within the 'high' group
    cols = [FitColumn("y", "numeric", y.astype(float)),
            FitColumn("grade", "ordinal", ordc.astype(np.int64),
                      levels=["low", "mid", "high"])]
    m = _finish(fit_arrays(cols, ValidationConfig()), cols)
    res = predict_batch(m, {"y": y, "grade": ordc.astype(np.int64)})
    assert res.score[planted] < 1.0
    # (the root cluster may win the shallower-depth tie-break; the ordinal
    # split path is exercised if any cluster conditions on 'grade')
    ycm = next(c for c in m["columns"] if c["name"] == "y")
    assert any(cl["col"] == "grade" for cl in ycm["clusters"])
    # y=120 is normal inside the 'high' group but anomalous in 'low'
    probe_y = np.array([120.0])
    hi = predict_batch(m, {"y": probe_y, "grade": np.array([2])})
    lo = predict_batch(m, {"y": probe_y, "grade": np.array([0])})
    assert hi.score[0] == 1.0 and lo.score[0] < 1.0


def test_ordinal_target_fit():
    rng = np.random.RandomState(8)
    n = 4000
    x = rng.normal(size=n)
    # ordinal target correlated with x; plant a 'high' where x is very low
    lev = np.digitize(x, [-0.5, 0.5])  # 0,1,2
    cols = [FitColumn("x", "numeric", x.astype(float)),
            FitColumn("grade", "ordinal", lev.astype(np.int64),
                      levels=["low", "mid", "high"])]
    m = _finish(fit_arrays(cols, ValidationConfig()), cols)
    names = [c["name"] for c in m["columns"]]
    # the engine may or may not flag, but the ordinal-target path must
    # produce a well-formed model or cleanly skip
    for cm in m["columns"]:
        for cl in cm["clusters"]:
            assert "conditions" in cl


def test_two_level_ordinal_rejected():
    """A 2-level ordinal would split at level -1 (split_categx_numericy's
    early return); fit_arrays refuses it, as pandas_to_fit_columns does."""
    rng = np.random.RandomState(9)
    o = rng.randint(0, 2, size=1000)
    cols = [FitColumn("y", "numeric", 50.0 * o + rng.normal(size=1000)),
            FitColumn("o", "ordinal", o.astype(np.int64),
                      levels=["lo", "hi"])]
    with pytest.raises(AssertionError, match="'o'"):
        fit_arrays(cols, ValidationConfig())


def test_na_branch_cluster():
    rng = np.random.RandomState(5)
    n = 4000
    flag = rng.rand(n) < 0.5
    other = np.where(flag, 1.0, 0.0)
    other[rng.rand(n) < 0.2] = np.nan  # NA predictor branch
    y = np.where(flag, rng.normal(50, 3, n), rng.normal(10, 2, n))
    na_rows = np.flatnonzero(np.isnan(other))
    y[na_rows[0]] = 500.0  # outlier among NA-branch rows
    cols = [FitColumn("y", "numeric", y.astype(float)),
            FitColumn("other", "numeric", other.astype(float))]
    m = _finish(fit_arrays(cols, ValidationConfig()), cols)
    res = predict_batch(m, {"y": y, "other": other})
    r = int(na_rows[0])
    assert res.score[r] < 1.0
    cm = m["columns"][res.col[r]]
    cl = cm["clusters"][res.cluster[r]]
    if cl["split_type"] == "isna":
        assert cl["has_NA_branch"]
        conds = cl["conditions"]
        assert any(c["comparison"] == "is NA" for c in conds)


def test_exp_transform_left_tail():
    rng = np.random.RandomState(9)
    x = -np.exp(rng.normal(0, 1.5, size=5000))  # heavy LEFT tail
    cols = [FitColumn("x", "numeric", x.astype(float))]
    m = fit_arrays(cols, ValidationConfig())
    if m["columns"]:
        assert m["columns"][0]["transf"] in ("exp", "none")


def test_majority_mode():
    rng = np.random.RandomState(11)
    n = 3000
    flag = rng.rand(n) < 0.5
    lang = np.where(flag, 0, 1).astype(np.int64)
    # contaminate: 2 rows in flag-group carry category 2 (prior ~33% overall)
    extra = rng.randint(0, 3, size=n)
    lang = np.where(rng.rand(n) < 0.3, extra, lang).astype(np.int64)
    cols = [FitColumn("lang", "categorical", lang,
                      levels=["a", "b", "c"]),
            FitColumn("flag", "categorical", flag.astype(np.int64),
                      levels=[False, True], is_bool=True)]
    cfg = ValidationConfig(categ_outliers="majority")
    m = _finish(fit_arrays(cols, cfg), cols)
    # majority mode must produce clusters with categ_maj payload when any
    for cm in m["columns"]:
        for cl in cm["clusters"]:
            if cl["split_type"] != "root" and cl.get("score_categ"):
                assert "categ_maj" in cl


def test_separate_and_bruteforce_modes_run():
    rng = np.random.RandomState(13)
    n = 4000
    grp = rng.randint(0, 4, size=n).astype(np.int64)
    y = (grp * 10 + rng.normal(0, 1, n))
    lang = (grp % 3).astype(np.int64)
    cols = [FitColumn("lang", "categorical", lang, levels=["a", "b", "c"]),
            FitColumn("grp", "categorical", grp,
                      levels=["g0", "g1", "g2", "g3"])]
    for mode in ("separate", "bruteforce"):
        cfg = ValidationConfig(categ_split=mode)
        m = _finish(fit_arrays(cols, cfg), cols)
        for cm in m["columns"]:
            assert isinstance(cm["clusters"], list)


def test_print_outliers_format():
    from outliertree_spark.report import print_outliers
    pdf = pd.DataFrame({
        "uses_NA_branch": [False, True, False],
        "tree_depth": [1, 0, 0],
        "outlier_score": [0.5, 0.1, 0.01],
        "explanation": ["E1", "E2", "E3"],
    })
    s = print_outliers(pdf, max_outliers=2)
    assert s.startswith("Reporting top 2 outliers [out of 3 found]")
    # non-NA shallow first; among non-NA: depth 0 before depth 1
    assert s.index("E3") < s.index("E1")
    assert print_outliers(pdf.iloc[:0]) == "No outliers found in input data.\n"


def test_follow_all_mode():
    """follow_all explores every qualifying branch as its own subtree."""
    rng = np.random.RandomState(7)
    n = 2000
    preg = rng.rand(n) < 0.12
    age = np.where(preg, rng.normal(27, 3, n), rng.normal(45, 8, n))
    planted = int(np.flatnonzero(preg)[0])
    age[planted] = 75.0
    cols = [FitColumn("age", "numeric", age.astype(float)),
            FitColumn("pregnant", "categorical", preg.astype(np.int64),
                      levels=[False, True], is_bool=True),
            FitColumn("x", "numeric", rng.normal(0, 1, n))]
    m = _finish(fit_arrays(cols, ValidationConfig(follow_all=True)), cols)
    agecm = next(c for c in m["columns"] if c["name"] == "age")
    assert any(t["all_branches"] for t in agecm["trees"])
    res = predict_batch(m, {"age": age, "pregnant": preg.astype(np.int64),
                            "x": np.zeros(n)})
    assert res.score[planted] < 1.0


def _ns_series():
    rng = np.random.RandomState(4)
    s = pd.Series(pd.to_datetime(rng.randint(0, 2 ** 40, 600) * 1000
                                 + rng.randint(0, 999, 600)))
    s[[5, 77]] = pd.NaT
    return s


@pytest.mark.parametrize("case", ["ns", "tz", "date", "all_nat"])
def test_timestamp_encode_skips_to_datetime_identically(case, monkeypatch):
    """``epoch_seconds`` skips ``pd.to_datetime`` on datetime64 data, and
    the fit and predict encodes still give the arrays the call gave:
    naive and tz-aware datetime64, ``datetime.date`` objects (a Spark
    ``DateType``) and NaT."""
    from outliertree_spark.schema import (epoch_seconds, pandas_to_fit_columns,
                                          pandas_to_predict_arrays)
    s = _ns_series()
    s = {"ns": s,
         "tz": s.dt.tz_localize("UTC").dt.tz_convert("America/New_York"),
         "date": pd.Series([None if pd.isna(t) else t.date() for t in s],
                           dtype=object),
         "all_nat": pd.Series(pd.NaT, index=range(50),
                              dtype="datetime64[ns]")}[case]
    want = pd.to_datetime(s).astype("int64").to_numpy().astype(np.float64) / 1e9
    want[s.isna().to_numpy()] = np.nan
    calls = []
    to_datetime = pd.to_datetime
    monkeypatch.setattr(pd, "to_datetime",
                        lambda *a, **k: calls.append(1) or to_datetime(*a, **k))
    assert epoch_seconds(s).tobytes() == want.tobytes()
    assert len(calls) == (case == "date")

    pdf = pd.DataFrame({"t": s})
    cols = pandas_to_fit_columns(pdf, {"t": "timestamp"})
    if case == "all_nat":
        assert cols == []
        return
    ts_min = float(np.nanmin(want)) - 1.0
    assert cols[0].ts_min == ts_min
    assert cols[0].values.tobytes() == (want - ts_min).tobytes()
    got = pandas_to_predict_arrays(
        pdf, {"schema": {"t": {"kind": "timestamp", "ts_min": ts_min}}})
    assert got["t"].tobytes() == (want - ts_min).tobytes()

"""Golden end-to-end tests on deterministic synthetic tables with planted
outliers (SURVEY.md section 5: the reference's README recipe is the
canonical assertion)."""

import numpy as np
import pytest

from outliertree_spark.config import ValidationConfig
from outliertree_spark.model import attach_conditions
from outliertree_spark.operators.cluster import (
    find_outlier_categories,
    find_outlier_categories_by_maj,
    find_outlier_categories_no_cond,
)
from outliertree_spark.operators.fit import FitColumn, fit_arrays
from outliertree_spark.operators.predict import predict_batch
from outliertree_spark.report import compile_renderer, simplify_conditions


def _basic_model():
    rng = np.random.RandomState(1)
    n = 100
    num1 = rng.normal(size=n)
    num1[42] = 1e6
    cat = rng.randint(0, 3, size=n)
    cols = [
        FitColumn("numeric_col1", "numeric", num1.astype(float)),
        FitColumn("categ_col", "categorical", cat.astype(np.int64),
                  levels=["categA", "categB", "categC"]),
    ]
    m = fit_arrays(cols, ValidationConfig())
    m["predictor_levels"] = {"categ_col": ["categA", "categB", "categC"]}
    m["schema"] = {
        "numeric_col1": {"kind": "numeric", "levels": None, "is_bool": False, "ts_min": None},
        "categ_col": {"kind": "categorical", "levels": ["categA", "categB", "categC"],
                      "is_bool": False, "ts_min": None},
    }
    attach_conditions(m)
    return m, num1, cat


def test_readme_recipe_planted_1e6_flagged_at_fit():
    m, num1, cat = _basic_model()
    tr = m["_train_rows"]
    flagged = np.flatnonzero(tr["scores"] < 1.0)
    assert list(flagged) == [42]
    assert m["columns"][tr["col"][42]]["name"] == "numeric_col1"
    assert tr["depth"][42] == 0


def test_readme_recipe_predict_catches_minus_1e6():
    m, num1, cat = _basic_model()
    data = {"numeric_col1": np.array([-1e6, 0.0, 0.3]),
            "categ_col": np.array([0, 1, 2])}
    res = predict_batch(m, data)
    assert res.score[0] < 1.0
    assert res.score[1] == 1.0 and res.score[2] == 1.0


def test_unseen_category_ignored_at_predict():
    m, num1, cat = _basic_model()
    data = {"numeric_col1": np.array([1e6]),
            "categ_col": np.array([3])}  # unseen category code
    res = predict_batch(m, data)
    # numeric outlier still flagged; unseen category never crashes or flags
    assert res.score[0] < 1.0
    assert m["columns"][res.col[0]]["name"] == "numeric_col1"


def test_conditional_outlier_pregnant_age():
    rng = np.random.RandomState(7)
    n = 2000
    preg = rng.rand(n) < 0.12
    age = np.where(preg, rng.normal(27, 3, n), rng.normal(45, 8, n))
    planted = int(np.flatnonzero(preg)[0])
    age[planted] = 75.0
    cols = [FitColumn("age", "numeric", age.astype(float)),
            FitColumn("pregnant", "categorical", preg.astype(np.int64),
                      levels=[False, True], is_bool=True)]
    m = fit_arrays(cols, ValidationConfig())
    m["predictor_levels"] = {"pregnant": [False, True]}
    m["schema"] = {"age": {"kind": "numeric", "levels": None, "is_bool": False, "ts_min": None},
                   "pregnant": {"kind": "categorical", "levels": [False, True],
                                "is_bool": True, "ts_min": None}}
    attach_conditions(m)

    tr = m["_train_rows"]
    assert tr["scores"][planted] < 1.0
    # the flagging cluster is conditioned on pregnant == True
    res = predict_batch(m, {"age": age, "pregnant": preg.astype(np.int64)})
    assert res.score[planted] < 1.0
    cm = m["columns"][res.col[planted]]
    cl = cm["clusters"][res.cluster[planted]]
    conds = cl["conditions"]
    assert any(c["column"] == "pregnant" and c["comparison"] == "=" for c in conds)
    # explanation renders in the reference format
    s = compile_renderer(m, cm, cl)(planted, 75.0, {"age": 75.0, "pregnant": True})
    assert s.startswith(f"row [{planted}] - suspicious column: [age] - "
                        "suspicious value: [75.00]")
    assert "distribution:" in s and "[norm. obs:" in s
    assert "given:" in s and "[pregnant] = [True]" in s
    # 75 is NOT an outlier when not pregnant
    res2 = predict_batch(m, {"age": np.array([75.0]),
                             "pregnant": np.array([0])})
    assert res2.score[0] == 1.0


def test_rare_category_no_cond():
    # n < 10k allows at most 1 occurrence of an outlier category
    counts = np.array([800, 600, 1])
    is_out, has, next_most = find_outlier_categories_no_cond(counts, 1401)
    assert has and is_out[2] == 1
    assert next_most == pytest.approx(600 / 1401)
    # count == 2 needs n >= 10k
    counts = np.array([8000, 6000, 2])
    is_out, has, _ = find_outlier_categories_no_cond(counts, 14002)
    assert has and is_out[2] == 1
    # small sample: never flags
    is_out, has, _ = find_outlier_categories_no_cond(np.array([500, 300, 1]), 801)
    assert not has
    # next-most-common too small: no flag
    is_out, has, _ = find_outlier_categories_no_cond(np.array([1200, 100, 2]), 1302)
    assert not has


def test_categ_tail_rule():
    # one rare category in a conditioned subset, prior says it should be common
    counts = np.array([500, 480, 3])
    prior = np.array([0.35, 0.35, 0.30])
    ps = np.minimum(prior - 2.67 * np.sqrt(prior * (1 - prior) / 2000), prior / 2)
    is_out, found, new_out, next_most = find_outlier_categories(
        counts, 983, 0.01, ps, 2.67)
    assert found and is_out[2] == 1


def test_categ_majority_rule():
    counts = np.array([990, 3, 0])
    prior = np.array([0.4, 0.3, 0.3])
    is_out, found, new_out, maj = find_outlier_categories_by_maj(
        counts, 993, 0.01, prior, 8.0)
    assert maj == 0
    assert found and is_out[1] == 1
    assert new_out and is_out[2] == -1


def test_simplify_conditions_between():
    conds = [
        {"column": "x", "comparison": "<=", "value_comp": 10.0, "kind": "numeric"},
        {"column": "x", "comparison": ">", "value_comp": 2.0, "kind": "numeric"},
        {"column": "c", "comparison": "in", "value_comp": ["a", "b"], "kind": "categorical"},
        {"column": "c", "comparison": "in", "value_comp": ["b", "d"], "kind": "categorical"},
    ]
    out = simplify_conditions(conds)
    # reversed order: c first, then x
    assert out[0]["column"] == "c" and out[0]["comparison"] == "=" \
        and out[0]["value_comp"] == "b"
    assert out[1]["column"] == "x" and out[1]["comparison"] == "between" \
        and out[1]["value_comp"] == (2.0, 10.0)


def test_log_transform_column_fits():
    rng = np.random.RandomState(11)
    x = np.exp(rng.normal(0, 1.5, size=3000))
    x[5] = x.max() * 1e6  # enormous even in log scale
    cols = [FitColumn("gamma_col", "numeric", x.astype(float)),
            FitColumn("other", "numeric", rng.normal(size=3000))]
    m = fit_arrays(cols, ValidationConfig())
    names = [c["name"] for c in m["columns"]]
    assert "gamma_col" in names
    cm = m["columns"][names.index("gamma_col")]
    assert cm["transf"] == "log"
    tr = m["_train_rows"]
    assert tr["scores"][5] < 1.0


def test_model_json_roundtrip():
    from outliertree_spark.model import model_from_json, model_to_json
    m, _, _ = _basic_model()
    s = model_to_json(m)
    m2 = model_from_json(s)
    assert [c["name"] for c in m2["columns"]] == [c["name"] for c in m["columns"]]
    res = predict_batch(m2, {"numeric_col1": np.array([-1e6]),
                             "categ_col": np.array([0])})
    assert res.score[0] < 1.0

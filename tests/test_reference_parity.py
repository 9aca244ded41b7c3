"""Differential parity vs the compiled reference C++ core.

Compiles the unmodified reference sources once per session (skipped when
no compiler / reference tree is available) and asserts exact flagged-row,
score, depth and cluster-bound agreement on a sample of adversarial cases
for both fit and predict.
"""

import os
import shutil
import sys

import pytest

REF_SRC = "/root/reference/src"

pytestmark = pytest.mark.skipif(
    not (os.path.isdir(REF_SRC) and shutil.which("g++")),
    reason="reference sources or g++ unavailable")


@pytest.fixture(scope="module")
def harness():
    from tools.diff_vs_reference import build_harness
    return build_harness()


@pytest.mark.parametrize("seed", list(range(10)))
def test_fit_and_predict_match_reference(harness, seed):
    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from tools.diff_vs_reference import (
        gen_case, gen_predict_case, run_ours, run_ours_predict, run_reference)
    import numpy as np

    num_cols, cat_cols, ord_cols, mode, cfg = gen_case(seed)
    p = gen_predict_case(seed, num_cols, cat_cols, ord_cols)
    ref, ref_pred = run_reference(num_cols, cat_cols, ord_cols, mode,
                                  predict_cols=p)
    ours, model = run_ours(num_cols, cat_cols, ord_cols, cfg)
    model["predictor_levels"] = {}
    for i, (_, nc) in enumerate(cat_cols):
        model["predictor_levels"][f"cat{i}"] = [f"l{j}" for j in range(nc)]
    for i, (_, nc) in enumerate(ord_cols):
        model["predictor_levels"][f"ord{i}"] = [f"o{j}" for j in range(nc)]
    ours_pred = run_ours_predict(model, *p)

    assert set(ref) == set(ours)
    for r in ref:
        assert ref[r]["score"] == pytest.approx(ours[r]["score"], rel=1e-6, abs=1e-9)
        assert ref[r]["depth"] == ours[r]["depth"]
    assert set(ref_pred) == set(ours_pred)
    for r in ref_pred:
        assert ref_pred[r]["score"] == pytest.approx(ours_pred[r]["score"],
                                                     rel=1e-6, abs=1e-9)

"""Edge-input robustness: unicode, NULs, empty strings, null-heavy columns
must never crash the engine or the text/dedup operators."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from outliertree_spark import SparkOutlierTree, ValidationConfig
from outliertree_spark.operators import dedup, text

WEIRD_TEXTS = [
    "", " ", "\t\n", "héllo wörld ünïcode", "emoji 🎉🚀 text",
    "中文 文本 测试 数据", "a" * 5000, "word " * 400,
    "tab\tsep\tvals", 'quotes "and" more', "back\\slash",
    None, "mixed 中文 and english の text",
]


@pytest.fixture(scope="module")
def weird_docs(spark):
    n = 400
    rng = np.random.RandomState(3)
    texts = [WEIRD_TEXTS[i % len(WEIRD_TEXTS)] for i in range(n)]
    pdf = pd.DataFrame({"doc_id": np.arange(n), "text": texts,
                        "lang": np.array(["en", "zz"])[rng.randint(0, 2, n)]})
    return spark.createDataFrame(pdf)


def test_text_ops_survive_weird_input(spark, weird_docs):
    d = weird_docs.fillna({"text": ""})
    out = d.select(
        text.token_count("text").alias("tok"),
        text.bpe_ish_token_count("text").alias("bpe"),
        text.lang_id("text").alias("lang_pred"),
        text.fingerprint("text").alias("fp"),
    ).toPandas()
    assert len(out) == 400
    assert (out["tok"] >= 0).all()
    q = text.quality_features(d).select("quality_score").toPandas()
    assert q["quality_score"].between(0, 1).all()


def test_dedup_ops_survive_weird_input(spark, weird_docs):
    d = weird_docs.fillna({"text": ""})
    assert dedup.exact_duplicates(d).count() > 0  # repeated weird texts
    sigs = dedup.minhash_signatures(d)
    assert sigs.count() > 0
    pairs = dedup.minhash_lsh_candidates(d)
    pairs.count()  # no crash
    dedup.simhash(d).count()


def test_engine_fit_predict_with_nulls_and_unicode(spark, weird_docs):
    rng = np.random.RandomState(4)
    n = 2000
    lang = np.array(["中文", "عربى", "en", None], dtype=object)[
        rng.randint(0, 4, n)]
    v = rng.normal(0, 1, n)
    v[rng.rand(n) < 0.2] = np.nan
    v[17] = 1e9
    pdf = pd.DataFrame({"id": np.arange(n), "v": v, "lang": lang})
    df = spark.createDataFrame(pdf)
    eng = SparkOutlierTree(ValidationConfig())
    eng.fit(df, id_cols=["id"])
    out = eng.predict(df, id_cols=["id"]).toPandas()
    assert 17 in set(out["id"])
    sql = eng.score(df, id_cols=["id"]).toPandas()
    assert 17 in set(sql["id"])


def test_fit_refuses_tiny_sample(spark):
    pdf = pd.DataFrame({"x": [1.0, 2.0, 3.0]})
    with pytest.raises(ValueError, match="< 20"):
        SparkOutlierTree(ValidationConfig()).fit(spark.createDataFrame(pdf))


def test_golden_explanation_strings():
    """Pin exact report strings for the categorical and boolean shapes."""
    from outliertree_spark.report import compile_renderer
    model = {"config": {"categ_outliers": "tail"},
             "schema": {"lang": {"kind": "categorical"},
                        "flag": {"kind": "categorical"},
                        "y": {"kind": "numeric"}}}
    cm = {"name": "lang", "kind": "categorical", "is_bool": False,
          "levels": ["en", "de", "xx"], "prior_prob": [0.6, 0.39, 0.01],
          "is_ts": False}
    cl = {"column_type": "categorical", "col": "flag", "col_kind": "categorical",
          "split_type": "eq", "split_lev": 1, "has_NA_branch": False,
          "subset_common": [0, 0, 1], "perc_in_subset": 0.995,
          "perc_next_most_comm": 0.35, "cluster_size": 995, "categ_maj": -1,
          "conditions": [{"column": "flag", "comparison": "=",
                          "value_comp": True, "kind": "categorical"}]}
    r = compile_renderer(model, cm, cl)
    s = r(42, "xx", {"flag": True, "lang": "xx"})
    assert s == (
        "row [42] - suspicious column: [lang] - suspicious value: [xx]\n"
        "\tdistribution: 99.500% in [en, de]\n"
        "\t( [norm. obs: 995] - [prior_prob: 1.000%] - "
        "[next smallest: 35.000%] )\n"
        "\tgiven:\n"
        "\t\t[flag] = [True]")

    cmb = {"name": "flag", "kind": "categorical", "is_bool": True,
           "levels": [False, True], "prior_prob": [0.9, 0.1], "is_ts": False}
    clb = {"column_type": "numeric", "col": "y", "col_kind": "numeric",
           "split_type": "gt", "split_point": 5.0, "has_NA_branch": False,
           "subset_common": [0, 1], "perc_in_subset": 0.99,
           "perc_next_most_comm": 0.0, "cluster_size": 500, "categ_maj": -1,
           "conditions": [{"column": "y", "comparison": ">",
                           "value_comp": 5.0, "kind": "numeric"}]}
    rb = compile_renderer(model, cmb, clb)
    sb = rb(7, True, {"y": 6.25, "flag": True})
    assert sb == (
        "row [7] - suspicious column: [flag] - suspicious value: [True]\n"
        "\tdistribution: 1.000% different [norm. obs: 500]"
        " - [prior_prob: 10.000%]\n"
        "\tgiven:\n"
        "\t\t[y] > [5.00] (value: 6.25)")


def test_arithmetic_gram_paths_handle_null_empty_short(spark):
    """Round-3 arithmetic gram/shingle IDs must degrade exactly like the
    string forms on null / empty / shorter-than-k texts: empty arrays,
    zero counts, never nulls or errors."""
    import pyspark.sql.functions as F
    from outliertree_spark.operators.dedup import (minhash_signatures,
                                                   shingle_hash_array)
    from outliertree_spark.operators.decontamination import ngram_hashes
    from outliertree_spark.operators.text import repetition_scores

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "one two"), (4, "a b c d e f")],
        "doc_id long, text string")

    rep = {r.doc_id: (r.n_grams, r.dup_gram_ratio)
           for r in repetition_scores(df).collect()}
    assert rep[1] == (0, 0.0) and rep[2] == (0, 0.0)
    assert rep[3] == (1, 0.0)
    assert rep[4] == (5, 0.0)

    sh = {r.doc_id: r.n for r in df.select(
        "doc_id",
        F.size(shingle_hash_array("text", 3)).alias("n")).collect()}
    assert sh == {1: 0, 2: 0, 3: 0, 4: 4}

    ng = {r.doc_id: r.n for r in df.select(
        "doc_id",
        F.size(ngram_hashes("text", 5, "arith")).alias("n")).collect()}
    assert ng == {1: 0, 2: 0, 3: 0, 4: 2}

    # docs without shingles simply have no signature row (same as the
    # string-shingle behavior)
    assert minhash_signatures(df).count() == 1


def test_worker_model_cache_keys_on_full_json(monkeypatch):
    """Two refits can agree on the model JSON's length, head and tail and
    differ only in the middle; each broadcast must get its own model."""
    from types import SimpleNamespace

    from outliertree_spark import engine

    monkeypatch.setattr(engine, "_WORKER_MODELS", {})
    pad_head, pad_tail = "h" * 300, "t" * 300
    a = SimpleNamespace(value='{"head": "%s", "mid": 1, "tail": "%s"}'
                        % (pad_head, pad_tail))
    b = SimpleNamespace(value='{"head": "%s", "mid": 2, "tail": "%s"}'
                        % (pad_head, pad_tail))
    assert len(a.value) == len(b.value)
    assert a.value[:256] == b.value[:256] and a.value[-256:] == b.value[-256:]

    ma = engine._worker_model(a)
    assert ma["mid"] == 1
    assert engine._worker_model(a) is ma
    assert engine._worker_model(b)["mid"] == 2
    assert engine._worker_model(a)["mid"] == 1


def test_warm_engine_failure_is_logged(monkeypatch, caplog):
    """The warm-up stays best-effort, but its failure leaves a trace."""
    import logging
    from types import SimpleNamespace

    from outliertree_spark import session

    def boom(spark):
        raise RuntimeError("no space left for the warm-up parquet")

    monkeypatch.delenv("SPARK_GRAFT_NO_WARMUP", raising=False)
    monkeypatch.setattr(session, "_warm_engine_inner", boom)
    monkeypatch.setattr(session, "_WARMED", False)
    stub = SimpleNamespace(sparkContext=SimpleNamespace(
        applicationId="local-warm-failure-test"))
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session._warm_engine(stub)  # must not raise
    (rec,) = [r for r in caplog.records if r.name == session.__name__]
    assert rec.levelno == logging.WARNING
    assert "warm-up failed" in rec.getMessage()
    assert rec.exc_info[1].args == ("no space left for the warm-up parquet",)

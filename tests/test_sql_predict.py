"""Pure-Catalyst scoring (plans/sql_predict) must produce the same
winners as the Arrow predict path, with no Python in the physical plan."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from outliertree_spark import SparkOutlierTree, ValidationConfig


def _mixed_df(spark, n=5000, seed=11):
    rng = np.random.RandomState(seed)
    grp = rng.randint(0, 2, n)
    lang = np.array(["en", "de", "fr", "xx"])[
        np.where(rng.rand(n) < 0.0005, 3, rng.randint(0, 3, n))]
    y = np.where(grp == 1, rng.normal(100, 5, n), rng.normal(0, 1, n))
    y[np.flatnonzero(grp == 1)[0]] = 500.0
    y[np.flatnonzero(grp == 0)[0]] = -300.0
    x = rng.normal(0, 1, n)
    x[rng.rand(n) < 0.1] = np.nan
    pdf = pd.DataFrame({"id": np.arange(n), "y": y, "x": x,
                        "flag": grp.astype(bool), "lang": lang})
    return spark.createDataFrame(pdf)


def _compare(spark, df, cfg, **fit_kw):
    eng = SparkOutlierTree(cfg)
    eng.fit(df, id_cols=["id"], **fit_kw)
    via_udf = (eng.predict(df, id_cols=["id"])
               .select("id", "suspicious_column", "outlier_score",
                       "tree_depth", "uses_NA_branch").toPandas()
               .sort_values("id").reset_index(drop=True))
    via_sql = (eng.score(df, id_cols=["id"])
               .select("id", "suspicious_column", "outlier_score",
                       "tree_depth", "uses_NA_branch").toPandas()
               .sort_values("id").reset_index(drop=True))
    assert list(via_udf["id"]) == list(via_sql["id"])
    assert list(via_udf["suspicious_column"]) == list(via_sql["suspicious_column"])
    assert list(via_udf["tree_depth"]) == list(via_sql["tree_depth"])
    assert list(via_udf["uses_NA_branch"]) == list(via_sql["uses_NA_branch"])
    np.testing.assert_allclose(via_udf["outlier_score"],
                               via_sql["outlier_score"], rtol=1e-9)
    return eng, via_sql


def test_sql_scoring_matches_udf_default(spark):
    df = _mixed_df(spark)
    eng, flagged = _compare(spark, df, ValidationConfig())
    assert len(flagged) >= 2  # planted conditional outliers found


def test_sql_scoring_matches_udf_follow_all(spark):
    df = _mixed_df(spark, seed=12)
    _compare(spark, df, ValidationConfig(follow_all=True))


def test_sql_scoring_matches_udf_majority(spark):
    df = _mixed_df(spark, seed=13)
    _compare(spark, df, ValidationConfig(categ_outliers="majority"))


def test_sql_plan_has_no_python(spark):
    df = _mixed_df(spark)
    eng = SparkOutlierTree(ValidationConfig())
    eng.fit(df, id_cols=["id"])
    plan = (eng.score(df, id_cols=["id"])
            ._jdf.queryExecution().executedPlan().toString())
    assert "ArrowEval" not in plan and "PythonUDF" not in plan \
        and "MapInPandas" not in plan


def test_sql_scoring_timestamp_target(spark):
    rng = np.random.RandomState(5)
    n = 3000
    base = pd.Timestamp("2024-01-01")
    ts = base + pd.to_timedelta(rng.randint(0, 20 * 24 * 3600, size=n), unit="s")
    ts = pd.Series(ts)
    ts.iloc[3] = base + pd.Timedelta(days=600)
    pdf = pd.DataFrame({"id": np.arange(n), "warc_ts": ts,
                        "v": rng.normal(size=n)})
    df = spark.createDataFrame(pdf)
    eng = SparkOutlierTree(ValidationConfig())
    eng.fit(df, id_cols=["id"])
    got = eng.score(df, id_cols=["id"]).toPandas()
    assert 3 in set(got["id"])
    assert got[got.id == 3].iloc[0]["suspicious_column"] == "warc_ts"


def test_sql_scoring_on_stream(spark, tmp_path):
    """The flagging plan runs on a streaming DataFrame (the reason its
    determinism gate uses rand(), not monotonically_increasing_id()),
    with the same rows as the batch plan and no Python operator."""
    df = _mixed_df(spark)
    eng = SparkOutlierTree(ValidationConfig())
    eng.fit(df, id_cols=["id"])
    src = str(tmp_path / "score_stream_src")
    df.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    s = eng.score(stream, id_cols=["id"])
    assert "MapInPandas" not in s._jdf.queryExecution().analyzed().toString()
    q = (s.writeStream.outputMode("append").format("memory")
         .queryName("score_stream").trigger(availableNow=True).start())
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT * FROM score_stream").toPandas()
    want = eng.score(df, id_cols=["id"]).toPandas()
    assert len(want) > 0
    key = ["id", "suspicious_column", "tree_depth"]
    assert (got[key].sort_values("id").values.tolist()
            == want[key].sort_values("id").values.tolist())

"""The Catalyst prefilter keeps every row the Arrow worker would flag:
``predict()`` equals ``predict(prefilter=False)``, and ``score()`` picks
the same winners, on seeded mixed tables.  Timestamps are encoded on the
Catalyst side bit for bit as the worker encodes them."""

import numpy as np
import pandas as pd
import pytest


from outliertree_spark import SparkOutlierTree, ValidationConfig
from outliertree_spark.colref import ts_seconds
from outliertree_spark.deploy import ensure_package_on_executors

WINNER = ["id", "suspicious_column", "tree_depth", "uses_NA_branch"]
BASE = pd.Timestamp("2024-01-01")
SIZES = ["S", "M", "L", "XL"]


def _sub_second(rng, n, days=20):
    secs = rng.uniform(0, days * 24 * 3600, size=n)
    return (BASE + pd.to_timedelta(secs, unit="s")).floor("us")


def _rows(df):
    return (df.select(*WINNER, "outlier_score").toPandas()
            .sort_values("id").reset_index(drop=True))


def test_prefilter_keeps_sub_second_timestamp(spark):
    """A timestamp 1e-4 s above its cluster's upper limit is flagged with
    and without the prefilter: a whole-second prefilter floors it below
    the limit and drops it."""
    rng = np.random.RandomState(5)
    n = 3000
    pdf = pd.DataFrame({"id": np.arange(n), "warc_ts": _sub_second(rng, n),
                        "v": rng.normal(size=n)})
    eng = SparkOutlierTree(ValidationConfig())
    eng.fit(spark.createDataFrame(pdf), id_cols=["id"])
    cm = next(c for c in eng.model_["columns"] if c["name"] == "warc_ts")
    root = next(cl for cl in cm["clusters"] if cl["split_type"] == "root")
    edge = pd.to_datetime(cm["ts_min"] + root["upper_lim"] + 1e-4, unit="s")
    extra = pd.DataFrame({"id": [n], "warc_ts": [edge.floor("us")], "v": [0.0]})
    df = spark.createDataFrame(pd.concat([pdf, extra], ignore_index=True))

    exact = eng.predict(df, id_cols=["id"], prefilter=False).toPandas()
    assert n in set(exact["id"])
    got = eng.predict(df, id_cols=["id"]).toPandas()
    assert n in set(got["id"])
    assert n in set(eng.score(df, id_cols=["id"]).toPandas()["id"])


def test_catalyst_ts_encoding_matches_worker(spark):
    """``ts_seconds`` equals ``pandas_to_predict_arrays`` bit for bit on
    random sub-second timestamps, dates and nulls."""
    rng = np.random.RandomState(3)
    n = 4000
    ts = pd.Series(_sub_second(rng, n, days=4000))
    ts[rng.rand(n) < 0.05] = pd.NaT
    day = pd.Series(ts.dt.date)
    pdf = pd.DataFrame({"id": np.arange(n), "ts": ts, "day": day})
    df = spark.createDataFrame(pdf, "id long, ts timestamp, day date")
    ts_min = {"ts": float(rng.uniform(1.5e9, 1.7e9)) + 0.123456,
              "day": 1.6e9 - 0.5}
    model = {"schema": {c: {"kind": "timestamp", "ts_min": m}
                        for c, m in ts_min.items()}}
    ensure_package_on_executors(spark)

    def encode(it):
        from outliertree_spark.schema import pandas_to_predict_arrays
        for pdf in it:
            enc = pandas_to_predict_arrays(pdf, model)
            yield pd.DataFrame({"id": pdf["id"], "ts_w": enc["ts"],
                                "day_w": enc["day"]})

    worker = (df.mapInPandas(encode, "id long, ts_w double, day_w double")
              .toPandas().sort_values("id").reset_index(drop=True))
    catalyst = (df.select("id", *[ts_seconds(c, m).alias(c + "_c")
                                  for c, m in ts_min.items()])
                .toPandas().sort_values("id").reset_index(drop=True))
    assert list(worker["id"]) == list(catalyst["id"]) == list(range(n))
    for c in ts_min:
        w = worker[c + "_w"].to_numpy()
        k = catalyst[c + "_c"].to_numpy()
        assert np.array_equal(np.isnan(w), np.isnan(k))
        assert np.isnan(w).sum() > 0
        fin = ~np.isnan(w)
        assert np.array_equal(w[fin].view(np.int64), k[fin].view(np.int64))
    # the sub-second part is really there
    assert (np.modf(worker["ts_w"].dropna().to_numpy())[0] != 0).mean() > 0.9


def _mixed_table(seed, conditional, n=2500):
    """Numeric, categorical and sub-second timestamp columns with NaN and
    null predictors, and planted outliers.  In a conditional table ``y``
    and ``ts`` depend on ``lang``, and the union of their cluster bounds
    lets every row through the prefilter; in a flat one the prefilter
    keeps only rows past a root cluster's bound."""
    rng = np.random.RandomState(seed)
    grp = rng.randint(0, 3, n)
    lang = np.array(["en", "de", "fr"])[grp]
    flip = rng.rand(n) < 0.02
    lang[flip] = rng.choice(["en", "de", "fr"], flip.sum())
    y = rng.normal(0, 2, n)
    if conditional:
        y += np.array([0.0, 50.0, 100.0])[grp]
    y[np.flatnonzero(grp == 1)[:2]] = [400.0, -250.0]
    # an ordinal that ``x`` depends on and that follows ``lang``
    size = np.where(rng.rand(n) < 0.6, grp, rng.randint(0, 4, n))
    x = rng.normal(0, 1, n) + 3.0 * size
    x[rng.rand(n) < 0.1] = np.nan
    ts = pd.Series(_sub_second(rng, n))
    ts[rng.rand(n) < 0.03] = pd.NaT
    if conditional:
        ts[grp == 2] += pd.Timedelta(days=30)
    ts[np.flatnonzero(grp == 0)[0]] += pd.Timedelta(days=400)
    lang = pd.Series(lang, dtype=object)
    lang[rng.rand(n) < 0.03] = None
    seen = pd.Series(_sub_second(rng, n))
    size = pd.Series(np.array(SIZES, dtype=object)[size])
    size[rng.rand(n) < 0.03] = None
    return pd.DataFrame({"id": np.arange(n), "y": y, "x": x,
                         "lang": lang, "ts": ts, "seen": seen, "size": size})


def _edge_rows(eng, pdf, rng, per_col=15):
    """Copies of fitted rows moved just past the flaggable bounds: for each
    numeric and timestamp column, ``per_col`` rows a sub-second step above
    its upper bound; plus rows with categories the fit never saw."""
    n = len(pdf)
    num = [c for c in eng.model_["columns"] if c["kind"] == "numeric"
           and np.isfinite(c["max_outlier_any"])]
    rows = pdf.sample(per_col * len(num) + 3, random_state=rng)
    rows = rows.reset_index(drop=True)
    rows["id"] = np.arange(n, n + len(rows))
    for i, cm in enumerate(num):
        for j in range(per_col):
            r, step = per_col * i + j, (1e-4, 0.3, 0.9)[j % 3]
            hi = cm["max_outlier_any"] + step
            rows.loc[r, cm["name"]] = (
                pd.to_datetime(cm["ts_min"] + hi, unit="s").floor("us")
                if cm.get("is_ts") else hi)
    rows.loc[len(rows) - 3:, "lang"] = ["zz", "yy", "zz"]
    rows.loc[len(rows) - 3:, "size"] = ["XXL", "XXL", "XS"]
    return pd.concat([pdf, rows], ignore_index=True)


@pytest.mark.parametrize("cfg", [
    ValidationConfig(),
    ValidationConfig(categ_outliers="majority"),
    ValidationConfig(follow_all=True),
    ValidationConfig(categ_split="separate", gain_as_pct=False),
    ValidationConfig(categ_split="bruteforce", gain_as_pct=False),
], ids=["tail", "majority", "follow_all", "separate", "bruteforce"])
@pytest.mark.parametrize("seed, conditional", [(21, True), (22, False)],
                         ids=["conditional", "flat"])
def test_prefilter_is_exact(spark, cfg, seed, conditional):
    pdf = _mixed_table(seed, conditional)
    schema = ("id long, y double, x double, lang string, ts timestamp, "
              "seen timestamp, size string")
    eng = SparkOutlierTree(cfg)
    # follow_all over one more predictor doubles its trees (to ~450
    # nodes and ~2,600 clusters), past what score() plans in minutes
    eng.fit(spark.createDataFrame(pdf, schema), id_cols=["id"],
            ordinal_cols={"size": SIZES},
            cols_ignore=["size"] if cfg.follow_all else None)
    df = spark.createDataFrame(
        _edge_rows(eng, pdf, np.random.RandomState(seed)), schema)

    exact = _rows(eng.predict(df, id_cols=["id"], prefilter=False))
    assert len(exact) > 0
    assert "ts" in set(exact["suspicious_column"])
    pre = _rows(eng.predict(df, id_cols=["id"]))
    pd.testing.assert_frame_equal(pre, exact)
    scored = _rows(eng.score(df, id_cols=["id"]))
    pd.testing.assert_frame_equal(scored[WINNER], exact[WINNER])
    np.testing.assert_allclose(scored["outlier_score"],
                               exact["outlier_score"], rtol=1e-9)

"""Dotted column names (R-exported frames, e.g. ``query.hyperthyroid``)
work through ``predict``, ``validate`` and ``ValidationSuite.run``: each
gives the rows of an undotted copy of the same table."""

import numpy as np
import pandas as pd

from outliertree_spark import SparkOutlierTree, ValidationConfig
from outliertree_spark.suite import ValidationSuite

DOTTED = {"row_id": "row.id", "part": "part.p", "query_y": "query.y"}


def _table():
    rng = np.random.RandomState(4)
    n = 2000
    pdf = pd.DataFrame({"row_id": np.arange(n), "part": np.arange(n) % 3,
                        "query_y": rng.normal(10, 1, n),
                        "x": rng.normal(0, 1, n)})
    pdf.loc[17, "query_y"] = 50.0
    pdf.loc[n - 1, "row_id"] = 5  # one duplicated id for the declared check
    return pdf


def _dotted(text):
    for plain, dotted in DOTTED.items():
        text = text.replace(plain, dotted)
    return text


def _rows(df, rename=False):
    pdf = df.toPandas()
    if rename:
        pdf = pdf.rename(columns=DOTTED)
        for c in pdf.columns:
            if pdf[c].dtype == object:
                pdf[c] = pdf[c].map(
                    lambda v: _dotted(v) if isinstance(v, str) else v)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def test_dotted_names_match_undotted_copy(spark):
    plain = _table()
    out = {}
    for name, cols in (("plain", {c: c for c in DOTTED}), ("dotted", DOTTED)):
        df = spark.createDataFrame(plain.rename(columns=cols))
        ids, part = [cols["row_id"]], cols["part"]
        eng = SparkOutlierTree(ValidationConfig())
        eng.fit(df, id_cols=ids, cols_ignore=[part])
        suite = ValidationSuite(engine=eng).add_uniqueness(ids[0])
        out[name] = [eng.predict(df, id_cols=ids),
                     *eng.validate(df, partition_col=part, id_cols=ids),
                     *suite.run(df, partition_col=part, id_cols=ids)]
    for plain_df, dotted_df in zip(out["plain"], out["dotted"]):
        want = _rows(plain_df, rename=True)
        got = _rows(dotted_df)
        assert len(got) > 0
        pd.testing.assert_frame_equal(got, want)
    predicted = _rows(out["dotted"][0])
    assert list(predicted["row.id"]) == [17]
    assert predicted["suspicious_column"][0] == "query.y"
    checks = _rows(out["dotted"][3])
    assert set(checks["check"]) == {"derived", "unique_row.id"}

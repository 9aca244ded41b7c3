"""ValidationSuite end-to-end: derived + declared checks, unified verdicts."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from outliertree_spark import ValidationConfig
from outliertree_spark.suite import ValidationSuite


@pytest.fixture(scope="module")
def data(spark):
    rng = np.random.RandomState(42)
    n = 4000
    ids = np.arange(n)
    url = np.array([f"https://h{i % 37}.com/d/{i}" for i in ids], dtype=object)
    url[101] = url[100]  # duplicate
    ref_id = rng.randint(0, 50, n)
    ref_id[7] = 999      # orphan
    base = pd.Timestamp("2024-01-01")
    ts = base + pd.to_timedelta(rng.randint(0, 20 * 24 * 3600, n), unit="s")
    ts = pd.Series(ts)
    ts.iloc[11] = base + pd.Timedelta(days=500)  # out of declared window
    lang = np.array(["en", "de", "fr"])[rng.choice(3, n, p=[0.6, 0.3, 0.1])]
    text_len = rng.lognormal(5, 0.3, n)
    text_len[13] = 2e6   # derived-constraint outlier
    bucket = ids % 5
    # bucket 4 drifts: all 'fr'
    lang[bucket == 4] = "fr"
    pdf = pd.DataFrame({"doc_id": ids, "url": url, "ref_id": ref_id,
                        "warc_ts": ts, "lang": lang, "text_len": text_len,
                        "bucket": bucket})
    df = spark.createDataFrame(pdf)
    parent = spark.createDataFrame(pd.DataFrame({"id": np.arange(50)}))
    baseline = df.filter(F.col("bucket") < 4)
    return df, parent, baseline


def test_suite_unified_run(spark, data):
    df, parent, baseline = data
    suite = (ValidationSuite(ValidationConfig())
             .add_uniqueness("url")
             .add_referential(parent, child_key="ref_id", parent_key="id")
             .add_timestamp_range("warc_ts", "2024-01-01", "2024-02-01")
             .add_drift_baseline(baseline, "lang", max_psi=0.2))
    suite.fit(df, id_cols=["doc_id"], cols_ignore=["bucket", "url", "ref_id"])
    viols, verdicts = suite.run(df, partition_col="bucket",
                                id_cols=["doc_id"])
    vp = viols.toPandas()
    by_check = vp.groupby("check")["doc_id"].apply(set).to_dict()
    assert {100, 101} <= by_check.get("unique_url", set())
    assert 7 in by_check.get("ref_ref_id", set())
    assert 11 in by_check.get("ts_range_warc_ts", set())
    assert 13 in by_check.get("derived", set())
    # the explanation names the row, not its partition (doc 13 is in
    # bucket 3)
    row13 = vp[(vp.check == "derived") & (vp.doc_id == 13)].iloc[0]
    assert row13["bucket"] == 3
    assert row13["explanation"].startswith("row [13] - ")

    vd = verdicts.toPandas().set_index("bucket").sort_index()
    assert len(vd) == 5
    # the drifted partition fails on PSI even if its row checks pass
    assert not bool(vd.loc[4, "passed"])
    assert vd.loc[4, [c for c in vd.columns if c.startswith("psi_")][0]] > 0.2
    # non-drifted partitions have small PSI
    assert vd.loc[0, [c for c in vd.columns if c.startswith("psi_")][0]] < 0.2


def test_suite_snapshot_delta(spark, data):
    df, parent, baseline = data
    # previous snapshot: doc 21's text_len differed, doc 4000 existed
    # then (now removed), doc 17 is new growth (absent before)
    prev = (df.filter(F.col("doc_id") != 17)
              .withColumn("text_len",
                          F.when(F.col("doc_id") == 21, F.lit(1.0))
                           .otherwise(F.col("text_len"))))
    extra = prev.filter(F.col("doc_id") == 0).withColumn(
        "doc_id", F.lit(4000).cast("long"))
    prev = prev.unionByName(extra)
    suite = (ValidationSuite(ValidationConfig())
             .add_snapshot_delta(prev, "doc_id",
                                 compare_cols=["text_len", "lang"]))
    suite.fit(df, id_cols=["doc_id"], cols_ignore=["bucket", "url", "ref_id"])
    viols, verdicts = suite.run(df, partition_col="bucket",
                                id_cols=["doc_id"])
    vp = viols.toPandas()
    snap = vp[vp["check"] == "snapshot_doc_id"]
    got = dict(zip(snap["doc_id"], snap["suspicious_value"]))
    assert got[21] == "changed"
    assert got[4000] == "removed"     # attributed via the old snapshot
    assert 17 not in got              # additions are growth, not violations
    # removed doc 4000 carried bucket 0 from the previous snapshot
    assert set(snap[snap["doc_id"] == 4000]["bucket"]) == {0}


def test_suite_snapshot_delta_evolved_schema(spark, data):
    """Ordinary schema evolution (a column added in the new snapshot)
    must not break the changed/removed union: snapshot_diff compares
    only shared columns, and the violation union fills the missing
    column with nulls instead of raising."""
    df, parent, baseline = data
    cur = df.withColumn("fetch_ms", (F.col("doc_id") * 3).cast("long"))
    prev = (df.filter(F.col("doc_id") != 17)
              .withColumn("text_len",
                          F.when(F.col("doc_id") == 21, F.lit(1.0))
                           .otherwise(F.col("text_len"))))
    extra = prev.filter(F.col("doc_id") == 0).withColumn(
        "doc_id", F.lit(4000).cast("long"))
    prev = prev.unionByName(extra)      # prev has NO fetch_ms column
    suite = (ValidationSuite(ValidationConfig())
             .add_snapshot_delta(prev, "doc_id",
                                 compare_cols=["text_len", "lang"]))
    suite.fit(cur, id_cols=["doc_id"],
              cols_ignore=["bucket", "url", "ref_id", "fetch_ms"])
    viols, _ = suite.run(cur, partition_col="bucket", id_cols=["doc_id"])
    vp = viols.toPandas()
    snap = vp[vp["check"] == "snapshot_doc_id"]
    got = dict(zip(snap["doc_id"], snap["suspicious_value"]))
    assert got[21] == "changed" and got[4000] == "removed"


PROSE = ("the quick brown fox jumps over the lazy dog and then it "
         "decided that running was fine so it kept going across the "
         "wide green field with many other animals joining in while "
         "birds watched from tall trees and the sun moved slowly over "
         "the distant hills until evening came and everything grew "
         "quiet again")


def test_suite_quality_rules(spark):
    import pandas as pd
    rng = np.random.RandomState(7)
    rows = []
    for i in range(30):
        text = PROSE + f" ending{i} marker{i}"
        if i == 5:
            text = "too short"                      # fails word count
        if i == 7:
            # stopword-rich line repeated: passes the quality set but
            # fails the repetition rules on duplicate lines
            text = ("the cat and the dog have to be with that now\n"
                    * 30) + PROSE
        rows.append((i, text, i % 2, float(rng.normal(100, 10))))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "bucket", "value"]))
    suite = (ValidationSuite(ValidationConfig())
             .add_quality_rules(include_repetition=True))
    suite.fit(df, id_cols=["doc_id"], cols_ignore=["text", "bucket"])
    viols, verdicts = suite.run(df, partition_col="bucket",
                                id_cols=["doc_id"])
    vp = viols.toPandas()
    q = vp[vp["check"] == "quality_rules"]
    flagged = q.groupby("doc_id")["suspicious_value"].apply(
        lambda s: ";".join(sorted(s))).to_dict()
    # doc 5 fails BOTH rule sets (2 words: word-count on the quality
    # side, a 100% top-2-gram on the repetition side)
    assert 5 in flagged and "gopher:" in flagged[5]
    assert "rule_word_count" in flagged[5]
    assert "repetition:rule_top_2gram" in flagged[5]
    assert 7 in flagged and flagged[7].startswith("repetition:")
    assert "rule_dup_lines" in flagged[7]
    assert "gopher:" not in flagged[7]  # quality set passes doc 7
    clean = set(range(30)) - {5, 7}
    assert not (set(q["doc_id"]) & clean), sorted(set(q["doc_id"]) & clean)
    assert q.loc[q["doc_id"] == 5, "suspicious_column"].iloc[0] == "quality"


@pytest.mark.parametrize("keys", [{"partition_col": "check"},
                                  {"partition_col": "bucket",
                                   "id_cols": ["check"]}],
                         ids=["partition", "id"])
def test_key_column_named_check_is_refused(spark, keys):
    """The rows' own ``check`` column would overwrite a key column of that
    name: every partition would count 0 violations and pass, or the rows
    would lose their ids.  Both run and check_violations refuse it."""
    df = spark.createDataFrame(pd.DataFrame(
        {"check": [1, 2, 2], "bucket": [0, 0, 1], "url": ["a", "b", "b"]}))
    suite = ValidationSuite(ValidationConfig()).add_uniqueness("url")
    with pytest.raises(ValueError, match="'check'"):
        suite.check_violations(df, **keys)
    with pytest.raises(ValueError, match="'check'"):
        suite.run(df, **keys)


def test_check_violations_row_shape(spark, data):
    """Declared-check rows carry the key columns, every engine violation
    field and ``check``: the kind, the value and the rendered explanation,
    NULL elsewhere; with no declared check the frame is empty."""
    from outliertree_spark.engine import VIOLATION_FIELDS
    df, parent, baseline = data
    suite = ValidationSuite(ValidationConfig()).add_uniqueness("url")
    rows = suite.check_violations(df, "bucket", ["doc_id"])
    assert rows.columns == (["bucket", "doc_id"]
                            + [f.name for f in VIOLATION_FIELDS] + ["check"])
    assert [f.dataType for f in rows.schema.fields[2:-1]] == \
        [f.dataType for f in VIOLATION_FIELDS]
    got = rows.filter(F.col("doc_id") == 101).toPandas().iloc[0]
    url = "https://h26.com/d/100"
    assert got["suspicious_column"] == "uniqueness"
    assert got["suspicious_value"] == url
    assert got["explanation"] == f"check [unique_url] failed: {url}"
    assert got["check"] == "unique_url"
    for name in ("suspicious_value_num", "group_statistics", "conditions",
                 "tree_depth", "uses_NA_branch", "outlier_score"):
        assert pd.isna(got[name]), name
    empty = ValidationSuite().check_violations(df, "bucket", ["doc_id"])
    assert empty.columns == rows.columns and empty.count() == 0

"""Spark end-to-end: fit -> broadcast -> prefilter -> mapInPandas predict
-> per-partition verdicts, on a synthetic Common-Crawl-style documents
table with planted violations (FIXTURES.md F1)."""

import json

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from outliertree_spark import SparkOutlierTree, ValidationConfig


@pytest.fixture(scope="module")
def docs_df(spark):
    rng = np.random.RandomState(42)
    n = 4000
    langs = np.array(["en", "de", "fr", "es", "zh"])
    # every regular lang must clear the rare-rule's 250-count floor
    # (cat_outlier.cpp:295: next-most-common >= 250)
    lang = langs[rng.choice(5, size=n, p=[0.4, 0.25, 0.15, 0.1, 0.1])]
    # text length log-normal conditioned on lang
    mu = {"en": 5.0, "de": 5.5, "fr": 6.0, "es": 6.5, "zh": 4.0}
    tl = np.array([rng.lognormal(mu[l], 0.3) for l in lang])
    # planted: row 7 has ~100x the conditional norm for its lang
    lang[7] = "zh"
    tl[7] = float(np.exp(4.0)) * 120.0
    # planted ultra-rare lang (count 1, n>=1000 rule)
    lang[11] = "xx"
    pdf = pd.DataFrame({
        "doc_id": np.arange(n),
        "lang": lang,
        "text_len": tl,
        "bucket": np.arange(n) % 8,
    })
    return spark.createDataFrame(pdf)


def test_fit_predict_flags_planted_rows(spark, docs_df):
    eng = SparkOutlierTree(ValidationConfig())
    eng.fit(docs_df, id_cols=["doc_id"], cols_ignore=["bucket"])
    names = [c["name"] for c in eng.model_["columns"]]
    assert "text_len" in names

    viols = eng.predict(docs_df, id_cols=["doc_id"]).toPandas()
    flagged = set(viols["doc_id"])
    assert 7 in flagged     # conditional numeric outlier
    assert 11 in flagged    # unconditional rare category
    row7 = viols[viols.doc_id == 7].iloc[0]
    assert row7["suspicious_column"] == "text_len"
    assert row7["outlier_score"] < 0.1
    row11 = viols[viols.doc_id == 11].iloc[0]
    assert row11["suspicious_column"] == "lang"
    assert row11["suspicious_value"] == "xx"
    assert "given:" in row7["explanation"]
    # few false positives
    assert len(flagged) < 40


def test_fit_single_job_when_input_fits_cap(spark, docs_df):
    """The fit-stage read is ONE Spark job when the input fits
    max_fit_rows (the old shape always ran a separate count job before
    the collect — two scans on the flagship path)."""
    docs_df.count()  # materialize any lazy createDataFrame work first
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    eng = SparkOutlierTree(ValidationConfig())
    eng.fit(docs_df, id_cols=["doc_id"], cols_ignore=["bucket"])
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after - before == 1, f"fit ran {after - before} jobs, want 1"


def test_fit_sample_capped_when_input_exceeds_cap(spark, docs_df):
    """Inputs over max_fit_rows fall back to the bounded Bernoulli
    sample: the fit pandas frame stays near the cap, never the full
    table."""
    cfg = ValidationConfig(max_fit_rows=1000)
    eng = SparkOutlierTree(cfg)
    eng.fit(docs_df, id_cols=["doc_id"], cols_ignore=["bucket"])
    assert 700 <= len(eng._fit_pdf) <= 1400  # ~1000 of 4000, Bernoulli
    # deterministic: same seed -> same sample
    eng2 = SparkOutlierTree(ValidationConfig(max_fit_rows=1000))
    eng2.fit(docs_df, id_cols=["doc_id"], cols_ignore=["bucket"])
    assert list(eng._fit_pdf["doc_id"]) == list(eng2._fit_pdf["doc_id"])


def test_prefilter_is_selective(spark, docs_df):
    eng = SparkOutlierTree(ValidationConfig())
    eng.fit(docs_df, id_cols=["doc_id"], cols_ignore=["bucket"])
    expr = eng.prefilter_expr(docs_df)
    n_candidates = docs_df.filter(expr).count()
    # the pushed-down pre-filter must eliminate the large majority of rows
    # (its floor is the lowest conditional cluster's upper bound, so
    # selectivity is data-dependent; see clusters.cpp:1073-1091)
    assert n_candidates < docs_df.count() * 0.15


def test_validate_verdicts(spark, docs_df):
    eng = SparkOutlierTree(ValidationConfig())
    eng.fit(docs_df, id_cols=["doc_id"], cols_ignore=["bucket"])
    viols, verdicts = eng.validate(docs_df, partition_col="bucket",
                                   id_cols=["doc_id"])
    vp = verdicts.toPandas().set_index("bucket")
    assert len(vp) == 8
    assert int(vp["n_rows"].sum()) == 4000
    assert bool(vp["passed"].all())  # planted rate < pct_outliers threshold


def test_checkpoint_ledger(spark, docs_df, tmp_path):
    from outliertree_spark import CheckpointLedger
    eng = SparkOutlierTree(ValidationConfig())
    eng.fit(docs_df, id_cols=["doc_id"], cols_ignore=["bucket"])
    led = CheckpointLedger(str(tmp_path / "ledger.jsonl"))
    _, verdicts = eng.validate(docs_df, partition_col="bucket")
    rows = led.record_verdicts(verdicts, "bucket",
                               lineage={"input": "docs_df"})
    assert len(led.done_partitions()) == 8
    assert {r["bucket"] for r in rows} == led.done_partitions()
    remaining = led.filter_remaining(docs_df, "bucket")
    assert remaining.count() == 0


def test_checkpoint_ledger_skips_torn_last_line(tmp_path):
    """A crash mid-append tears the last line: resume reads past it, and
    the next append starts a fresh line instead of gluing onto it."""
    from outliertree_spark import CheckpointLedger
    led = CheckpointLedger(str(tmp_path / "ledger.jsonl"))
    led.record(0, {"passed": True})
    led.record_marker("snapshot_delta::prev")
    with open(led.path, "a") as f:
        f.write('{"partition": 1, "ts": 17.5, "verd')
    assert led.done_partitions() == {0}
    assert led.has_marker("snapshot_delta::prev")
    led.record(2, {"passed": False})
    assert led.done_partitions() == {0, 2}
    with open(led.path) as f:
        entries = [json.loads(line) for line in f]
    assert [e.get("partition") for e in entries] == [0, None, 2]


def test_checkpoint_ledger_keeps_whole_unterminated_last_line(tmp_path):
    """A hand-edited ledger may lack the final newline; its last entry
    parses, so the next append terminates it instead of cutting it."""
    from outliertree_spark import CheckpointLedger
    led = CheckpointLedger(str(tmp_path / "ledger.jsonl"))
    with open(led.path, "w") as f:
        f.write('{"partition": 0, "verdict": {}}')
    led.record(1, {"passed": True})
    assert led.done_partitions() == {0, 1}


def test_checkpoint_ledger_raises_on_corrupt_middle_line(tmp_path):
    from outliertree_spark import CheckpointLedger
    led = CheckpointLedger(str(tmp_path / "ledger.jsonl"))
    led.record(0, {"passed": True})
    with open(led.path, "a") as f:
        f.write('{"partition": 1, "ts": 17.5, "verd\n')
    led.record(2, {"passed": True})
    with pytest.raises(json.JSONDecodeError):
        led.done_partitions()
    with pytest.raises(json.JSONDecodeError):
        led.has_marker("snapshot_delta::prev")


def test_checkpoint_ledger_resume_mid_run(spark, docs_df, tmp_path):
    """Round-4 (verdict): end-to-end resume.  Simulate a run killed after
    3 of 8 partitions completed, resume against the ledger, and assert
    (a) only the 5 unfinished partitions execute, (b) the combined
    ledger verdicts equal an uninterrupted run's exactly."""
    from outliertree_spark import CheckpointLedger
    eng = SparkOutlierTree(ValidationConfig())
    eng.fit(docs_df, id_cols=["doc_id"], cols_ignore=["bucket"])

    # the uninterrupted reference run
    _, full = eng.validate(docs_df, partition_col="bucket")
    full_rows = {r["bucket"]: (r["n_rows"], r["n_violations"], r["passed"])
                 for r in full.collect()}
    assert len(full_rows) == 8

    # interrupted run: first 3 partitions' verdicts made it to the ledger
    done_subset = sorted(full_rows)[:3]
    led = CheckpointLedger(str(tmp_path / "ledger.jsonl"))
    led.record_verdicts(full.filter(F.col("bucket").isin(done_subset)),
                        "bucket", lineage={"attempt": 1})
    assert led.done_partitions() == set(done_subset)

    # resume: the remaining frame must contain ONLY unfinished partitions
    remaining = led.filter_remaining(docs_df, "bucket")
    rem_parts = {r["bucket"] for r in
                 remaining.select("bucket").distinct().collect()}
    assert rem_parts == set(full_rows) - set(done_subset)
    _, verd2 = eng.validate(remaining, partition_col="bucket")
    led.record_verdicts(verd2, "bucket", lineage={"attempt": 2})

    # ledger now covers every partition with verdicts identical to the
    # uninterrupted run
    assert led.done_partitions() == set(full_rows)
    import json as _json
    merged = {}
    with open(led.path) as f:
        for line in f:
            e = _json.loads(line)
            v = e["verdict"]
            merged[e["partition"]] = (v["n_rows"], v["n_violations"],
                                      v["passed"])
    assert merged == full_rows


def test_model_save_load_roundtrip(spark, docs_df, tmp_path):
    eng = SparkOutlierTree(ValidationConfig())
    eng.fit(docs_df, id_cols=["doc_id"], cols_ignore=["bucket"])
    p = str(tmp_path / "model.json")
    eng.save(p)
    eng2 = SparkOutlierTree.load(p)
    v1 = eng.predict(docs_df, id_cols=["doc_id"]).toPandas()
    v2 = eng2.predict(docs_df, id_cols=["doc_id"]).toPandas()
    assert sorted(v1["doc_id"]) == sorted(v2["doc_id"])


def test_timestamp_column_support(spark):
    rng = np.random.RandomState(5)
    n = 2000
    base = pd.Timestamp("2024-01-01", tz="UTC")
    ts = base + pd.to_timedelta(rng.randint(0, 30 * 24 * 3600, size=n), unit="s")
    ts = pd.Series(ts)
    ts.iloc[3] = base + pd.Timedelta(days=900)  # way outside the window
    pdf = pd.DataFrame({"id": np.arange(n),
                        "warc_ts": ts.dt.tz_localize(None),
                        "x": rng.normal(size=n)})
    df = spark.createDataFrame(pdf)
    eng = SparkOutlierTree(ValidationConfig())
    eng.fit(df, id_cols=["id"])
    viols = eng.predict(df, id_cols=["id"]).toPandas()
    assert 3 in set(viols["id"])
    row = viols[viols.id == 3].iloc[0]
    assert row["suspicious_column"] == "warc_ts"

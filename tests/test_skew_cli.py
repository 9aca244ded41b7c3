"""Skew utilities + the spark-submit CLI driven end-to-end (incl. resume)."""

import json
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from outliertree_spark.operators.skew import hot_keys, salted_join


def test_salted_join_equivalence(spark):
    rng = np.random.RandomState(0)
    n = 20000
    # zipf-skewed key: one key holds ~50% of rows
    keys = np.where(rng.rand(n) < 0.5, 0, rng.randint(1, 50, n))
    big = spark.createDataFrame(
        pd.DataFrame({"host": keys, "v": rng.normal(size=n)}))
    small = spark.createDataFrame(
        pd.DataFrame({"host": np.arange(50), "w": np.arange(50) * 1.0}))
    plain = big.join(small, "host").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum(F.col("v") * F.col("w")), 6).alias("s")
    ).first()
    salted = salted_join(big, small, "host", n_salts=8).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum(F.col("v") * F.col("w")), 6).alias("s")
    ).first()
    assert plain["n"] == salted["n"]
    assert plain["s"] == pytest.approx(salted["s"], abs=1e-5)


def test_hot_keys(spark):
    rng = np.random.RandomState(1)
    n = 10000
    keys = np.where(rng.rand(n) < 0.3, "hot", rng.randint(0, 1000, n).astype(str))
    df = spark.createDataFrame(pd.DataFrame({"k": keys}))
    hot = hot_keys(df, "k", threshold_frac=0.05).toPandas()
    assert list(hot["k"]) == ["hot"]


def test_cli_run_and_resume(spark, tmp_path):
    # isolate: the CLI creates its own SparkSession in a subprocess
    src = str(tmp_path / "docs.parquet")
    rng = np.random.RandomState(42)
    n = 3000
    pdf = pd.DataFrame({
        "doc_id": np.arange(n),
        "text_len": rng.lognormal(5, 0.3, n),
        "lang": np.array(["en", "de", "fr"])[rng.randint(0, 3, n)],
        "bucket": np.arange(n) % 4,
    })
    pdf.loc[9, "text_len"] = 1e7
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)

    ledger = str(tmp_path / "ledger.jsonl")
    vout = str(tmp_path / "violations.parquet")
    model = str(tmp_path / "model.json")
    cmd = [sys.executable, "scripts/run_validate.py",
           "--input", src, "--partition-col", "bucket",
           "--id-col", "doc_id", "--checkpoint", ledger,
           "--violations-out", vout, "--model-out", model,
           "--master", "local[2]"]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=420,
                       cwd=".")
    assert r.returncode == 0, r.stderr[-2000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["status"] == "ok"

    viols = spark.read.parquet(vout).toPandas()
    assert 9 in set(viols["doc_id"])
    # resume: everything done -> nothing-to-do
    r2 = subprocess.run(cmd + ["--resume", "--model-in", model],
                        capture_output=True, text=True, timeout=420, cwd=".")
    assert r2.returncode == 0, r2.stderr[-2000:]
    out2 = json.loads(r2.stdout.strip().splitlines()[-1])
    assert out2["status"] == "nothing-to-do" and out2["done"] == 4


def test_domain_profile_plan_has_no_single_partition(spark):
    """Round-3 regression: the corpus-share total must come from a
    broadcast scalar aggregate, never an unpartitioned window (which
    funnels the grouped result through one partition)."""
    from outliertree_spark.operators.skew import domain_profile
    df = spark.range(1000).select(
        F.concat(F.lit("h"), (F.col("id") % 7).cast("string")).alias("domain"))
    plan = domain_profile(df, "domain")._jdf.queryExecution() \
        .executedPlan().toString()
    # the scalar sum's own final step is a SinglePartition exchange of
    # ONE partial-sum row per task — that is fine; what must be gone is
    # the WindowExec that funneled every grouped row through one task
    assert "Window" not in plan
    assert "BroadcastExchange" in plan


def test_hot_keys_plan_is_lazy_and_correct(spark):
    """hot_keys must not run actions during construction (it used to
    call df.count()); the threshold total is now in-plan."""
    from outliertree_spark.operators.skew import hot_keys
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None) or [])
    df = spark.range(1000).select(
        F.when(F.col("id") < 300, "hot").otherwise(
            F.col("id").cast("string")).alias("k"))
    q = hot_keys(df, "k", threshold_frac=0.05)
    jobs_after = len(tracker.getJobIdsForGroup(None) or [])
    assert jobs_after == jobs_before, "hot_keys ran an action eagerly"
    assert [r.k for r in q.collect()] == ["hot"]


def test_auto_salted_join_sizes_and_bounds(spark):
    """Profile-driven salting end-to-end: pick_n_salts from the hot ppm,
    result rows identical to a plain join, and the physical join keys
    include the salt so no reducer owns a whole hot key."""
    from outliertree_spark.operators.skew import (auto_salted_join,
                                                  domain_profile,
                                                  pick_n_salts)
    rng = np.random.RandomState(3)
    n = 20000
    keys = np.where(rng.rand(n) < 0.4, 0, rng.randint(1, 50, n))
    big = spark.createDataFrame(
        pd.DataFrame({"host": keys, "v": rng.normal(size=n)}))
    small = spark.createDataFrame(
        pd.DataFrame({"host": np.arange(50), "w": np.arange(50) * 1.0}))

    prof = domain_profile(big.select("host"), "host")
    # hottest key ~40% of rows -> ceil(0.4/0.01) = 40 salts
    assert 35 <= pick_n_salts(prof, target_frac=0.01) <= 45
    assert pick_n_salts(prof, target_frac=0.25) == 2

    joined, n_salts = auto_salted_join(big, small, "host",
                                       target_frac=0.05)
    assert n_salts >= 8
    plain = big.join(small, "host").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("v") * F.col("w")), 5).alias("s")).first()
    got = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("v") * F.col("w")), 5).alias("s")).first()
    assert got["n"] == plain["n"]
    assert got["s"] == pytest.approx(plain["s"], abs=1e-4)
    # per-salt task bounding: the join condition carries _salt next to
    # the natural key, so a hot key's rows split across n_salts reducers
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan

    # no skew in the profile -> unsalted plain join
    flat = spark.range(500).select(
        (F.col("id") % 50).alias("host"), F.lit(1.0).alias("v"))
    _, ns = auto_salted_join(flat, small, "host", target_frac=0.5)
    assert ns == 1


def test_domain_profile_ppm_and_hot_flag(spark):
    from outliertree_spark.operators.skew import domain_profile
    pdf = pd.DataFrame({"domain": ["a.com"] * 60 + ["b.com"] * 39
                        + ["c.com"]})
    prof = {r.domain: r for r in
            domain_profile(spark.createDataFrame(pdf), "domain").collect()}
    assert prof["a.com"].n_docs == 60 and prof["a.com"].ppm == 600000
    assert prof["b.com"].ppm == 390000
    assert prof["c.com"].ppm == 10000  # exactly at threshold: not hot
    assert prof["a.com"].is_hot and prof["b.com"].is_hot
    assert not prof["c.com"].is_hot


def test_cli_prev_snapshot(spark, tmp_path):
    """The snapshot delta lands in the violations sink, also when the id
    and partition columns carry dots (read literally, not as struct
    paths)."""
    for case, (id_col, part_col) in enumerate((("doc_id", "bucket"),
                                               ("doc.id", "src.bucket"))):
        _check_prev_snapshot(spark, tmp_path / str(case), id_col, part_col)


def _check_prev_snapshot(spark, tmp_path, id_col, part_col):
    src = str(tmp_path / "docs.parquet")
    prev = str(tmp_path / "prev.parquet")
    rng = np.random.RandomState(7)
    n = 2000
    pdf = pd.DataFrame({
        id_col: np.arange(n),
        "text_len": rng.lognormal(5, 0.3, n),
        "lang": np.array(["en", "de"])[np.arange(n) % 2],
        part_col: np.arange(n) % 3,
    })
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)
    # previous snapshot: doc 42's content differed; doc 5000 existed then
    ppdf = pdf.copy()
    ppdf.loc[42, "text_len"] = 1.0
    extra = pdf.iloc[[0]].copy()
    extra[id_col] = 5000
    ppdf = pd.concat([ppdf, extra], ignore_index=True)
    spark.createDataFrame(ppdf).write.mode("overwrite").parquet(prev)

    ledger = str(tmp_path / "ledger.jsonl")
    vout = str(tmp_path / "violations.parquet")
    cmd = [sys.executable, "scripts/run_validate.py",
           "--input", src, "--partition-col", part_col,
           "--id-col", id_col, "--checkpoint", ledger,
           "--violations-out", vout, "--prev-snapshot", prev,
           "--master", "local[2]"]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=420,
                       cwd=".")
    assert r.returncode == 0, r.stderr[-2000:]
    viols = spark.read.parquet(vout).toPandas()
    snap = viols[viols["suspicious_column"] == "snapshot_delta"]
    got = dict(zip(snap[id_col], snap["suspicious_value"]))
    assert got == {42: "changed", 5000: "removed"}
    # removed row attributed to its partition in the previous snapshot
    assert set(snap[snap[id_col] == 5000][part_col]) == {0}


def test_cli_prev_snapshot_with_resume(spark, tmp_path):
    """--resume filters df to unfinished partitions; the snapshot diff
    must still see the FULL table, or every row of a completed partition
    reads as 'removed'."""
    src = str(tmp_path / "docs.parquet")
    prev = str(tmp_path / "prev.parquet")
    n = 1200
    pdf = pd.DataFrame({
        "doc_id": np.arange(n),
        "text_len": np.random.RandomState(3).lognormal(5, 0.3, n),
        "bucket": np.arange(n) % 3,
    })
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)
    ppdf = pdf.copy()
    ppdf.loc[10, "text_len"] = 2.0           # changed in bucket 1
    spark.createDataFrame(ppdf).write.mode("overwrite").parquet(prev)

    ledger = str(tmp_path / "ledger.jsonl")
    vout = str(tmp_path / "violations.parquet")
    model = str(tmp_path / "model.json")
    base = [sys.executable, "scripts/run_validate.py",
            "--input", src, "--partition-col", "bucket",
            "--id-col", "doc_id", "--checkpoint", ledger,
            "--violations-out", vout, "--master", "local[2]"]
    # first run: full, writes the ledger for all 3 buckets
    r = subprocess.run(base + ["--model-out", model],
                       capture_output=True, text=True, timeout=420, cwd=".")
    assert r.returncode == 0, r.stderr[-2000:]
    # simulate one unfinished partition, then resume WITH the snapshot
    lines = open(ledger).read().strip().splitlines()
    kept = [l for l in lines
            if str(json.loads(l).get("partition")) != "2"]
    open(ledger, "w").write("\n".join(kept) + "\n")
    r2 = subprocess.run(base + ["--resume", "--model-in", model,
                                "--prev-snapshot", prev],
                        capture_output=True, text=True, timeout=420, cwd=".")
    assert r2.returncode == 0, r2.stderr[-2000:]
    viols = spark.read.parquet(vout).toPandas()
    snap = viols[viols["suspicious_column"] == "snapshot_delta"]
    # ONLY the genuinely-changed row appears; no phantom 'removed' rows
    # from the completed buckets 0/1
    assert set(snap["doc_id"]) == {10}
    assert set(snap["suspicious_value"]) == {"changed"}
    assert len(snap) == 1

    # rerunning the SAME resume command must not duplicate the
    # snapshot_delta rows: completion is marker-recorded in the ledger
    r3 = subprocess.run(base + ["--resume", "--model-in", model,
                                "--prev-snapshot", prev],
                        capture_output=True, text=True, timeout=420, cwd=".")
    assert r3.returncode == 0, r3.stderr[-2000:]
    out3 = json.loads(r3.stdout.strip().splitlines()[-1])
    assert out3["status"] == "nothing-to-do"
    assert out3["snapshot_check_ran"] is False
    viols3 = spark.read.parquet(vout).toPandas()
    snap3 = viols3[viols3["suspicious_column"] == "snapshot_delta"]
    assert len(snap3) == 1, "snapshot rows duplicated on rerun"


def test_cli_snapshot_runs_on_nothing_to_do_resume(spark, tmp_path):
    """A resume with zero remaining partitions still owes the snapshot
    check when it has never run (no ledger marker): the early
    nothing-to-do exit must append the snapshot_delta rows exactly
    once."""
    src = str(tmp_path / "docs.parquet")
    prev = str(tmp_path / "prev.parquet")
    n = 900
    pdf = pd.DataFrame({
        "doc_id": np.arange(n),
        "text_len": np.random.RandomState(5).lognormal(5, 0.3, n),
        "bucket": np.arange(n) % 3,
    })
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)
    ppdf = pdf.copy()
    ppdf.loc[7, "text_len"] = 123.0
    spark.createDataFrame(ppdf).write.mode("overwrite").parquet(prev)

    ledger = str(tmp_path / "ledger.jsonl")
    vout = str(tmp_path / "violations.parquet")
    model = str(tmp_path / "model.json")
    base = [sys.executable, "scripts/run_validate.py",
            "--input", src, "--partition-col", "bucket",
            "--id-col", "doc_id", "--checkpoint", ledger,
            "--violations-out", vout, "--master", "local[2]"]
    # first run completes all partitions WITHOUT a snapshot check
    r = subprocess.run(base + ["--model-out", model],
                       capture_output=True, text=True, timeout=420, cwd=".")
    assert r.returncode == 0, r.stderr[-2000:]
    # resume with --prev-snapshot: no partitions remain, but the
    # snapshot check has no marker yet -> it must run now
    r2 = subprocess.run(base + ["--resume", "--model-in", model,
                                "--prev-snapshot", prev],
                        capture_output=True, text=True, timeout=420, cwd=".")
    assert r2.returncode == 0, r2.stderr[-2000:]
    out2 = json.loads(r2.stdout.strip().splitlines()[-1])
    assert out2["status"] == "nothing-to-do"
    assert out2["snapshot_check_ran"] is True
    viols = spark.read.parquet(vout).toPandas()
    snap = viols[viols["suspicious_column"] == "snapshot_delta"]
    assert list(snap["doc_id"]) == [7] and len(snap) == 1


def test_cli_quality_rules_gate(spark, tmp_path):
    """--quality-rules routes the run through the ValidationSuite: a
    planted short doc lands in the violations parquet with the failed
    rule list, unified with the derived tree violations.  A second run
    has dotted id and partition columns and adds the repetition rules."""
    _check_quality_rules(spark, tmp_path / "0", "doc_id", "bucket", [])
    _check_quality_rules(spark, tmp_path / "1", "doc.id", "src.bucket",
                         ["--quality-repetition"])


def _check_quality_rules(spark, tmp_path, id_col, part_col, extra):
    import numpy as np
    import pandas as pd
    rng = np.random.RandomState(3)
    prose = ("the quick brown fox jumps over the lazy dog and then it "
             "decided that running was fine so it kept going across the "
             "wide green field with many other animals joining in while "
             "birds watched from tall trees and the sun moved slowly "
             "over the distant hills until evening came and all was "
             "quiet again")
    n = 40
    pdf = pd.DataFrame({
        id_col: np.arange(n),
        "text": [prose + f" end{i}" for i in range(n)],
        part_col: np.arange(n) % 4,
        "value": rng.normal(100, 10, n),
    })
    pdf.loc[6, "text"] = "way too short"
    src = str(tmp_path / "qdocs.parquet")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)
    ledger = str(tmp_path / "qledger.jsonl")
    vout = str(tmp_path / "qviolations.parquet")
    cmd = [sys.executable, "scripts/run_validate.py",
           "--input", src, "--partition-col", part_col,
           "--id-col", id_col, "--checkpoint", ledger,
           "--violations-out", vout, "--cols-ignore", "text",
           "--quality-rules", "--master", "local[2]", *extra]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=420,
                       cwd=".")
    assert r.returncode == 0, r.stderr[-2000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["status"] == "ok"
    viols = spark.read.parquet(vout).toPandas()
    # conformed to the ENGINE violation schema (single-schema output
    # dir): quality rows carry the kind in suspicious_column and the
    # failed-rule list in suspicious_value/explanation
    q = viols[viols["suspicious_column"] == "quality"]
    assert set(q[id_col]) == {6}
    gopher = q[q["suspicious_value"].str.startswith("gopher:")]
    assert "rule_word_count" in gopher.iloc[0]["suspicious_value"]
    assert "quality_rules" in gopher.iloc[0]["explanation"]
    assert set(viols.columns) >= {"suspicious_value_num", "conditions",
                                  "tree_depth"}  # engine schema fields
    assert len(q) - len(gopher) == (1 if extra else 0)  # repetition: row

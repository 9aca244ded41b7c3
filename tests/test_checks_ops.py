"""Declared checks + pipeline operators on Spark (planted expectations)."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from outliertree_spark.operators import checks, dedup, similarity, text

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_uniqueness_salted_agg_matches_plain(spark, docs):
    from outliertree_spark.sources.docs import to_north_shape
    north = to_north_shape(docs, plant=True)
    salted = checks.uniqueness_violations(north, "url").toPandas()
    plain = (north.groupBy("url").count().filter("count > 1")
             .toPandas())
    assert sorted(salted["url"]) == sorted(plain["url"])
    assert len(salted) > 0  # planted duplicates exist


def test_referential_orphans_planted(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    # clean data: no orphans
    assert checks.referential_orphans(li, orders, "l_orderkey",
                                      "o_orderkey").count() == 0
    # remove some parents -> their children must surface
    removed = orders.filter(F.col("o_orderkey") % 11 != 0)
    orphans = checks.referential_orphans(li, removed, "l_orderkey",
                                         "o_orderkey")
    expected = li.filter(F.col("l_orderkey") % 11 == 0).count()
    assert orphans.count() == expected


def test_drift_detects_shifted_distribution(spark, docs):
    a = docs
    b = docs.withColumn("lang", F.when(F.col("lang") == "en", "de")
                        .otherwise(F.col("lang")))
    psi_same = (checks.distribution_drift(a, a, "lang")
                .agg(F.sum("psi")).first()[0])
    psi_diff = (checks.distribution_drift(a, b, "lang")
                .agg(F.sum("psi")).first()[0])
    assert abs(psi_same) < 1e-9
    assert psi_diff > 0.2


def test_group_bound_violations_planted(spark):
    pdf = pd.DataFrame({
        "g": ["a"] * 200 + ["b"] * 200,
        "v": np.concatenate([np.random.RandomState(0).normal(0, 1, 200),
                             np.random.RandomState(1).normal(100, 5, 200)]),
        "i": np.arange(400),
    })
    pdf.loc[7, "v"] = 1e6
    df = spark.createDataFrame(pdf)
    out = checks.group_bound_violations(df, ["g"], "v").toPandas()
    assert 7 in set(out["i"])


def test_exact_dedup_and_duplicates(spark, docs):
    dup = docs.union(docs.limit(10))  # plant 10 exact duplicates
    groups = dedup.exact_duplicates(dup).toPandas()
    assert groups["n_dups"].ge(2).all() and len(groups) >= 1
    kept = dedup.exact_dedup(dup)
    assert kept.count() == docs.select("text").distinct().count()


def test_minhash_finds_planted_near_dup(spark, docs):
    # plant: doc 9000 = doc 0's text with one word changed
    base = docs.limit(50)
    near = (base.filter(F.col("doc_id") == 0)
            .withColumn("doc_id", F.lit(9000))
            .withColumn("text", F.concat(F.col("text"), F.lit(" extra"))))
    d = base.union(near)
    pairs = dedup.minhash_lsh_candidates(d).toPandas()
    assert ((pairs.id_a == 0) & (pairs.id_b == 9000)).any()
    jac = dedup.ngram_jaccard(
        dedup.minhash_lsh_candidates(d), d).toPandas()
    row = jac[(jac.id_a == 0) & (jac.id_b == 9000)]
    assert len(row) and row.iloc[0]["jaccard"] > 0.8


def test_simhash_hamming_zero_for_identical(spark, docs):
    base = docs.limit(30)
    clone = (base.filter(F.col("doc_id") == 1)
             .withColumn("doc_id", F.lit(9001)))
    d = base.union(clone)
    out = dedup.simhash_near_dups(d, max_hamming=0).toPandas()
    assert ((out.id_a == 1) & (out.id_b == 9001) & (out.hamming == 0)).any()


def test_brute_force_topk_self_similarity(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    # nearest neighbor of a cloned vector is the original with cosine ~1
    clone = (emb.filter(F.col("vec_id") == 3)
             .withColumn("vec_id", F.lit(99999)))
    all_ = emb.union(clone)
    q = clone.select(F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.brute_force_topk(all_, q, k=1).toPandas()
    assert out.iloc[0]["neighbor_id"] == 3
    assert out.iloc[0]["cosine"] == pytest.approx(1.0, abs=1e-6)


def test_lsh_topk_subset_of_bruteforce_quality(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = (emb.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    bf = similarity.brute_force_topk(emb, q, k=5).toPandas()
    ap = similarity.lsh_topk(emb, q, k=5).toPandas()
    # every LSH result's cosine is a real cosine <= the exact best
    best = bf[bf["rank"] == 1].set_index("query_id")["cosine"]
    for _, r in ap.iterrows():
        assert r["cosine"] <= best[r["query_id"]] + 1e-9


def test_embedding_cosine_expr_matches_numpy(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(2).toPandas()
    a, b = np.array(emb.embedding[0]), np.array(emb.embedding[1])
    expected = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    df = spark.createDataFrame(
        pd.DataFrame({"x": [list(map(float, a))], "y": [list(map(float, b))]}))
    got = df.select(similarity.cosine_expr("x", "y").alias("c")).first()["c"]
    assert got == pytest.approx(expected, rel=1e-6)


def test_token_count_edge_cases(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"text": ["", "  ", "one", "a b  c", "x\ty z"]}))
    out = df.select(text.token_count("text").alias("n")).toPandas()["n"].tolist()
    assert out == [0, 0, 1, 3, 3]


def test_lang_id_markers(spark):
    df = spark.createDataFrame(pd.DataFrame({"text": [
        "the cat and the dog of the house is big",
        "der hund und die katze ist nicht da",
        "le chat et la maison est les grands",
        "zzz qqq www",
    ]}))
    out = df.select(text.lang_id("text").alias("l")).toPandas()["l"].tolist()
    assert out == ["en", "de", "fr", "und"]


def test_fingerprint_whitespace_invariant(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "a": ["Hello   world"], "b": ["hello world"]}))
    r = df.select(text.fingerprint("a").alias("fa"),
                  text.fingerprint("b").alias("fb")).first()
    assert r["fa"] == r["fb"]


def test_streaming_validation(spark, tmp_path):
    """The batch predict plan (Catalyst prefilter + one Arrow
    mapInPandas pass) runs unchanged on a streaming DataFrame."""
    from outliertree_spark import SparkOutlierTree, ValidationConfig

    ev = spark.read.parquet(f"{SF}/events.parquet")
    eng = SparkOutlierTree(ValidationConfig())
    eng.fit(ev, id_cols=["event_id"], cols_ignore=["props"])
    # corrupt + write as streaming source
    bad = ev.withColumn("value", F.when(F.col("event_id") == 5, 8.8e8)
                        .otherwise(F.col("value")))
    src = str(tmp_path / "stream_src")
    bad.write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(bad.schema).parquet(src))
    v = eng.predict(stream, id_cols=["event_id"])
    q = (v.writeStream.outputMode("append").format("memory")
         .queryName("viol_stream").trigger(availableNow=True).start())
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT * FROM viol_stream").toPandas()
    assert 5 in set(got["event_id"])


def test_compression_ratio_orders_repetitive_below_prose(spark):
    from outliertree_spark.operators.text import compression_ratio
    docs = spark.createDataFrame(
        [(1, "spam spam spam " * 50),
         (2, "The quick brown fox jumps over the lazy dog while seventeen "
             "violinists argued about quantum chromodynamics in Lisbon."),
         (3, None),
         (4, "")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in compression_ratio(docs).collect()}
    assert got[1].compression_ratio < 0.15          # templated junk
    assert got[2].compression_ratio > 0.5           # one-off prose
    assert got[1].compression_ratio < got[2].compression_ratio
    assert got[3].compression_ratio is None and got[3].n_bytes is None
    assert got[4].compression_ratio == 0.0 and got[4].n_bytes == 0
    # shuffle-free, Arrow-vectorized (never per-row Python)
    plan = compression_ratio(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan


def test_checks_accept_dotted_column_names(spark):
    """Round-3 qcol sweep: uniqueness / referential / screen / bounds
    work on R-style dotted column names without struct-path misparses."""
    from outliertree_spark.operators.checks import (group_bound_violations,
                                                    referential_orphans,
                                                    uniqueness_screen,
                                                    uniqueness_violations)
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (2, "b", 3.0), (3, "b", 100.0)],
        ["id.key", "grp.name", "val.x"])
    dup = uniqueness_violations(df, "id.key").collect()
    assert [(r["id.key"], r["n_dups"]) for r in dup] == [(2, 2)]

    parent = spark.createDataFrame([(1,), (2,)], ["p.key"])
    orph = referential_orphans(df, parent, "id.key", "p.key")
    assert {r["id.key"] for r in orph.collect()} == {3}

    scr = {r["column"]: r for r in
           uniqueness_screen(df, ["id.key", "grp.name"]).collect()}
    assert scr["id.key"]["n_distinct"] == 3
    assert scr["grp.name"]["n_distinct"] == 2

    gb = group_bound_violations(df, ["grp.name"], "val.x", z=1.0,
                                robust=False)
    assert gb.count() >= 0  # plan resolves; no struct-path error

    # round-4: the numeric-bucket drift branch was the one spot still
    # using bare F.col (checks.py numeric_bucket_width path)
    from outliertree_spark.operators.checks import distribution_drift
    dr = distribution_drift(df, df, "val.x", numeric_bucket_width=10.0)
    rows = {r["bucket"]: r for r in dr.collect()}
    assert set(rows) == {0.0, 100.0}          # floor(val/10)*10 buckets
    assert all(abs(r["psi"]) < 1e-12 for r in rows.values())  # self-drift
    # categorical branch on a dotted name too
    drc = distribution_drift(df, df, "grp.name")
    assert {r["bucket"] for r in drc.collect()} == {"a", "b"}


def test_quantile_screen_exact_and_gate(spark):
    from outliertree_spark.operators.checks import quantile_screen
    df = spark.createDataFrame(
        [(g, float(v)) for g in ("a", "b") for v in range(1, 101)],
        ["grp", "x"])
    out = {r["grp"]: r for r in
           quantile_screen(df, "x", ["grp"], ps=(0.5, 0.9)).collect()}
    # exact type-7 interpolation: p50 of 1..100 = 50.5, p90 = 90.1
    for g in ("a", "b"):
        assert out[g]["n_rows"] == 100
        assert abs(out[g]["p50"] - 50.5) < 1e-9
        assert abs(out[g]["p90"] - 90.1) < 1e-9
        assert out[g]["p50_ok"] and out[g]["p90_ok"]
    # ungrouped + sketch-only mode (the at-scale path)
    solo = quantile_screen(df, "x", None, ps=(0.5,),
                           with_exact=False).collect()[0]
    assert solo["n_rows"] == 200 and 45 <= solo["p50"] <= 56


def test_quantile_screen_dotted_column(spark):
    from outliertree_spark.operators.checks import quantile_screen
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0), (4, "b", 4.0)],
        ["id.key", "grp.name", "val.x"])
    out = {r["grp.name"]: r for r in
           quantile_screen(df, "val.x", ["grp.name"], ps=(0.5,)).collect()}
    assert abs(out["a"]["p50"] - 1.5) < 1e-9
    assert abs(out["b"]["p50"] - 3.5) < 1e-9
    assert out["a"]["p50_ok"] and out["b"]["p50_ok"]


def test_snapshot_diff_semantics(spark):
    from outliertree_spark.operators.checks import snapshot_diff
    old = spark.createDataFrame(
        [(1, "a", "en"), (2, "b", "en"), (3, "c", "de"), (5, None, "fr")],
        "k long, text string, lang string")
    new = spark.createDataFrame(
        [(1, "a", "en"), (2, "B2", "en"), (4, "d", "es"), (5, "x", "fr")],
        "k long, text string, lang string")
    got = {r["k"]: r["change_type"]
           for r in snapshot_diff(old, new, "k").collect()}
    # 1 unchanged (absent), 2 changed, 3 removed, 4 added,
    # 5 null -> value counts as changed (null-safe sentinel)
    assert got == {2: "changed", 3: "removed", 4: "added", 5: "changed"}


def test_snapshot_diff_no_separator_realignment_or_null_collision(spark):
    """Regression for the digest-ambiguity finding: values containing
    separator-like bytes must not realign across adjacent columns, and
    no literal string may collide with NULL.  With the old
    concat_ws('\\x01') scheme both rows below hashed equal and were
    silently reported unchanged."""
    from outliertree_spark.operators.checks import snapshot_diff
    old = spark.createDataFrame(
        [(1, "a\x01b", "c"), (2, None, "z")],
        "k long, c1 string, c2 string")
    new = spark.createDataFrame(
        [(1, "a", "b\x01c"), (2, "\x00null", "z")],
        "k long, c1 string, c2 string")
    got = {r["k"]: r["change_type"]
           for r in snapshot_diff(old, new, "k").collect()}
    assert got == {1: "changed", 2: "changed"}


def test_snapshot_diff_dotted_and_subset_cols(spark):
    from outliertree_spark.operators.checks import snapshot_diff
    old = spark.createDataFrame([(1, "a", "x"), (2, "b", "y")],
                                ["id.key", "val.a", "other"])
    new = spark.createDataFrame([(1, "a", "CHANGED"), (2, "B", "y")],
                                ["id.key", "val.a", "other"])
    # compare only val.a: row 1's 'other' change is invisible
    got = {r["id.key"]: r["change_type"]
           for r in snapshot_diff(old, new, "id.key", ["val.a"]).collect()}
    assert got == {2: "changed"}


def test_snapshot_diff_on_bucketed_tables_has_no_exchange(spark):
    """Backs the snapshot_diff docstring claim: on co-bucketed snapshot
    versions the digest full-outer join runs with NO Exchange.  The
    tables are read through the catalog (``spark.table``), which keeps
    the bucket spec; a path read would shuffle again."""
    from outliertree_spark.operators.checks import snapshot_diff
    n = 3000
    old = pd.DataFrame({"doc_id": np.arange(n),
                        "text": [f"t{i}" for i in range(n)]})
    new = old.copy()
    new.loc[7, "text"] = "CHANGED"
    new = new[new["doc_id"] != 9]
    for pdf, table in ((old, "t_snap_old"), (new, "t_snap_new")):
        (spark.createDataFrame(pdf).write.mode("overwrite")
         .format("parquet").bucketBy(8, "doc_id").sortBy("doc_id")
         .saveAsTable(table))
    try:
        d = snapshot_diff(spark.table("t_snap_old"),
                          spark.table("t_snap_new"), "doc_id")
        plan = d._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        got = {r["doc_id"]: r["change_type"] for r in d.collect()}
        assert got == {7: "changed", 9: "removed"}
    finally:
        spark.sql("DROP TABLE IF EXISTS t_snap_old")
        spark.sql("DROP TABLE IF EXISTS t_snap_new")

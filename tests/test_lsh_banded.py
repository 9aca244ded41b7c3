"""Round-2 operator tests: banded sign-LSH recall, bucket caps, md5_60
SimHash, shuffle-free shingles, and the training-outliers API."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F


def _emb_df(spark, n=300, dim=32, n_dups=25, seed=7):
    """Random unit vectors + planted near-dup copies (cosine ~0.97+)."""
    rng = np.random.RandomState(seed)
    x = rng.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    rows = [(int(i), [float(v) for v in x[i]]) for i in range(n)]
    for i in range(n_dups):
        v = x[i].copy()
        v[0] += 0.2
        v /= np.linalg.norm(v)
        rows.append((int(1000 + i), [float(t) for t in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_banded_lsh_recall_vs_exact(spark):
    """OR-construction recall >= 0.95 at cosine 0.8 (the single-band
    construction this replaces measured ~16% here)."""
    from outliertree_spark.operators.dedup import embedding_near_dups
    from outliertree_spark.operators.similarity import cosine_expr

    emb = _emb_df(spark)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    exact = (a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
             .withColumn("cosine", cosine_expr("va", "vb"))
             .filter(F.col("cosine") >= 0.8).select("id_a", "id_b"))
    exact_pairs = {(r.id_a, r.id_b) for r in exact.collect()}
    assert len(exact_pairs) >= 20  # the plant worked

    found = embedding_near_dups(emb, min_cosine=0.8,
                                n_tables=16, n_planes=8)
    found_pairs = {(r.id_a, r.id_b) for r in found.collect()}
    assert found_pairs <= exact_pairs  # exact re-rank: no false positives
    recall = len(found_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.95, f"recall {recall:.2f}"


def test_bucket_cap_drops_degenerate_key(spark):
    """A hot bucket (many identical vectors) is dropped, not joined
    quadratically; normal pairs are still found."""
    from outliertree_spark.operators.dedup import embedding_near_dups
    from outliertree_spark.operators.similarity import (
        lsh_bucket_arrays, oversized_buckets)

    emb = _emb_df(spark, n=100, n_dups=10)
    # 200 copies of one vector -> every band bucket it occupies is hot
    hot = spark.range(5000, 5200).select(
        F.col("id").alias("vec_id"),
        F.array([F.lit(1.0)] + [F.lit(0.0)] * 31).alias("embedding"))
    df = emb.unionByName(hot)
    out = embedding_near_dups(df, min_cosine=0.8, n_tables=8, n_planes=8,
                              bucket_cap=100)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    # the degenerate identical block (cosine 1.0 pairs, ~19900 of them)
    # was dropped by the cap...
    assert not any(a >= 5000 and b >= 5000 for a, b in pairs)
    # ...but planted near-dups elsewhere still come through
    assert sum(1 for a, b in pairs if b >= 1000) >= 9
    # and the monitoring view reports the hot buckets
    e = (df.select("vec_id", lsh_bucket_arrays("embedding", 8, 8).alias("_b"))
           .select("vec_id", F.posexplode("_b").alias("_tbl", "_bkt")))
    big = oversized_buckets(e, ["_tbl", "_bkt"], 100)
    assert big.count() >= 8  # the hot vector occupies one bucket per table


def test_simhash_md5_matches_xxhash_semantics(spark):
    """Identical docs collide at hamming 0 under both token hashes; the
    md5_60 variant stays within 60 bits."""
    from outliertree_spark.operators.dedup import simhash, simhash_near_dups

    rows = [(1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different text about spark and parquet files"),
            (4, "completely different text about spark and parquet files")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    for th, bits in [("xxhash64", 64), ("md5_60", 60)]:
        sh = simhash(d, bits=bits, token_hash=th).collect()
        by_id = {r.doc_id: r.simhash for r in sh}
        assert by_id[1] == by_id[2] and by_id[3] == by_id[4]
        assert by_id[1] != by_id[3]
        out = simhash_near_dups(d, max_hamming=0, bits=bits, token_hash=th)
        got = {(r.id_a, r.id_b) for r in out.collect()}
        assert got == {(1, 2), (3, 4)}
    sh60 = simhash(d, bits=60, token_hash="md5_60").collect()
    assert all(0 <= r.simhash < (1 << 60) for r in sh60)


def test_simhash_correct_past_65k_distinct_tokens(spark):
    """Round-4 overflow regression (ADVICE): the 3x16-bit counter packing
    silently carried into the adjacent bit's counter for docs with
    >65535 distinct tokens.  The 2x32-bit packing is overflow-proof for
    any Spark-representable string; verify against an independent
    Python md5 recomputation on a 70_000-distinct-token doc."""
    import hashlib

    from outliertree_spark.operators.dedup import simhash

    n_tok = 70_000
    toks = [f"t{i:05d}" for i in range(n_tok)]
    d = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
    got = simhash(d, bits=60, token_hash="md5_60").collect()[0].simhash

    counts = [0] * 60
    for t in toks:
        h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
        for i in range(60):
            counts[i] += (h >> i) & 1
    expect = 0
    for i in range(60):
        if counts[i] * 2 >= n_tok:
            expect |= 1 << i
    assert got == expect


def test_near_dup_plans_compute_signatures_once(spark, docs):
    """Round-4 regression: pair generation must consume the signature
    aggregate exactly once — the round-3 shape (cap-count + two aliased
    self-join sides) recomputed the exploded-token stage up to 4x
    (13-exchange plans).  Now: one ExistingRDD scan (the materialized
    signature table), no parquet re-scan, and the one-exchange
    bucket_pairs expansion keeps the whole plan at <= 3 exchanges
    (bucket group-by + final distinct, plus the input spread)."""
    from outliertree_spark.operators.dedup import (minhash_lsh_candidates,
                                                   simhash_near_dups)

    for df in (simhash_near_dups(docs, max_hamming=3, n_blocks=4),
               minhash_lsh_candidates(docs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") == 0, plan
        assert plan.count("ExistingRDD") == 1, plan
        assert plan.count("Exchange") <= 3, plan


def test_bucket_pairs_cap_and_pairing(spark):
    """bucket_pairs unit semantics: all unordered in-bucket pairs with
    a.id < b.id, singleton buckets dropped, oversized buckets dropped
    by the cap exactly like the old count+anti-join shape."""
    from outliertree_spark.operators.similarity import bucket_pairs

    rows = ([(k, i) for k in ("a", "b") for i in range(3)]   # two 3-buckets
            + [("solo", 99)]                                  # singleton
            + [("hot", i) for i in range(10)])                # over cap
    df = spark.createDataFrame(rows, "key string, id long")
    p = bucket_pairs(df, ["key"], ["id"], "id", bucket_cap=5)
    got = {(r["a"]["id"], r["b"]["id"]) for r in p.collect()}
    assert got == {(0, 1), (0, 2), (1, 2)}  # both 3-buckets, same ids
    assert p.count() == 6                    # 3 pairs per surviving bucket
    # a large explicit cap keeps the hot bucket: C(10,2) + 2*C(3,2)
    assert bucket_pairs(df, ["key"], ["id"], "id", 10**6).count() == 45 + 6
    # cap None is rejected: an uncapped collect_list materializes whole
    # hot buckets in one aggregation buffer (single-task OOM at scale)
    with pytest.raises(ValueError, match="bucket_cap"):
        bucket_pairs(df, ["key"], ["id"], "id", None)


def test_shingle_plan_has_no_window_or_pre_agg_shuffle(spark, docs):
    """The minhash signature plan must not shuffle the tokenized corpus:
    no Window, and no Exchange below the partial aggregate (the only
    exchanges allowed are the input spread and the final agg)."""
    from outliertree_spark.operators.dedup import minhash_signatures, shingles

    sigs = minhash_signatures(docs)
    plan = sigs._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    # row-local shingles: partial HashAggregate sits directly over the
    # project/scan; a pre-agg shuffle would appear as an extra Exchange
    assert plan.count("Exchange") <= 2, plan

    sh = shingles(docs, k=3)
    plan2 = sh._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan2 and "Window" not in plan2, plan2
    # semantics: k-word shingles of a known string
    one = (spark.createDataFrame([(1, "a b c d")], "doc_id long, text string"))
    got = shingles(one, k=3).collect()[0]["shingles"]
    assert sorted(got) == ["a b c", "b c d"]
    short = (spark.createDataFrame([(1, "a b")], "doc_id long, text string"))
    assert shingles(short, k=3).collect()[0]["shingles"] == []


def test_training_outliers_api(spark):
    """B2 return_outliers analogue: fit-side winners rendered through the
    B8 schema; the planted outlier matches predict on the same rows."""
    from outliertree_spark import SparkOutlierTree, ValidationConfig

    rng = np.random.RandomState(3)
    n = 600
    pdf = pd.DataFrame({
        "rid": np.arange(n, dtype=np.int64),
        "grp": rng.choice(["a", "b"], n),
        "y": rng.normal(50.0, 2.0, n),
    })
    pdf.loc[17, "y"] = 5e5
    df = spark.createDataFrame(pdf)
    eng = SparkOutlierTree(ValidationConfig())
    eng.fit(df, id_cols=["rid"])
    tr = eng.training_outliers()
    assert 17 in set(tr["rid"])
    row = tr[tr.rid == 17].iloc[0]
    assert row["suspicious_column"] == "y"
    assert "500000" in row["explanation"] or "5e" in row["explanation"].lower()

    pv = eng.predict(df, id_cols=["rid"]).toPandas()
    prow = pv[pv.rid == 17].iloc[0]
    assert prow["suspicious_column"] == row["suspicious_column"]
    assert abs(prow["outlier_score"] - row["outlier_score"]) < 1e-9

    import tempfile, os
    p = os.path.join(tempfile.gettempdir(), "tr_model.json")
    eng.save(p)
    eng2 = SparkOutlierTree.load(p)
    with pytest.raises(AssertionError):
        eng2.training_outliers()


import pytest as _pytest


@_pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_ivf_near_dups_recall(spark):
    """IVF cell-join ANN: recall >= 0.95 at cosine 0.8 on planted
    near-dups with 2-cell multi-assignment; no false positives."""
    from outliertree_spark.operators.dedup import embedding_near_dups
    from outliertree_spark.operators.ivf import ivf_near_dups
    from outliertree_spark.operators.similarity import cosine_expr

    emb = _emb_df(spark)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    exact = {(r.id_a, r.id_b) for r in
             (a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
              .withColumn("cosine", cosine_expr("va", "vb"))
              .filter(F.col("cosine") >= 0.8)
              .select("id_a", "id_b").collect())}
    found = {(r.id_a, r.id_b) for r in
             ivf_near_dups(emb, min_cosine=0.8, k_cells=24,
                           n_assign=2).collect()}
    assert found <= exact
    assert len(found & exact) / len(exact) >= 0.95


def test_ivf_topk_matches_bruteforce_on_clustered_data(spark):
    """With clear cluster structure, IVF top-1 with nprobe=4 recovers the
    brute-force nearest neighbor for most queries."""
    from outliertree_spark.operators.ivf import ivf_topk
    from outliertree_spark.operators.similarity import brute_force_topk

    rng = np.random.RandomState(5)
    centers = rng.standard_normal((8, 32)) * 4
    rows = []
    for i in range(400):
        v = centers[i % 8] + rng.standard_normal(32) * 0.3
        v = v / np.linalg.norm(v)
        rows.append((i, [float(t) for t in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = (emb.filter(F.col("vec_id") < 8)
            .select(F.col("vec_id").alias("query_id"), "embedding"))
    bf = brute_force_topk(emb, q, k=1).toPandas()
    iv = ivf_topk(emb, q, k=1, k_cells=16, nprobe=4).toPandas()
    bf1 = dict(zip(bf.query_id, bf.neighbor_id))
    iv1 = dict(zip(iv.query_id, iv.neighbor_id))
    hits = sum(1 for k in bf1 if iv1.get(k) == bf1[k])
    assert hits >= 7, (bf1, iv1)


def _legacy_centroid_sample(emb, vec_col, sample_rows, seed):
    """The rows ``train_centroids`` read before it shared the fit's
    sample: a ``limit(sample_rows + 1)`` probe, then, over the cap, the
    seeded Bernoulli sample of fraction ``sample_rows / count``."""
    probe = emb.select(vec_col).limit(sample_rows + 1).toPandas()
    if len(probe) <= sample_rows:
        return probe
    frac = min(1.0, sample_rows / max(emb.count(), 1))
    return emb.select(vec_col).sample(fraction=frac, seed=seed).toPandas()


def test_train_centroids_reads_the_fit_sample(spark, tmp_path, monkeypatch):
    """``train_centroids`` reads the rows the old probe-first read gave,
    in the same order, so the centroids are bit-identical to the ones
    trained on those rows; on a Parquet input over the cap it runs no
    ``limit`` probe."""
    from outliertree_spark.operators import ivf

    path = str(tmp_path / "emb.parquet")
    (_emb_df(spark).coalesce(1).write.option("maxRecordsPerFile", 100)
     .parquet(path))
    emb = spark.read.parquet(path)
    cls, limit = type(emb), type(emb).limit
    for sample_rows, probes, n in ((1000, [1001], 325), (120, [], None)):
        limits = []
        monkeypatch.setattr(cls, "limit",
                            lambda self, k: limits.append(k) or limit(self, k))
        got = ivf.train_centroids(emb, k_cells=8, sample_rows=sample_rows,
                                  seed=3)
        monkeypatch.setattr(cls, "limit", limit)
        assert limits == probes
        want = _legacy_centroid_sample(emb, "embedding", sample_rows, 3)
        assert len(want) == n if n else 60 <= len(want) < 325
        rows = spark.createDataFrame(
            [([float(v) for v in e],) for e in want["embedding"]],
            "embedding array<double>")
        ref = ivf.train_centroids(rows, k_cells=8, sample_rows=len(want),
                                  seed=3)
        assert got.shape == (8, 32)
        assert got.tobytes() == ref.tobytes()

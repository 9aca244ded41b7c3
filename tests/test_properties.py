"""Property-based checks (hypothesis) for the row-local text/URL/sample
operators — properties that unit fixtures can't sweep."""

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

_url_part = st.text(
    alphabet="abcXYZ019.-_~", min_size=0, max_size=12)


def _mk_urls(parts):
    urls = []
    for scheme, host, path, q, frag in parts:
        urls.append(f"{scheme}://{host}.example{path}?{q}#{frag}")
        urls.append(f"{host}.example{path}#{frag}")  # scheme-less branch
    return urls


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.tuples(st.sampled_from(["http", "HTTP", "https", "hTTpS"]),
                          _url_part.filter(lambda s: s and "." not in s),
                          st.sampled_from(["", "/p/x", "/a/b/"]),
                          st.sampled_from(["", "a=1&b=2", "utm_source=x",
                                           "b=2&a=1&utm_medium=m"]),
                          st.sampled_from(["", "sec"])),
                min_size=1, max_size=6))
def test_canonicalize_url_idempotent(spark, parts):
    """canonicalize(canonicalize(u)) == canonicalize(u): the canonical
    form must be a fixed point, or dedup keys drift when data is
    re-processed."""
    from outliertree_spark.operators.webtext import canonicalize_url
    urls = _mk_urls(parts)
    df = spark.createDataFrame(pd.DataFrame({"url": urls}))
    once = df.select(canonicalize_url(F.col("url")).alias("c1"))
    twice = once.select(F.col("c1"),
                        canonicalize_url(F.col("c1")).alias("c2"))
    bad = twice.filter(F.col("c1") != F.col("c2")).collect()
    assert not bad, bad


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.integers(min_value=2, max_value=500),
       st.sampled_from([0.1, 0.3, 0.7]))
def test_hash_sample_deterministic_and_nested(spark, n, rate):
    """Two invariants of key-hash sampling: the same call returns the
    same rows, and a smaller rate's sample is a SUBSET of a larger
    rate's (nested samples — what makes re-sampling at a new rate safe
    mid-pipeline)."""
    from outliertree_spark.operators.sampling import hash_sample
    df = spark.range(n).withColumnRenamed("id", "k")
    a = {r.k for r in hash_sample(df, rate, "k").collect()}
    b = {r.k for r in hash_sample(df, rate, "k").collect()}
    assert a == b
    smaller = {r.k for r in hash_sample(df, rate / 2, "k").collect()}
    assert smaller <= a


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.tuples(st.integers(min_value=0, max_value=30),
                          st.text(alphabet="abc", max_size=3),
                          st.text(alphabet="xy", max_size=2)),
                min_size=1, max_size=20,
                unique_by=lambda t: t[0]))
def test_snapshot_diff_properties(spark, rows):
    """diff(s, s) is empty, and swapping sides maps added <-> removed
    while 'changed' is side-symmetric."""
    from outliertree_spark.operators.checks import snapshot_diff
    df = spark.createDataFrame(rows, "k long, a string, b string")
    assert snapshot_diff(df, df, "k").count() == 0
    # perturb: drop first key, rewrite second's content (when present)
    ks = sorted({r[0] for r in rows})
    new = df.filter(F.col("k") != ks[0])
    if len(ks) > 1:
        new = new.withColumn(
            "a", F.when(F.col("k") == ks[1], F.lit("ZZZ"))
                  .otherwise(F.col("a")))
    fwd = {r["k"]: r["change_type"]
           for r in snapshot_diff(df, new, "k").collect()}
    rev = {r["k"]: r["change_type"]
           for r in snapshot_diff(new, df, "k").collect()}
    flip = {"added": "removed", "removed": "added", "changed": "changed"}
    assert rev == {k: flip[v] for k, v in fwd.items()}
    assert fwd.get(ks[0]) == "removed"


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.integers(min_value=-1000, max_value=1000),
                min_size=3, max_size=120))
def test_quantile_screen_matches_numpy(spark, vals):
    """Exact percentiles equal numpy's linear (type-7) interpolation and
    every sketch gate holds on arbitrary integer data."""
    import numpy as np
    from outliertree_spark.operators.checks import quantile_screen
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    row = quantile_screen(df, "x", None, ps=(0.5, 0.9)).collect()[0]
    assert row["n_rows"] == len(vals)
    assert abs(row["p50"] - round(float(np.percentile(vals, 50)), 6)) < 1e-6
    assert abs(row["p90"] - round(float(np.percentile(vals, 90)), 6)) < 1e-6
    assert row["p50_ok"] and row["p90_ok"]


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.text(alphabet="ab cd\n", min_size=0, max_size=40),
                min_size=2, max_size=12),
       st.integers(min_value=1, max_value=7))
def test_surprisal_fp_partitioning_invariant(spark, texts, nparts):
    """Fixed-point surprisal sums must be bit-identical under ANY
    partitioning and row order — the property the integer quantization
    exists to provide (float sums are order-dependent; long sums are
    not)."""
    from outliertree_spark.operators.text import surprisal_scores_fp
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf)
    a = {r["doc_id"]: (r["n_tokens"], r["sum_lp_fp"])
         for r in surprisal_scores_fp(df.coalesce(1)).collect()}
    b = {r["doc_id"]: (r["n_tokens"], r["sum_lp_fp"])
         for r in surprisal_scores_fp(
             df.repartition(nparts).orderBy(F.desc("doc_id"))).collect()}
    assert a == b


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.text(alphabet="xy z", min_size=0, max_size=30),
                min_size=2, max_size=10))
def test_bigram_fp_partitioning_invariant(spark, texts):
    from outliertree_spark.operators.text import bigram_lm_scores_fp
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf)
    a = {r["doc_id"]: r["sum_lp_fp"]
         for r in bigram_lm_scores_fp(df.coalesce(1)).collect()}
    b = {r["doc_id"]: r["sum_lp_fp"]
         for r in bigram_lm_scores_fp(df.repartition(5)).collect()}
    assert a == b


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.integers(min_value=0, max_value=40),
                min_size=1, max_size=60),
       st.sampled_from([1, 7, 16]),
       st.sampled_from([1, 3, 8]))
def test_pack_sequences_conservation(spark, tok_counts, ctx, shards):
    """Packing conservation sweep: for ANY token-count multiset, ctx
    length and shard count, the packed stream is gapless per shard
    (every doc starts where its predecessor ended), every slot index is
    consistent arithmetic over tok_start, and total sequence count is
    exactly ceil(shard total / ctx) — including ctx=1 (every token its
    own sequence) and docs whose length is an exact ctx multiple."""
    from outliertree_spark.operators.packing import pack_sequences
    rows = [(i, " ".join(["w"] * c)) for i, c in enumerate(tok_counts)]
    df = spark.createDataFrame(pd.DataFrame(rows,
                                            columns=["doc_id", "text"]))
    placed = pack_sequences(df, ctx, shards).collect()
    assert len(placed) == sum(1 for c in tok_counts if c > 0)
    by_shard = {}
    for r in placed:
        by_shard.setdefault(r.shard, []).append(r)
    for rows_ in by_shard.values():
        rows_.sort(key=lambda r: r.tok_start)
        pos = 0
        for r in rows_:
            assert r.tok_start == pos
            assert r.seq_id == r.tok_start // ctx
            assert r.offset_in_seq == r.tok_start % ctx
            assert r.n_seqs == (r.tok_start + r.n_tok - 1) // ctx \
                - r.seq_id + 1
            pos += r.n_tok
        # the last sequence index used equals ceil(total/ctx) - 1
        assert max(re.seq_id + re.n_seqs - 1 for re in rows_) \
            == (pos - 1) // ctx


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.lists(st.sampled_from("abcde"), min_size=1,
                         max_size=6).map(" ".join),
                min_size=1, max_size=12),
       st.sampled_from([1, 2, 5]))
def test_tfidf_topk_against_pure_python(spark, texts, k):
    """TF-IDF sweep vs an independent pure-Python recomputation: the
    exact (term, tf, df, score_fp) rows and the top-k cut must match
    for any corpus over a 5-letter vocabulary, any k."""
    import math
    from collections import Counter
    from outliertree_spark.operators.tfidf import tfidf_top_terms
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    got = {(r.doc_id, r.rank): (r.term, r.tf, r.df, r.score_fp)
           for r in tfidf_top_terms(df, k=k).collect()}
    per_doc = {i: Counter(t.split()) for i, t in enumerate(texts)}
    dfreq = Counter()
    for c in per_doc.values():
        dfreq.update(c.keys())
    n = len(per_doc)
    want = {}
    for i, c in per_doc.items():
        scored = sorted(
            ((t, tf, dfreq[t],
              tf * round(math.log((n + 1) / (dfreq[t] + 1)) * 1e6))
             for t, tf in c.items()),
            key=lambda x: (-x[3], x[0]))
        for rank, row in enumerate(scored[:k], start=1):
            want[(i, rank)] = row
    assert got == want


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.lists(st.sampled_from("abc"), min_size=0,
                         max_size=8).map(" ".join),
                min_size=1, max_size=10))
def test_novelty_against_pure_python(spark, texts):
    """Novelty sweep vs an independent recomputation: for any corpus
    over a 3-letter vocabulary (heavy gram collisions by construction),
    per-doc (n_grams, novel_grams) must equal the set-based ground
    truth, and docs with fewer than k tokens must emit nothing."""
    from outliertree_spark.operators.text import novelty_scores
    k = 3
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    got = {r.doc_id: (r.n_grams, r.novel_grams)
           for r in novelty_scores(df, k=k).collect()}
    shingles = {}
    for i, t in enumerate(texts):
        toks = t.split()
        shingles[i] = {" ".join(toks[j:j + k])
                       for j in range(len(toks) - k + 1)}
    owner = {}
    for i in sorted(shingles):
        for g in shingles[i]:
            owner.setdefault(g, i)
    want = {i: (len(sh), sum(1 for g in sh if owner[g] == i))
            for i, sh in shingles.items() if sh}
    assert got == want


@settings(max_examples=150, deadline=None)
@given(st.integers(min_value=2, max_value=5),
       st.integers(min_value=2, max_value=4),
       st.data(),
       st.floats(min_value=1e-6, max_value=1e6),
       st.integers(min_value=1, max_value=3),
       st.integers(min_value=0, max_value=2**31 - 1))
def test_categorical_target_gain_bound(ncat_x, ncat_y, data, base_info,
                                       min_size, seed):
    """Every gain path of a categorical target returns at most
    ``base_info / n`` on a node of n rows: it is base_info minus the
    branches' info (each >= 0) over n.  ``_ColumnFit._rec_categ`` skips a
    search under ``gain_as_pct`` on that bound, so it must hold for any
    crosstab, NA counts and ``base_info > 0``, and with rows outside the
    node in the arrays."""
    import math

    import numpy as np
    from outliertree_spark.operators import split
    from outliertree_spark.operators.fit import _GAIN_EPS

    cells = data.draw(st.lists(st.integers(0, 12), min_size=ncat_x * ncat_y,
                               max_size=ncat_x * ncat_y))
    na = data.draw(st.lists(st.integers(0, 6), min_size=ncat_y,
                            max_size=ncat_y))
    xs = [x for x in range(ncat_x) for y in range(ncat_y)
          for _ in range(cells[x * ncat_y + y])]
    ys = [y for x in range(ncat_x) for y in range(ncat_y)
          for _ in range(cells[x * ncat_y + y])]
    xs += [-1] * sum(na)
    ys += [y for y in range(ncat_y) for _ in range(na[y])]
    n = len(xs)
    if n == 0:
        return
    rng = np.random.RandomState(seed)
    outside = int(rng.randint(0, 5))     # rows in the arrays, not the node
    xcodes = np.array(xs + list(rng.randint(-1, ncat_x, outside)), np.int64)
    ycodes = np.array(ys + list(rng.randint(0, ncat_y, outside)), np.int64)
    perm = rng.permutation(xcodes.shape[0])
    xcodes, ycodes = xcodes[perm], ycodes[perm]
    ix = np.sort(np.argsort(perm)[:n])
    xnum = np.where(xcodes < 0, np.nan,
                    xcodes + 0.5 * rng.rand(xcodes.shape[0]))
    ybin = (ycodes > 0).astype(np.int64)
    in_left = rng.rand(ncat_x) < 0.5
    xv = xcodes[ix]
    parts = (ix[xv < 0], ix[(xv >= 0) & in_left[xv]],
             ix[(xv >= 0) & ~in_left[xv]])
    gains = {
        "numericx": split.split_numericx_categy(
            ix, xnum, ycodes, ncat_y, base_info, min_size, False).gain,
        "ordx": split.split_ordx_categy(
            ix, xcodes, ycodes, ncat_y, ncat_x, base_info, min_size).gain,
        "biny": split.split_categx_biny(
            ix, xcodes, ybin, ncat_x, base_info, min_size).gain,
        "from_split": split.categ_gain_from_split(
            *parts, ycodes, ncat_y, base_info),
        "separate": split.split_categx_categy_separate(
            ix, xcodes, ycodes, ncat_x, ncat_y, base_info, min_size).gain,
        "subset": split.split_categx_categy_subset(
            ix, xcodes, ycodes, ncat_x, ncat_y, base_info, min_size).gain,
    }
    bound = base_info * (1 + _GAIN_EPS) / n
    over = {k: g for k, g in gains.items() if math.isfinite(g) and g > bound}
    assert not over, (over, bound)

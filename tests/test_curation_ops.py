"""Round-5 curation operators: Gopher quality rules, distribution-
matched resampling, CCNet perplexity buckets."""

import os
import re

import pytest
from pyspark.sql import functions as F

from outliertree_spark.operators.gopher import gopher_rules
from outliertree_spark.operators.sampling import mix_rates, resample_to_mix
from outliertree_spark.operators.text import (perplexity_buckets,
                                              surprisal_scores_fp)

from .conftest import SF_DIR

GOOD_PROSE = ("the quick brown fox jumps over the lazy dog and then the "
              "dog decided that it would have to be quick as well with "
              "many of the other animals joining in the chase across the "
              "field and over the hill until everyone was tired of "
              "running and they all sat down together to rest for a "
              "while before starting again ") * 2


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------- gopher

def test_gopher_good_prose_keeps(spark):
    out = gopher_rules(_docs(spark, [(1, GOOD_PROSE)])).collect()[0]
    assert out["gopher_keep"] is True
    assert out["rule_word_count"] and out["rule_stopwords"]
    assert out["rule_alpha_words"] and out["rule_symbol_ratio"]


def test_gopher_each_rule_fires_alone(spark):
    pad = GOOD_PROSE
    cases = {
        2: ("too short", "rule_word_count"),
        3: (pad + " #### " * 30, "rule_symbol_ratio"),
        4: (pad + " 123 456 " * 40, "rule_alpha_words"),
        5: ("\n".join("- bullet point item here ok yes"
                      for _ in range(40)) + "\n" + pad,
            "rule_bullet_lines"),
        6: ("\n".join("a line that trails off..."
                      for _ in range(40)) + "\n" + pad,
            "rule_ellipsis_lines"),
        7: ("zzz qqq xxx " * 60, "rule_stopwords"),
        8: ("a b c d " * 30 + " the of and that be", "rule_mean_word_len"),
    }
    rows = [(i, t) for i, (t, _) in cases.items()]
    got = {r["doc_id"]: r for r in gopher_rules(_docs(spark, rows)).collect()}
    for i, (_, rule) in cases.items():
        assert got[i][rule] is False, (i, rule)
        assert got[i]["gopher_keep"] is False


def test_gopher_empty_and_whitespace_text(spark):
    got = {r["doc_id"]: r for r in gopher_rules(
        _docs(spark, [(1, ""), (2, "   \n  ")])).collect()}
    for i in (1, 2):
        assert got[i]["n_words"] == 0
        assert got[i]["gopher_keep"] is False
        assert got[i]["mean_word_len"] == 0.0


# ------------------------------------------------------ resample_mix

def _mix_corpus(spark):
    rows = ([(i, "en") for i in range(4000)]
            + [(i + 10000, "de") for i in range(1000)]
            + [(i + 20000, "fr") for i in range(500)]
            + [(i + 30000, "zh") for i in range(300)])
    return spark.createDataFrame(rows, "doc_id long, lang string")


def test_mix_rates_math_exact(spark):
    df = _mix_corpus(spark)
    shares = {"en": 0.5, "de": 0.3, "fr": 0.2}
    got = {r["lang"]: r for r in mix_rates(df, "lang", shares).collect()}
    # scale = min(4000/.5, 1000/.3, 500/.2) = min(8000, 3333.3, 2500) = 2500
    assert got["fr"]["mix_rate"] == pytest.approx(1.0)  # binding group
    assert got["en"]["mix_rate"] == pytest.approx(0.5 * 2500 / 4000)
    assert got["de"]["mix_rate"] == pytest.approx(0.3 * 2500 / 1000)
    assert "zh" not in got  # absent from shares -> no rate row


def test_resample_mix_hits_target_distribution(spark):
    df = _mix_corpus(spark)
    shares = {"en": 0.5, "de": 0.3, "fr": 0.2}
    out = resample_to_mix(df, "lang", shares, "doc_id")
    counts = {r["lang"]: r["n"] for r in
              out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert "zh" not in counts
    total = sum(counts.values())
    # fr is binding and kept whole; others match shares within hash noise
    assert counts["fr"] == 500
    for lang, share in shares.items():
        assert counts[lang] / total == pytest.approx(share, abs=0.02)


def test_resample_mix_deterministic_and_partition_invariant(spark):
    df = _mix_corpus(spark)
    shares = {"en": 0.5, "de": 0.3, "fr": 0.2}
    a = {r["doc_id"] for r in
         resample_to_mix(df, "lang", shares, "doc_id").collect()}
    b = {r["doc_id"] for r in
         resample_to_mix(df.repartition(13), "lang", shares,
                         "doc_id").collect()}
    assert a == b


def test_resample_mix_md5_flavor_matches_xxhash_semantics(spark):
    # same math, different hash: proportions agree, row sets differ
    df = _mix_corpus(spark)
    shares = {"en": 0.5, "de": 0.5}
    m = resample_to_mix(df, "lang", shares, "doc_id", hash_kind="md5_60")
    x = resample_to_mix(df, "lang", shares, "doc_id", hash_kind="xxhash64")
    cm = dict(m.groupBy("lang").count().collect())
    cx = dict(x.groupBy("lang").count().collect())
    for lang in shares:
        assert cm[lang] == pytest.approx(cx[lang], rel=0.1)


# ------------------------------------------------- perplexity buckets

def _ppl_corpus(spark):
    # doc 1: all very common tokens; doc 3: all rare tokens; doc 2 mixed
    common = "aa bb " * 50
    rows = ([(i, common) for i in range(1, 21)]
            + [(100 + i, common + f"rare{i} " * 5) for i in range(20)]
            + [(200 + i, f"uniq{i}a uniq{i}b uniq{i}c") for i in range(20)])
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_surprisal_fp_partition_invariant_exact(spark):
    df = _ppl_corpus(spark)
    a = sorted(surprisal_scores_fp(df).collect())
    b = sorted(surprisal_scores_fp(df.repartition(17)).collect())
    assert a == b  # integer sums: bit-exact under any partitioning


def test_perplexity_buckets_order_semantics(spark):
    out = perplexity_buckets(_ppl_corpus(spark), method="ntile").collect()
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["ppl_bucket"], []).append(r)
    assert set(by_bucket) == {1, 2, 3}
    # buckets are contiguous in mean_lp: min of bucket k >= max of k+1
    assert min(r["mean_lp"] for r in by_bucket[1]) >= \
           max(r["mean_lp"] for r in by_bucket[2])
    assert min(r["mean_lp"] for r in by_bucket[2]) >= \
           max(r["mean_lp"] for r in by_bucket[3])
    # the all-common docs are head; the all-unique docs are tail
    labels = {r["doc_id"]: r["ppl_label"] for r in out}
    assert labels[1] == "head" and labels[201] == "tail"
    sizes = sorted(len(v) for v in by_bucket.values())
    assert sizes == [20, 20, 20]


def test_perplexity_buckets_cutoff_agrees_off_boundary(spark):
    # three well-separated surprisal tiers: the sketch path must agree
    # with exact ntile everywhere (no docs near the cut points)
    df = _ppl_corpus(spark)
    nt = {r["doc_id"]: r["ppl_bucket"]
          for r in perplexity_buckets(df, method="ntile").collect()}
    co = {r["doc_id"]: r["ppl_bucket"]
          for r in perplexity_buckets(df, method="cutoff").collect()}
    assert nt == co


def test_perplexity_buckets_bad_method_raises(spark):
    with pytest.raises(ValueError):
        perplexity_buckets(_ppl_corpus(spark), method="nope")


# ---------------------------------------------------------- repetition

def test_repetition_hand_computed_fracs(spark):
    from outliertree_spark.operators.gopher import gopher_repetition
    # "w1 w2 w3 w4 w5" appears twice (28 chars over both occurrences),
    # text is 38 chars; top 2-gram "w1 w2" (len 5) occurs twice -> 10.
    out = gopher_repetition(_docs(
        spark, [(1, "w1 w2 w3 w4 w5 w1 w2 w3 w4 w5 u1 u2 u3")])).collect()[0]
    assert out["dup_5gram_char_frac"] == pytest.approx(28 / 38)
    assert out["top_2gram_char_frac"] == pytest.approx(10 / 38)
    assert out["dup_6gram_char_frac"] == 0.0
    assert not out["rule_dup_5gram"] and out["rule_dup_6gram"]


def test_repetition_dup_lines_and_paras(spark):
    from outliertree_spark.operators.gopher import gopher_repetition
    out = gopher_repetition(_docs(
        spark, [(1, "line one\nline one\nline two\nline one"),
                (2, "para A\n\npara A\n\npara B")])).orderBy("doc_id").collect()
    d1, d2 = out
    # 4 lines, 2 distinct -> 2 dup occurrences beyond first
    assert d1["dup_line_frac"] == pytest.approx(2 / 4)
    # "line one" x3 = 24 chars of 32 total line chars
    assert d1["dup_line_char_frac"] == pytest.approx(24 / 32)
    assert d2["dup_para_frac"] == pytest.approx(1 / 3)
    assert d2["dup_para_char_frac"] == pytest.approx(12 / 18)
    assert not d1["rule_dup_lines"] and not d2["rule_dup_paras"]


def test_repetition_clean_and_empty_docs_keep(spark):
    from outliertree_spark.operators.gopher import gopher_repetition
    long_unique = " ".join(f"tok{i:04d}" for i in range(300))
    out = gopher_repetition(_docs(
        spark, [(1, long_unique), (2, ""), (3, "   ")])).orderBy(
        "doc_id").collect()
    for row in out:
        assert row["repetition_keep"] is True, row
    assert out[0]["dup_line_frac"] == 0.0
    assert out[1]["top_2gram_char_frac"] == 0.0


def test_repetition_top_gram_counts_singletons(spark):
    from outliertree_spark.operators.gopher import gopher_repetition
    # no repeats at all: top 2-gram is still the longest single 2-gram
    out = gopher_repetition(_docs(
        spark, [(1, "aa bbbb c")])).collect()[0]
    # 2-grams: "aa bbbb" (7), "bbbb c" (6); text = 9 chars
    assert out["top_2gram_char_frac"] == pytest.approx(7 / 9)
    assert out["dup_5gram_char_frac"] == 0.0


_ASCII_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _repetition_reference(text):
    """The 13 repetition features computed straight from the
    definitions in ``gopher_repetition``'s docstring: lines/paragraphs
    are space-trimmed non-empty pieces of splitting on \\n / \\n{2,};
    words split on the JVM's ASCII whitespace class; n-grams are
    space-joined word windows; char fractions divide by len(text)."""
    text = text or ""

    def counts(items):
        d = {}
        for item in items:
            d[item] = d.get(item, 0) + 1
        return d

    def frac(num, den):
        return num / den if den else 0.0

    out = {}
    for tag, pieces in (("line", text.split("\n")),
                        ("para", re.split(r"\n{2,}", text))):
        c = counts(p for p in (x.strip(" ") for x in pieces) if p)
        n = sum(c.values())
        out[f"dup_{tag}_frac"] = frac(n - len(c), n)
        out[f"dup_{tag}_char_frac"] = frac(
            sum(k * len(v) for v, k in c.items() if k > 1),
            sum(k * len(v) for v, k in c.items()))
    words = [w for w in _ASCII_WS.split(text.strip(" ")) if w]
    for n in range(2, 11):
        c = counts(" ".join(words[i:i + n])
                   for i in range(len(words) - n + 1))
        if n <= 4:
            out[f"top_{n}gram_char_frac"] = frac(
                max((k * len(g) for g, k in c.items()), default=0),
                len(text))
        else:
            out[f"dup_{n}gram_char_frac"] = frac(
                sum(k * len(g) for g, k in c.items() if k > 1), len(text))
    return out


def test_repetition_matches_reference(spark):
    """Exact equality with the pure-Python reference above — including
    the whitespace edge cases where JVM and Python semantics habitually
    diverge (ASCII-only \\s, space-only trim, \\xa0 non-breaking space,
    \\r line tails, NULL text) — and over the fixture corpus."""
    from outliertree_spark.operators.gopher import (REP_FEATURE_COLS,
                                                    gopher_repetition)
    rows = [
        (1, "w1 w2 w3 w4 w5 w1 w2 w3 w4 w5 u1 u2 u3"),
        (2, "\t a b \t"),
        (3, "x\xa0y z x\xa0y z x\xa0y z x\xa0y z"),
        (4, " \r\nline one \r\nline one\r\n"),
        (5, "  spaced  \n  spaced  \npara\n\npara  \n\n  para"),
        (6, ""), (7, "   "), (8, None),
    ]
    edge = spark.createDataFrame(rows, "doc_id long, text string")
    sf01 = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    corpus = (spark.read.parquet(f"{sf01}/documents.parquet")
              .select((F.col("doc_id") + 1000).alias("doc_id"), "text"))
    df = edge.unionByName(corpus)
    want = {r["doc_id"]: _repetition_reference(r["text"])
            for r in df.collect()}
    got = {r["doc_id"]: {c: r[c] for c in REP_FEATURE_COLS}
           for r in gopher_repetition(df).collect()}
    assert len(got) == len(want) > 500
    for doc_id, feats in want.items():
        assert got[doc_id] == feats, doc_id


def test_repetition_trimmed_lines_detected_as_dups(spark):
    # '  spaced  ' lines differ in raw bytes but are equal after the
    # space-only trim — they count as duplicates.
    from outliertree_spark.operators.gopher import gopher_repetition
    df = spark.createDataFrame(
        [(1, "  spaced  \nspaced\nother line here")],
        "doc_id long, text string")
    out = gopher_repetition(df).collect()[0]
    assert out["dup_line_frac"] == pytest.approx(1 / 3)


# ---------------------------------------------------------- bigram LM

def test_bigram_lm_hand_computed_branches(spark):
    import math
    from outliertree_spark.operators.text import bigram_lm_scores_fp
    # corpus: unigrams a:4 b:3 c:1 solo:1 (total 9); bigrams (a,b):3 (a,c):1
    df = _docs(spark, [(1, "a b"), (2, "a b"), (3, "a b"),
                       (4, "a c"), (5, "solo")])
    out = {r["doc_id"]: r.asDict()
           for r in bigram_lm_scores_fp(df).collect()}
    assert out[1]["sum_lp_fp"] == round(math.log(3 / 4) * 1e6)
    assert out[4]["sum_lp_fp"] == round(math.log(1 / 4) * 1e6)
    assert 5 not in out  # <2 tokens: no transitions, no row
    # head_size=1: only bigram (a,b) and unigram 'a' survive the cut;
    # doc4's (a,c) takes the backoff with the out-of-head 0.5 floor
    outh = {r["doc_id"]: r.asDict()
            for r in bigram_lm_scores_fp(df, head_size=1).collect()}
    assert outh[1]["sum_lp_fp"] == round(math.log(3 / 4) * 1e6)
    assert outh[4]["sum_lp_fp"] == round(math.log((0.4 * 0.5) / 9) * 1e6)


def test_bigram_lm_head_covering_equals_exact(spark):
    from outliertree_spark.operators.text import bigram_lm_scores_fp
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
             .select("doc_id", "text").limit(100)
    exact = {r["doc_id"]: (r["n_trans"], r["sum_lp_fp"])
             for r in bigram_lm_scores_fp(d).collect()}
    # the fixture vocabulary is tiny: a generous head covers everything,
    # so the head path must reproduce the exact path bit-for-bit
    head = {r["doc_id"]: (r["n_trans"], r["sum_lp_fp"])
            for r in bigram_lm_scores_fp(d, head_size=100000).collect()}
    assert exact == head


def test_bigram_lm_partition_invariant(spark):
    from outliertree_spark.operators.text import bigram_lm_scores_fp
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
             .select("doc_id", "text")
    a = {r["doc_id"]: r["sum_lp_fp"]
         for r in bigram_lm_scores_fp(d.coalesce(1), head_size=20).collect()}
    b = {r["doc_id"]: r["sum_lp_fp"]
         for r in bigram_lm_scores_fp(d.repartition(17), head_size=20)
         .collect()}
    assert a == b


def test_curation_pipeline_funnel(spark):
    """Composed gate -> buckets -> dedup: survivors are a subset of the
    gate's keeps, never carry the 'tail' label, and are distinct by
    content with the minimal doc_id as keeper."""
    import __spark_entry__ as entry
    out = entry.queries()["curation_pipeline"](
        spark, "/root/testdata/sf0.001").toPandas()
    assert len(out) > 0
    assert set(out["ppl_label"]) <= {"head", "middle"}
    assert out["content_md5"].is_unique
    from outliertree_spark.operators.gopher import gopher_rules
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kept = {r["doc_id"] for r in gopher_rules(d, min_stop_hits=0)
            .filter("gopher_keep").select("doc_id").collect()}
    assert set(out["doc_id"]) <= kept


def test_mix_rates_missing_group_empties_resample(spark):
    """A requested share group absent from the corpus must surface as
    cnt=0 / rate=0 everywhere (empty resample — the only subset whose
    proportions can match), not be silently dropped from the mix
    (review finding, round 5)."""
    df = _docs(spark, [(i, "x") for i in range(100)]).withColumn(
        "lang", F.lit("en"))
    rates = {r["lang"]: (r["cnt"], r["mix_rate"])
             for r in mix_rates(df, "lang",
                                {"en": 0.5, "eo": 0.5}).collect()}
    assert rates["eo"] == (0, 0.0)
    assert rates["en"][1] == 0.0
    kept = resample_to_mix(df, "lang", {"en": 0.5, "eo": 0.5}, "doc_id")
    assert kept.count() == 0


def test_gopher_null_text_counts_as_empty(spark):
    from outliertree_spark.operators.gopher import gopher_rules
    out = gopher_rules(_docs(spark, [(1, None)])).collect()[0]
    assert out["n_words"] == 0
    assert out["rule_word_count"] is False
    assert out["gopher_keep"] is False


def test_quality_gate_does_not_clobber_user_columns(spark):
    """A corpus frame with its own n_words column must come through the
    suite quality gate and streaming gate untouched (review finding)."""
    from outliertree_spark.operators.gopher import (gopher_features,
                                                    gopher_rule_exprs)
    df = _docs(spark, [(1, "too short")]).withColumn(
        "n_words", F.lit(999))
    feats = gopher_features(df, prefix="_gq_")
    assert "n_words" in df.columns
    row = feats.select("n_words", "_gq_n_words").collect()[0]
    assert row["n_words"] == 999 and row["_gq_n_words"] == 2
    _, keep = gopher_rule_exprs(prefix="_gq_")
    out = feats.filter(~keep).select(*df.columns).collect()[0]
    assert out["n_words"] == 999


def test_mix_weights_mass_and_mean_one(spark):
    """Weighted group mass matches the normalized target shares and the
    weights are mean-one over the covered corpus."""
    from outliertree_spark.operators.sampling import (mix_weights,
                                                      weight_documents)
    rows = ([(i, "en") for i in range(70)] + [(100 + i, "de")
                                             for i in range(20)]
            + [(200 + i, "fr") for i in range(10)]
            + [(300, "zh")])                     # excluded group
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    shares = {"en": 0.5, "de": 0.25, "fr": 0.25}
    w = {r["lang"]: r["weight"]
         for r in mix_weights(df, "lang", shares).collect()}
    # weight = share * total / cnt over covered total (100 rows)
    assert w["en"] == pytest.approx(0.5 * 100 / 70)
    assert w["de"] == pytest.approx(0.25 * 100 / 20)
    assert w["fr"] == pytest.approx(0.25 * 100 / 10)
    docs = weight_documents(df, "lang", shares)
    assert docs.count() == 100                   # zh dropped
    got = docs.groupBy("lang").agg(
        F.sum("sample_weight").alias("mass")).collect()
    mass = {r["lang"]: r["mass"] for r in got}
    assert mass["en"] == pytest.approx(50.0)
    assert mass["de"] == pytest.approx(25.0)
    assert mass["fr"] == pytest.approx(25.0)


def test_mix_weights_missing_group_zero(spark):
    from outliertree_spark.operators.sampling import mix_weights
    df = spark.createDataFrame([(1, "en")], "doc_id long, lang string")
    w = {r["lang"]: (r["cnt"], r["weight"])
         for r in mix_weights(df, "lang",
                              {"en": 0.5, "eo": 0.5}).collect()}
    assert w["eo"] == (0, 0.0)
    # covered total is 1 row; en carries the (unachievable) target
    assert w["en"][1] == pytest.approx(0.5 * 1 / 1)

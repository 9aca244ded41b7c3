"""Text-analysis operators for document tables.

Language-ID (marker-word n-gram heuristic), quality scoring (length /
punctuation / stopword ratios), token counting (whitespace + a BPE-ish
regex), and rolling-hash document fingerprinting.  Everything is built
from ``pyspark.sql.functions`` so it stays inside whole-stage codegen;
the SQL-oracle equivalents live in ``__spark_entry__.py``.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

# tiny marker lexicons for the language-ID heuristic; counts of these
# function words decide the predicted language (deterministic, oracle-able)
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "que", "de", "es"],
}

BPE_ISH_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def term_rows(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """THE shared tokenization: one (id, term) row per whitespace token
    of the lowered, trimmed text.  vocab_term_stats, the unigram/bigram
    LMs, and tfidf_top_terms are documented to score over the identical
    token stream — they must all call this helper so a tokenizer change
    can never silently de-synchronize them."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    return (df.select(F.col(id_col), F.explode(toks).alias("term"))
              .filter(F.length("term") > 0))


def token_count(text: Column | str) -> Column:
    """Whitespace token count (0 for empty strings)."""
    c = F.col(text) if isinstance(text, str) else text
    trimmed = F.trim(c)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))).cast("long")


def bpe_ish_token_count(text: Column | str) -> Column:
    """Sub-word-ish token count: letter runs + digit runs + single
    punctuation marks (a cheap BPE proxy)."""
    c = F.col(text) if isinstance(text, str) else text
    arr = F.regexp_extract_all(c, F.lit(BPE_ISH_TOKEN_RE), 0)
    return F.size(arr).cast("long")


def _count_occurrences(c: Column, word: str) -> Column:
    """Occurrences of ' word ' in the padded lowercase text."""
    padded = F.concat(F.lit(" "), F.lower(c), F.lit(" "))
    needle = f" {word} "
    return ((F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
            / len(needle)).cast("long")


def lang_id_scores(text: Column | str) -> dict[str, Column]:
    c = F.col(text) if isinstance(text, str) else text
    return {lang: sum((_count_occurrences(c, w) for w in words), F.lit(0).cast("long"))
            for lang, words in LANG_MARKERS.items()}


def lang_id(text: Column | str) -> Column:
    """Predicted language = argmax of marker-word counts, 'und'
    (undetermined) when all scores are zero.  Ties break by language name
    ascending (encoded as a negative rank field so struct max works)."""
    scores = lang_id_scores(text)
    langs = sorted(scores)
    best = F.greatest(*[
        F.struct(scores[lang].alias("score"),
                 F.lit(-rank).alias("neg_rank"),
                 F.lit(lang).alias("lang"))
        for rank, lang in enumerate(langs)
    ])
    return F.when(best["score"] <= 0, F.lit("und")).otherwise(best["lang"])


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds deterministic quality features: n_chars, n_tokens,
    mean_token_len, punct_ratio, stopword_ratio, quality_score in [0,1].

    Built in LAYERED projections (raw counts -> ratios -> score), each
    layer referencing the previous one's COLUMNS: the heavy
    subexpressions (token split, 5 stopword replace chains, punct
    regexp) appear once each and CollapseProject keeps the layers
    separate because collapsing would duplicate non-cheap expressions.
    The round-5 single-projection form rebuilt the same expression
    objects inside every ratio and the score's when/least branches,
    where conditional evaluation defeats codegen subexpression
    elimination — measured 0.67s -> 0.21s at sf0.1 (identical output,
    exceptAll both ways = 0)."""
    c = F.col(text_col)
    n_chars = F.length(c).cast("double")
    n_tokens = token_count(c).cast("double")
    punct = (F.length(c) - F.length(F.regexp_replace(c, r"[.,;:!?]", ""))).cast("double")
    stop = sum((_count_occurrences(c, w) for w in LANG_MARKERS["en"]),
               F.lit(0).cast("long")).cast("double")
    l1 = df.withColumns({"n_chars_q": n_chars, "_nt_q": n_tokens,
                         "_punct_q": punct, "_stop_q": stop})
    nt, nc = F.col("_nt_q"), F.col("n_chars_q")
    pu, st = F.col("_punct_q"), F.col("_stop_q")
    mean_tok = F.when(nt > 0, (nc - (nt - 1)) / nt).otherwise(F.lit(0.0))
    punct_ratio = F.when(nc > 0, pu / nc).otherwise(F.lit(0.0))
    stop_ratio = F.when(nt > 0, st / nt).otherwise(F.lit(0.0))
    l2 = l1.withColumns({"n_tokens": nt.cast("long"),
                         "mean_token_len": mean_tok,
                         "punct_ratio": punct_ratio,
                         "stopword_ratio": stop_ratio})
    # simple monotone blend: long enough, not punctuation soup, some stopwords
    score = (F.least(nt / 100.0, F.lit(1.0)) * 0.4
             + (1.0 - F.least(F.col("punct_ratio") * 5.0, F.lit(1.0))) * 0.3
             + F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0)) * 0.3)
    return (l2.withColumn("quality_score", score)
              .drop("_nt_q", "_punct_q", "_stop_q"))


def fingerprint(text: Column | str) -> Column:
    """Deterministic 64-bit document fingerprint: xxhash64 of the
    whitespace-normalized lowercase text (rolling-hash equivalent for
    whole-document identity)."""
    c = F.col(text) if isinstance(text, str) else text
    normalized = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.xxhash64(normalized)


def winnowing_fingerprints(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", k: int = 5,
                           window: int = 4,
                           token_hash: str = "xxhash64") -> DataFrame:
    """Winnowing (local-minimum rolling hashes over k-grams): the standard
    plagiarism/fingerprint scheme, as array ops — per doc, hash every
    k-token shingle, then keep each window's minimum.  All row-local: no
    exchange anywhere.

    ``token_hash="md5_60"`` hashes shingles as the first 15 md5 hex chars
    (60-bit), which DuckDB reproduces bit-for-bit — the SQL-oracle path;
    ``"xxhash64"`` is the cheaper scale default.  Docs shorter than k
    tokens yield an empty fingerprint array.

    The token array and the per-position hash array are each
    materialized behind their own projection boundary: written as one
    expression, Catalyst re-inlines them into every lambda position, so
    the whole token split re-runs per shingle position and the whole
    hash array per window position — O(P^2) work per document that
    turned a seconds-scale sf0.1 job into a pinned-core multi-minute
    one (measured).  With the boundaries the split and the hashing are
    each O(P) and only the cheap ``array_min(slice(...))`` pass remains
    O(P*W) long comparisons.  CollapseProject keeps both boundaries for
    plain projections — but a Generate (``explode``) on top makes the
    optimizer re-inline the whole chain anyway (measured: md5 x9 /
    split x25 in the optimized plan, a pinned-core multi-minute job at
    sf0.1), so the result is additionally cut from the optimizer with a
    lazy ``localCheckpoint`` — the same rule as the minhash/simhash
    signature tables in operators/dedup.py: the fingerprint table
    (doc_id, array<long>) is exactly what a production pipeline
    persists before pairing, and every downstream reference (explode,
    pair expansion) reads it instead of re-deriving the text chain."""
    from .dedup import _spread
    toks_expr = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    d1 = _spread(df).select(F.col(id_col), toks_expr.alias("_wt"))
    toks = F.col("_wt")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), n - k)
    if token_hash == "md5_60":
        def _h(i):
            sh = F.concat_ws(" ", F.slice(toks, i + 1, k))
            return F.conv(F.substring(F.md5(sh), 1, 15), 16, 10).cast("long")
    else:
        def _h(i):
            return F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, k)))
    hashes = F.when(n >= k, F.transform(idx, _h)) \
              .otherwise(F.array().cast("array<long>"))
    d2 = d1.select(F.col(id_col), hashes.alias("_wh"))
    h = F.col("_wh")
    m = F.size(h)
    widx = F.sequence(F.lit(0), m - window)
    mins = F.when(m >= window,
                  F.transform(widx, lambda i: F.array_min(
                      F.slice(h, i + 1, window)))) \
            .otherwise(h)  # fewer hashes than a window: keep all
    return d2.select(F.col(id_col),
                     F.array_distinct(mins).alias("fingerprints")) \
             .localCheckpoint(eager=False)


def winnowing_overlap_pairs(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", k: int = 5,
                            window: int = 4, min_shared: int = 2,
                            token_hash: str = "xxhash64",
                            bucket_cap: int = 10000) -> DataFrame:
    """MOSS-style near-duplicate candidates: document pairs sharing at
    least ``min_shared`` winnowed fingerprints — the classic local-overlap
    detector that catches PARTIAL overlap (a shared paragraph, a quoted
    block) which whole-document MinHash dilutes away.

    Scale shape: fingerprints are built row-locally (no exchange), then
    ONE ``bucket_pairs`` expansion keyed on the fingerprint value
    generates in-bucket pairs, and a hash aggregate counts shared prints
    per pair.  ``n_shared`` is exact because a document's fingerprint set
    is distinct (``winnowing_fingerprints`` dedups) — each shared print
    contributes exactly one pair row.  Fingerprints hotter than
    ``bucket_cap`` documents are dropped like every LSH family bucket
    (ubiquitous boilerplate prints carry no pair signal).  The
    ``md5_60`` flavor is DuckDB-reproducible bit-for-bit — the oracle
    path."""
    from .similarity import bucket_pairs
    fps = winnowing_fingerprints(df, id_col, text_col, k, window,
                                 token_hash)
    e = fps.select(F.col(id_col), F.explode("fingerprints").alias("_fp"))
    p = bucket_pairs(e, ["_fp"], [id_col], id_col, bucket_cap)
    return (p.groupBy(F.col(f"a.{id_col}").alias("id_a"),
                      F.col(f"b.{id_col}").alias("id_b"))
             .agg(F.count(F.lit(1)).alias("n_shared"))
             .filter(F.col("n_shared") >= min_shared))


def vocab_term_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Corpus vocabulary: (term, doc_freq, term_freq) over lowercase
    whitespace tokens.

    Shape at scale: tokens explode WITHIN the input partition and feed a
    single codegen'd hash aggregate with map-side combine, so the one
    exchange carries (term, partial df, partial tf) — vocabulary-sized,
    not corpus-sized.  ``doc_freq`` counts documents containing the term
    (distinct per doc via row-local ``array_distinct`` on a second
    explode-free pass folded into the same aggregate: we explode the
    full token list once and count ``tf = count(*)`` plus
    ``df = count(distinct id)``; the distinct-by-doc is the only
    memory-bearing part and stays bounded by (term x doc) pairs after
    map-side dedup)."""
    ex = term_rows(df, id_col, text_col)
    return (ex.groupBy("term")
              .agg(F.count_distinct(id_col).alias("doc_freq"),
                   F.count(F.lit(1)).alias("term_freq")))


def novelty_scores(df: DataFrame, k: int = 3, id_col: str = "doc_id",
                   text_col: str = "text",
                   hash_kind: str = "plain") -> DataFrame:
    """Per-document k-gram NOVELTY: the fraction of a doc's distinct
    k-word shingles whose FIRST corpus occurrence (minimum id over all
    docs containing the gram) is this doc.  A curation signal between
    exact dedup and quality scoring — boilerplate-heavy or templated
    docs score near 0, genuinely new text near 1 — and the soft
    counterpart of keep-first paragraph dedup (operators/paragraphs.py)
    at n-gram granularity.

    Docs with fewer than ``k`` tokens have no grams and emit no rows.

    Scale shape: shingles build row-local (dedup.shingle_rows, which
    also carries the checkpoint cut against HOF re-inlining); the doc
    never needs to SEE which gram is novel, only how many are — so the
    plan is two independent map-side-combined aggregates and no
    corpus-sized join or window at all: per-doc gram counts
    (exchange on the doc key), and per-gram min-doc (exchange on the
    gram key, hot boilerplate grams combined map-side — a
    window-min formulation would instead funnel every occurrence of a
    hot gram into one unsplittable task) re-aggregated by owning doc.
    The two doc-keyed tables then join co-partitioned.
    ``hash_kind='xxhash64'`` shuffles 8-byte gram hashes instead of
    gram strings (the 10^12-doc default); ``'plain'`` keeps the string
    so DuckDB reproduces the result exactly (the oracle flavor — both
    flavors agree wherever xxhash64 is collision-free).

    The reference has no novelty operator (validation library); this is
    a pipeline addition per the build brief."""
    if hash_kind not in ("plain", "xxhash64"):
        raise ValueError(f"unknown hash_kind {hash_kind!r}: "
                         f"expected 'plain' or 'xxhash64'")
    from .dedup import shingle_arrays
    arrs = shingle_arrays(df, id_col, text_col, k)
    # per-doc gram count is row-local over the materialized shingle
    # table (round 6): the shingle array is already distinct, so
    # ``size`` equals the old explode+count aggregate exactly (docs with
    # no grams emit no row, matching the explode's empty-array drop) —
    # one corpus aggregate pass and its exchange removed.
    per_doc = (arrs.select(F.col(id_col),
                           F.size("_sh").cast("long").alias("n_grams"))
                   .filter(F.col("n_grams") > 0))
    sh = arrs.select(F.col(id_col), F.explode("_sh").alias("shingle"))
    g = (F.xxhash64("shingle") if hash_kind == "xxhash64"
         else F.col("shingle"))
    sh = sh.select(F.col(id_col), g.alias("_g"))
    owners = (sh.groupBy("_g").agg(F.min(id_col).alias(id_col))
                .groupBy(id_col)
                .agg(F.count(F.lit(1)).alias("novel_grams")))
    return (per_doc.join(owners, id_col, "left")
            .withColumn("novel_grams",
                        F.coalesce(F.col("novel_grams"), F.lit(0)))
            .withColumn("novelty_ratio",
                        F.round(F.col("novel_grams")
                                / F.col("n_grams"), 6)))


def vocab_top_terms(df: DataFrame, n: int = 50, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Top-``n`` vocabulary terms by (doc_freq desc, term_freq desc,
    term asc) — total order, so the cut is deterministic.  TopK over the
    vocabulary aggregate: Spark plans this as TakeOrderedAndProject
    (per-partition heaps, no global sort materialization)."""
    v = vocab_term_stats(df, id_col, text_col)
    return v.orderBy(F.desc("doc_freq"), F.desc("term_freq"),
                     F.asc("term")).limit(n)


def repetition_scores(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k: int = 2) -> DataFrame:
    """Gopher-style repetition quality signal: per document, the
    fraction of word k-grams that are duplicates of an earlier k-gram
    (``1 - distinct/total``).  Boilerplate and spam score high; prose
    scores near 0.  Entirely row-local array math — no exchange, scales
    with the scan."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    n = F.size(toks)
    # Gram identity via arithmetic over per-token hashes instead of
    # building gram STRINGS (concat_ws over slices): distinct-count is
    # identical absent hash collisions, and the interpreted-HOF cost
    # drops ~8.5x (measured sf0.1: 6.85s -> 0.81s, outputs equal).
    # Collision bound: token hashes live in a ~2^40 space and the
    # rolling combine stays there, so P(two distinct grams collide
    # within one doc) ~ (grams_per_doc^2 / 2) / 2^40 ~ 5e-9 — far below
    # anything a distinct-count quality signal can see.
    M = F.lit(1099511627689)  # prime just under 2^40
    ha = F.transform(toks, lambda t: F.pmod(F.xxhash64(t), M))
    m = n - k + 1
    acc = F.slice(ha, 1, m)
    for j in range(1, k):
        acc = F.zip_with(acc, F.slice(ha, 1 + j, m),
                         lambda a, b: F.pmod(a * F.lit(1000003) + b, M))
    grams = F.when(n >= k, acc).otherwise(F.array().cast("array<long>"))
    total = F.size(grams).cast("double")
    distinct = F.size(F.array_distinct(grams)).cast("double")
    ratio = F.when(total > 0, 1.0 - distinct / total).otherwise(F.lit(0.0))
    return df.select(F.col(id_col),
                     total.cast("long").alias("n_grams"),
                     ratio.alias("dup_gram_ratio"))


def unigram_lm_scores(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      head_size: int | None = None) -> DataFrame:
    """Unigram language-model quality signal (the KenLM-perplexity proxy
    used by CCNet-style filters, reduced to its SQL-expressible core):
    for each document the mean corpus log-probability of its tokens.

    Output per document: ``n_tokens`` (long), ``sum_tf`` (long — exact
    integer sum of the corpus term frequencies of the document's tokens,
    the order-independent integer twin of the float score) and
    ``mean_logp`` (double — mean over tokens of ``ln(tf(term)/total)``).
    Prose made of common words scores high (less negative); rare-token
    word salad and non-language noise score low — the standard
    "surprisal" filter signal.

    Shape at scale: tokens explode WITHIN the scan partition twice —
    once into the vocabulary aggregate (map-side combined: the exchange
    is vocabulary-sized, not corpus-sized) and once into the scoring
    join.  With ``head_size`` set (the 100 TB path), only the Zipf head
    — the top ``head_size`` terms by frequency, which carry >99% of
    token mass at ~1M terms — is broadcast, and out-of-vocabulary
    tokens score a sub-singleton floor probability ``0.5/total`` (they
    also contribute 0 to ``sum_tf``), so the corpus itself still never
    shuffles regardless of vocabulary size.  ``head_size=None``
    broadcasts the full vocabulary (exact; the oracle path).  The
    per-doc aggregate map-side-combines to one row per document."""
    tr = term_rows(df, id_col, text_col)
    vocab = tr.groupBy("term").agg(F.count(F.lit(1)).alias("_tf"))
    total = vocab.agg(F.sum("_tf").alias("_total"))
    if head_size is None:
        j = tr.join(F.broadcast(vocab), "term")
        tf = F.col("_tf")
    else:
        head = (vocab.orderBy(F.desc("_tf"), F.asc("term"))
                     .limit(head_size))
        j = tr.join(F.broadcast(head), "term", "left")
        tf = F.col("_tf")  # null for OOV: floor applies in logp below
    j = j.crossJoin(F.broadcast(total))
    tot = F.col("_total").cast("double")
    logp = F.when(tf.isNotNull(), F.log(tf.cast("double") / tot)) \
            .otherwise(F.log(F.lit(0.5) / tot))
    return (j.groupBy(id_col)
             .agg(F.count(F.lit(1)).alias("n_tokens"),
                  F.sum(F.coalesce(tf, F.lit(0))).alias("sum_tf"),
                  F.avg(logp).alias("mean_logp")))


def compression_ratio(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      level: int = 6) -> DataFrame:
    """Gzip-style compressibility quality signal: per document,
    ``len(zlib.compress(utf8)) / len(utf8)``.  Highly repetitive or
    templated text compresses far below prose (~0.1-0.3 vs ~0.5-0.7) —
    the classic cheap spam/boilerplate detector that survives
    word-order shuffling where n-gram repetition scores do not.

    zlib is bytes-in/bytes-out with no built-in Catalyst equivalent, so
    this is one of the few justified Python stages: an Arrow-batched
    pandas_udf (never per-row Python), shuffle-free, scaling with the
    scan exactly like the other row-local text operators.  Verified by
    pytest ordering properties (no SQL oracle — DuckDB has no zlib)."""
    import zlib

    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    out_schema = T.StructType([
        T.StructField("n_bytes", T.LongType()),
        T.StructField("compression_ratio", T.DoubleType())])

    @pandas_udf(out_schema)
    def _ratio(texts: pd.Series) -> pd.DataFrame:
        n_bytes, ratios = [], []
        for t in texts:
            if t is None:
                n_bytes.append(None)
                ratios.append(None)
                continue
            raw = t.encode("utf-8")
            n_bytes.append(len(raw))
            ratios.append(len(zlib.compress(raw, level)) / len(raw)
                          if raw else 0.0)
        return pd.DataFrame({"n_bytes": n_bytes,
                             "compression_ratio": ratios})

    return (df.withColumn("_cr", _ratio(F.col(text_col)))
              .select(F.col(id_col), F.col("_cr.n_bytes").alias("n_bytes"),
                      F.col("_cr.compression_ratio")
                       .alias("compression_ratio")))


def surprisal_scores_fp(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        head_size: int | None = None) -> DataFrame:
    """Per-document corpus surprisal in FIXED POINT: each distinct
    term's log-probability ``ln(tf/total)`` is quantized once to
    integer micro-nats (``round(... * 1e6)``), and documents sum the
    integers.

    Why fixed point: float sums are order-dependent, so a parallel
    engine cannot reproduce another engine's ``sum(double)`` bit for
    bit — but an INTEGER sum is order-independent, and the only float
    op left (one ``ln`` per distinct term over identical doubles)
    is deterministic.  That makes per-document surprisal — and any
    ordering or bucketing built on it — exactly reproducible across
    Spark, DuckDB, and partitionings, at 1e-6-nat resolution nobody
    can see.  Same aggregate shape as :func:`unigram_lm_scores`
    (vocabulary exchange + broadcast scoring join; the corpus never
    shuffles), same ``head_size`` broadcast-Zipf-head scale path with
    the 0.5/total OOV floor.

    Output: (id, n_tokens long, sum_lp_fp long, mean_lp double) where
    ``mean_lp = sum_lp_fp / n_tokens / 1e6`` nats/token (exact double
    division of exact integers — engine-portable)."""
    tr = term_rows(df, id_col, text_col)
    vocab = tr.groupBy("term").agg(F.count(F.lit(1)).alias("_tf"))
    total = vocab.agg(F.sum("_tf").alias("_total"))
    if head_size is None:
        j = tr.join(F.broadcast(vocab), "term")
        tf = F.col("_tf")
    else:
        head = (vocab.orderBy(F.desc("_tf"), F.asc("term"))
                     .limit(head_size))
        j = tr.join(F.broadcast(head), "term", "left")
        tf = F.col("_tf")
    j = j.crossJoin(F.broadcast(total))
    tot = F.col("_total").cast("double")
    logp = F.when(tf.isNotNull(), F.log(tf.cast("double") / tot)) \
            .otherwise(F.log(F.lit(0.5) / tot))
    lp_fp = F.round(logp * F.lit(1000000.0)).cast("long")
    per = (j.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum(lp_fp).alias("sum_lp_fp")))
    mean_lp = (F.col("sum_lp_fp").cast("double")
               / F.col("n_tokens").cast("double") / F.lit(1000000.0))
    return per.withColumn("mean_lp", mean_lp)


PPL_BUCKET_LABELS = {1: "head", 2: "middle", 3: "tail"}


def perplexity_buckets(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n_buckets: int = 3,
                       method: str = "ntile",
                       head_size: int | None = None) -> DataFrame:
    """CCNet-style perplexity bucketing: rank documents by mean corpus
    surprisal (the unigram KenLM proxy, see
    :func:`surprisal_scores_fp`) and cut into ``n_buckets`` quantile
    buckets — bucket 1 = most probable text ("head"), last = least
    ("tail").  CCNet keeps head+middle and drops or down-weights tail.

    Two assignment methods:

    - ``ntile`` (oracle path): exact NTILE over
      ``(mean_lp DESC, id)`` — a global sort, fine up to the scale
      where a total order is affordable, and bit-identical in any SQL
      engine because the ordering key is exact-integer-derived.
    - ``cutoff`` (the 10^12-doc path): bucket edges from
      ``approx_percentile`` over ``mean_lp`` (one mergeable-sketch
      aggregate, broadcast scalar), assignment by row-local
      comparison — NO global sort, corpus-scan shape.  Buckets are
      exactly monotone in ``mean_lp`` by construction; edge placement
      is approximate (tested to agree with ntile away from
      boundaries).

    Output: (id, n_tokens, sum_lp_fp, mean_lp, ppl_bucket int, and for
    n_buckets=3 a ``ppl_label`` head/middle/tail column)."""
    from pyspark.sql import Window
    s = surprisal_scores_fp(df, id_col, text_col, head_size=head_size)
    if method == "ntile":
        w = Window.orderBy(F.col("mean_lp").desc(), F.col(id_col).asc())
        out = s.withColumn("ppl_bucket", F.ntile(n_buckets).over(w))
    elif method == "cutoff":
        probs = [i / n_buckets for i in range(1, n_buckets)]
        # high mean_lp = bucket 1, so cut on the upper tail first
        edges = s.agg(F.percentile_approx(
            "mean_lp", [1.0 - p for p in probs]).alias("_edges"))
        out = s.crossJoin(F.broadcast(edges))
        b: Column = F.lit(n_buckets)
        for i in range(n_buckets - 1, 0, -1):
            b = F.when(F.col("mean_lp") >= F.element_at("_edges", i),
                       F.lit(i)).otherwise(b)
        out = out.withColumn("ppl_bucket", b).drop("_edges")
    else:
        raise ValueError(f"unknown method {method!r}")
    if n_buckets == 3:
        lab = F.when(F.col("ppl_bucket") == 1, "head") \
               .when(F.col("ppl_bucket") == 2, "middle") \
               .otherwise("tail")
        out = out.withColumn("ppl_label", lab)
    return out


def bigram_lm_scores_fp(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        head_size: int | None = None,
                        alpha: float = 0.4) -> DataFrame:
    """Bigram language-model surprisal with Stupid Backoff (Brants et
    al. 2007) — one model order above :func:`unigram_lm_scores`, the
    next rung toward CCNet's KenLM filter, in the same fixed-point
    exact-reproducibility regime as :func:`surprisal_scores_fp`.

    Per transition (w1 -> w2): ``ln(cb/cu1)`` when the bigram count is
    available, else the backoff ``ln((alpha * cu2) / total)`` (with the
    sub-singleton ``0.5`` floor for out-of-head w2).  Each transition's
    log-prob quantizes once to integer micro-nats; documents sum the
    integers, so per-doc scores are order-independent and bit-identical
    across engines and partitionings.  Docs with fewer than two tokens
    emit no row (no transitions to score) — same convention as the
    token explode dropping empty docs.

    Shape at scale: the bigram pair table is built ROW-LOCALLY
    (zip-with-shifted, cut from the optimizer with the lazy
    localCheckpoint rule of dedup.shingle_rows) and exploded; bigram
    and unigram vocabularies aggregate map-side-combined; scoring is
    three BROADCAST joins onto the exploded stream (bigram head,
    unigram-as-w1, unigram-as-w2) — the corpus text never shuffles, and
    with ``head_size`` set (the 10^12-doc path) only the Zipf heads are
    broadcast, OOV falling through to backoff/floor.
    ``head_size=None`` broadcasts full vocabularies: every bigram is
    then in-vocabulary by construction, so backoff never fires — the
    head configuration is the one the oracle exercises for the backoff
    branch."""
    from .dedup import _spread
    c = F.col(text_col)
    toks = F.filter(F.split(F.lower(F.trim(c)), r"\s+"),
                    lambda t: F.length(t) > 0)
    # The pair-struct table is the one materialization: the pair stream
    # is referenced TWICE downstream (bigram vocabulary aggregate +
    # scoring join).  Checkpointing the token arrays instead and building
    # the pairs from them was a wash in an interleaved A/B at sf0.1: 1.524
    # vs 1.586 min in its favour, 1.710 vs 1.599 against with the order
    # reversed (OPTIMIZATION_r06.md), so it was not applied.
    d1 = _spread(df).select(F.col(id_col), toks.alias("_t"))
    t = F.col("_t")
    n = F.size(t)
    pairs = F.when(n >= 2, F.filter(
        F.zip_with(t, F.slice(t, 2, n - 1),
                   lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))),
        lambda p: p["w2"].isNotNull())
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    d2 = d1.select(F.col(id_col), pairs.alias("_bg")) \
           .localCheckpoint(eager=False)
    bg = (d2.select(F.col(id_col), F.explode("_bg").alias("_p"))
            .select(F.col(id_col), F.col("_p.w1").alias("w1"),
                    F.col("_p.w2").alias("w2")))

    tokrows = d1.select(F.col(id_col), F.explode("_t").alias("term"))
    uni = tokrows.groupBy("term").agg(F.count(F.lit(1)).alias("_cu"))
    total = uni.agg(F.sum("_cu").alias("_total"))
    big = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_cb"))

    if head_size is not None:
        big = (big.orderBy(F.desc("_cb"), F.asc("w1"), F.asc("w2"))
                  .limit(head_size))
        uni = (uni.orderBy(F.desc("_cu"), F.asc("term"))
                  .limit(head_size))
    j = (bg.join(F.broadcast(big), ["w1", "w2"], "left")
           .join(F.broadcast(uni.select(F.col("term").alias("w1"),
                                        F.col("_cu").alias("_cu1"))),
                 "w1", "left")
           .join(F.broadcast(uni.select(F.col("term").alias("w2"),
                                        F.col("_cu").alias("_cu2"))),
                 "w2", "left")
           .crossJoin(F.broadcast(total)))
    tot = F.col("_total").cast("double")
    lp = F.when(F.col("_cb").isNotNull() & F.col("_cu1").isNotNull(),
                F.log(F.col("_cb").cast("double")
                      / F.col("_cu1").cast("double"))) \
          .otherwise(F.log(
              (F.lit(alpha) * F.coalesce(F.col("_cu2").cast("double"),
                                         F.lit(0.5))) / tot))
    fp = F.round(lp * F.lit(1000000.0)).cast("long")
    per = (j.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_trans"),
                 F.sum(fp).alias("sum_lp_fp")))
    mean_lp = (F.col("sum_lp_fp").cast("double")
               / F.col("n_trans").cast("double") / F.lit(1000000.0))
    return per.withColumn("mean_lp", mean_lp)

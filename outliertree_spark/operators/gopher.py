"""Gopher-style document quality rules (Rae et al. 2021, "Scaling
Language Models: ... Gopher", Table A1) — the classic pre-training
corpus filter set, re-expressed as pure Catalyst column arithmetic.

Every rule is a deterministic function of one document's text, so the
whole operator is row-local: it runs inside the scan's whole-stage
codegen with no exchange, no UDF, and no state — the shape that scales
to 10^12 documents (cost is exactly one pass over the text bytes).

Extends the reference's "flag rows violating data-driven constraints"
model (outliertree's violation rows, /root/reference/src/predict.cpp)
with the declared-constraint rule set every web-scale training pipeline
applies before model-based filtering.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..colref import qcol

# Gopher's required-stopword list (Table A1: "contains at least 2 of
# the following English words")
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_features(df: DataFrame, text_col: str = "text",
                    prefix: str = "") -> DataFrame:
    """Per-document Gopher filter features, all row-local.  NULL text
    counts as the empty document.  ``prefix`` namespaces the appended
    columns (internal callers use ``"_gq_"`` so a corpus frame that
    already carries a column named e.g. ``n_words`` is never
    overwritten).

    Columns added (names mirror the paper's rule inputs):

    - ``n_words``            word count (whitespace tokens)
    - ``mean_word_len``      mean characters per word
    - ``symbol_word_ratio``  ('#' chars + '...' + '…' occurrences) / words
    - ``bullet_line_frac``   fraction of lines starting with a bullet
    - ``ellipsis_line_frac`` fraction of lines ending with an ellipsis
    - ``alpha_word_frac``    fraction of words containing a letter
    - ``n_stop_hits``        how many of the 8 required stopwords appear

    All ratios are exact-integer divisions (count/count), so they are
    bit-identical across engines — the DuckDB oracle compares them
    unrounded and the rule booleans can never flip on float noise.
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    # tokenizer convention (shared with the text.py operators and their
    # DuckDB twins): Java/ASCII \s = [ \t\n\x0B\f\r].  RE2 (DuckDB) \s
    # EXCLUDES vertical tab \x0B — a doc containing \x0B would tokenize
    # differently under the oracle.  The fixtures contain none; noted
    # here because the rule booleans make the divergence behavioral.
    #
    # LAYERED build (round 6, the quality_features rule): the word and
    # line arrays are projected once and every feature references the
    # COLUMN.  Written as one projection, the 8 array_contains stopword
    # probes each re-evaluated the full split+filter+lower chain and the
    # ratios re-split per reference (HOFs are CodegenFallback, so
    # codegen subexpression elimination never fuses them) — ~12 splits
    # of every document per pass, measured 0.38s -> ~0.1s at sf0.1 with
    # identical output.  CollapseProject keeps the layers separate
    # because collapsing would duplicate non-cheap expressions.
    words = F.filter(F.split(F.trim(c), r"\s+"), lambda w: F.length(w) > 0)
    l1 = df.withColumns({
        prefix + "_words": words,
        prefix + "_lw": F.transform(words, F.lower),
        prefix + "_lines": F.split(c, r"\n"),
    })
    wcol = F.col(prefix + "_words")
    lwcol = F.col(prefix + "_lw")
    lncol = F.col(prefix + "_lines")
    n_words = F.size(wcol)
    word_chars = F.aggregate(wcol, F.lit(0).cast("long"),
                             lambda acc, w: acc + F.length(w))

    n_hash = F.length(c) - F.length(F.regexp_replace(c, r"#", ""))
    # non-overlapping '...' occurrences + one per '…' character
    n_dots = (F.length(c)
              - F.length(F.regexp_replace(c, r"\.\.\.", ""))) / F.lit(3)
    n_uell = F.length(c) - F.length(F.regexp_replace(c, r"…", ""))

    bullet = F.size(F.filter(lncol, lambda l: l.rlike(r"^\s*[-*•]")))
    ellipsis = F.size(F.filter(
        lncol, lambda l: l.rlike(r"(\.\.\.|…)\s*$")))
    alpha = F.size(F.filter(wcol, lambda w: w.rlike(r"[A-Za-z]")))

    stop_hits: Column = F.lit(0)
    for w in GOPHER_STOPWORDS:
        stop_hits = stop_hits + F.array_contains(lwcol, w).cast("int")

    l2 = l1.withColumns({
        prefix + "n_words": n_words.cast("long"),
        prefix + "_wc": word_chars,
        prefix + "_sym": n_hash + n_dots + n_uell,
        prefix + "_nl": F.size(lncol),
        prefix + "_bul": bullet,
        prefix + "_ell": ellipsis,
        prefix + "_alpha": alpha,
        prefix + "_sh": stop_hits,
    })
    nw = F.col(prefix + "n_words")
    nl = F.col(prefix + "_nl")

    def _frac(num, den):
        return F.when(den > 0, num.cast("double") / den.cast("double")) \
                .otherwise(F.lit(0.0))

    return (l2.withColumns({
                prefix + "mean_word_len": _frac(F.col(prefix + "_wc"), nw),
                prefix + "symbol_word_ratio": _frac(F.col(prefix + "_sym"),
                                                    nw),
                prefix + "bullet_line_frac": _frac(F.col(prefix + "_bul"),
                                                   nl),
                prefix + "ellipsis_line_frac": _frac(F.col(prefix + "_ell"),
                                                     nl),
                prefix + "alpha_word_frac": _frac(F.col(prefix + "_alpha"),
                                                  nw),
                prefix + "n_stop_hits": F.col(prefix + "_sh")})
              .drop(prefix + "_words", prefix + "_lw", prefix + "_lines",
                    prefix + "_wc", prefix + "_sym", prefix + "_nl",
                    prefix + "_bul", prefix + "_ell", prefix + "_alpha",
                    prefix + "_sh"))


def gopher_rules(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 min_words: int = 50, max_words: int = 100_000,
                 min_mean_word_len: float = 3.0,
                 max_mean_word_len: float = 10.0,
                 max_symbol_word_ratio: float = 0.1,
                 max_bullet_line_frac: float = 0.9,
                 max_ellipsis_line_frac: float = 0.3,
                 min_alpha_word_frac: float = 0.8,
                 min_stop_hits: int = 2) -> DataFrame:
    """Apply the Gopher rule thresholds: per-rule booleans plus the
    conjunction ``gopher_keep``.  Defaults are the paper's values.

    Returns (id, the seven feature columns, seven rule booleans,
    gopher_keep).  Rule booleans compare exact-integer-derived doubles
    against literal thresholds, so they are engine-portable with no
    rounding epsilon."""
    feats = gopher_features(df, text_col)
    rules, keep = gopher_rule_exprs(
        min_words, max_words, min_mean_word_len, max_mean_word_len,
        max_symbol_word_ratio, max_bullet_line_frac,
        max_ellipsis_line_frac, min_alpha_word_frac, min_stop_hits)
    return feats.select(
        F.col(id_col), "n_words", "mean_word_len", "symbol_word_ratio",
        "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac",
        "n_stop_hits",
        *[expr.alias(nm) for nm, expr in rules.items()],
        keep.alias("gopher_keep"))


def gopher_rule_exprs(min_words: int = 50, max_words: int = 100_000,
                      min_mean_word_len: float = 3.0,
                      max_mean_word_len: float = 10.0,
                      max_symbol_word_ratio: float = 0.1,
                      max_bullet_line_frac: float = 0.9,
                      max_ellipsis_line_frac: float = 0.3,
                      min_alpha_word_frac: float = 0.8,
                      min_stop_hits: int = 2, prefix: str = ""):
    """The rule boolean expressions over a :func:`gopher_features`
    frame, as ``({rule_name: Column}, keep_conjunction)`` — reusable by
    callers that need the rules WITHOUT dropping their own columns
    (e.g. the ValidationSuite quality gate, which stays row-local by
    appending to the corpus frame instead of joining back)."""
    def col(name):
        return F.col(prefix + name)

    rules = {
        "rule_word_count": (col("n_words") >= min_words)
        & (col("n_words") <= max_words),
        "rule_mean_word_len": (col("mean_word_len") >= min_mean_word_len)
        & (col("mean_word_len") <= max_mean_word_len),
        "rule_symbol_ratio": col("symbol_word_ratio")
        <= max_symbol_word_ratio,
        "rule_bullet_lines": col("bullet_line_frac")
        <= max_bullet_line_frac,
        "rule_ellipsis_lines": col("ellipsis_line_frac")
        <= max_ellipsis_line_frac,
        "rule_alpha_words": col("alpha_word_frac")
        >= min_alpha_word_frac,
        "rule_stopwords": col("n_stop_hits") >= min_stop_hits,
    }
    keep = None
    for expr in rules.values():
        keep = expr if keep is None else (keep & expr)
    return rules, keep


# --- Gopher repetition rules (Table A1, lower half) -------------------

# (threshold, metric) pairs exactly as published: max fraction of
# duplicate lines/paragraphs, max fraction of characters in duplicate
# lines/paragraphs, max char fraction of the top {2,3,4}-gram, max char
# fraction covered by duplicated {5..10}-grams.
REP_MAX_DUP_LINE_FRAC = 0.30
REP_MAX_DUP_PARA_FRAC = 0.30
REP_MAX_DUP_LINE_CHAR_FRAC = 0.20
REP_MAX_DUP_PARA_CHAR_FRAC = 0.20
REP_MAX_TOP_NGRAM_CHAR_FRAC = {2: 0.20, 3: 0.18, 4: 0.16}
REP_MAX_DUP_NGRAM_CHAR_FRAC = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12,
                               9: 0.11, 10: 0.10}


REP_FEATURE_COLS = (
    "dup_line_frac", "dup_para_frac", "dup_line_char_frac",
    "dup_para_char_frac",
    *(f"top_{n}gram_char_frac" for n in REP_MAX_TOP_NGRAM_CHAR_FRAC),
    *(f"dup_{n}gram_char_frac" for n in REP_MAX_DUP_NGRAM_CHAR_FRAC),
)


def _rep_feature_frame_arrow(df, id_col: str, text_col: str) -> DataFrame:
    """Arrow-batched repetition features: ONE mapInPandas pass running
    a per-document Counter sweep.  Text handling follows the JVM
    semantics of the other text operators and the DuckDB oracle (ASCII
    \\s+ word split, space-only trim, code-point lengths); it is pinned
    against an independent pure-Python reference by
    tests/test_curation_ops.py::test_repetition_matches_reference over
    edge docs (tabs, \\xa0, \\r, NULL text) and the fixture
    corpus — divisions are exact-int-over-exact-int in IEEE doubles, so
    equality is exact, not approximate."""
    import re
    from collections import Counter

    import pandas as pd

    split_ws = re.compile(r"\s+", re.ASCII)
    split_para = re.compile(r"\n{2,}")
    top_ns = tuple(REP_MAX_TOP_NGRAM_CHAR_FRAC)
    dup_ns = tuple(REP_MAX_DUP_NGRAM_CHAR_FRAC)

    def _seq_stats(vals):
        cnt = Counter(vals)
        n = len(vals)
        nd = len(cnt)
        ch = dup = 0
        for v, c in cnt.items():
            s = c * len(v)
            ch += s
            if c > 1:
                dup += s
        return n, nd, ch, dup

    def _batches(it):
        for pdf in it:
            out = {"_id": pdf["_id"]}
            cols = {k: [] for k in REP_FEATURE_COLS}
            for text in pdf["_text"]:
                text = text or ""
                tc = len(text)
                words = [t for t in split_ws.split(text.strip(" ")) if t]
                ln, lnd, lch, ldup = _seq_stats(
                    [s for s in (x.strip(" ") for x in text.split("\n"))
                     if s])
                pn, pnd, pch, pdup = _seq_stats(
                    [s for s in (x.strip(" ")
                                 for x in split_para.split(text)) if s])
                cols["dup_line_frac"].append(
                    (ln - lnd) / ln if ln else 0.0)
                cols["dup_para_frac"].append(
                    (pn - pnd) / pn if pn else 0.0)
                cols["dup_line_char_frac"].append(
                    ldup / lch if lch else 0.0)
                cols["dup_para_char_frac"].append(
                    pdup / pch if pch else 0.0)
                for n in (*top_ns, *dup_ns):
                    if len(words) >= n:
                        cnt = Counter(zip(*(words[i:] for i in range(n))))
                        best = dup = 0
                        for g, c in cnt.items():
                            val = c * (sum(map(len, g)) + n - 1)
                            if val > best:
                                best = val
                            if c > 1:
                                dup += val
                    else:
                        best = dup = 0
                    if n in top_ns:
                        cols[f"top_{n}gram_char_frac"].append(
                            best / tc if tc else 0.0)
                    else:
                        cols[f"dup_{n}gram_char_frac"].append(
                            dup / tc if tc else 0.0)
            out.update(cols)
            yield pd.DataFrame(out)

    id_type = df.schema[id_col].dataType.simpleString()
    schema = ", ".join([f"_id {id_type}"]
                       + [f"{k} double" for k in REP_FEATURE_COLS])
    # positional names: mapInPandas reads a dotted input name as a path
    return (df.select(qcol(id_col).alias("_id"), qcol(text_col).alias("_text"))
              .mapInPandas(_batches, schema)
              .withColumnRenamed("_id", id_col))


def gopher_repetition(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Gopher repetition-rule features + booleans (Rae et al. 2021
    Table A1, lower half): duplicate line/paragraph fractions,
    duplicate line/paragraph CHARACTER fractions, top-{2,3,4}-gram
    character fractions, duplicated-{5..10}-gram character fractions,
    and the conjunction ``repetition_keep``.

    Definitions (documented because published implementations differ;
    the DuckDB oracle recomputes the identical quantities):

    - lines = space-trimmed non-empty pieces of splitting on ``\\n``;
      paragraphs on ``\\n{2,}``.  ``dup_line_frac`` counts occurrences
      beyond the first over all lines; ``dup_line_char_frac`` counts
      characters over ALL occurrences of duplicated lines, divided by
      total line characters.
    - word n-grams are space-joined windows over whitespace tokens
      (overlap-naive); char fractions divide by ``length(text)``.
      ``top_ngram_char_frac`` = chars covered by the n-gram maximizing
      ``count*length`` (singletons included); ``dup_ngram_char_frac``
      = chars covered by all occurrences of n-grams appearing twice+.

    The 13 features come from ONE Arrow-batched mapInPandas Counter
    sweep — row-local (no exchange, no state).  Rule booleans compare
    exact-integer-derived doubles against literal thresholds.  Narrow
    inputs are fanned out first (operators/dedup._spread — a no-op at
    real scale where inputs are many files)."""
    from .dedup import _spread
    d3 = _rep_feature_frame_arrow(_spread(df), id_col, text_col)

    rules = [
        (F.col("dup_line_frac") <= REP_MAX_DUP_LINE_FRAC)
        .alias("rule_dup_lines"),
        (F.col("dup_para_frac") <= REP_MAX_DUP_PARA_FRAC)
        .alias("rule_dup_paras"),
        (F.col("dup_line_char_frac") <= REP_MAX_DUP_LINE_CHAR_FRAC)
        .alias("rule_dup_line_chars"),
        (F.col("dup_para_char_frac") <= REP_MAX_DUP_PARA_CHAR_FRAC)
        .alias("rule_dup_para_chars"),
    ]
    for n, t in REP_MAX_TOP_NGRAM_CHAR_FRAC.items():
        rules.append((F.col(f"top_{n}gram_char_frac") <= t)
                     .alias(f"rule_top_{n}gram"))
    for n, t in REP_MAX_DUP_NGRAM_CHAR_FRAC.items():
        rules.append((F.col(f"dup_{n}gram_char_frac") <= t)
                     .alias(f"rule_dup_{n}gram"))
    keep = rules[0].cast("boolean")
    for r in rules[1:]:
        keep = keep & r
    return d3.select(qcol(id_col),
                     *[c for c in d3.columns if c != id_col],
                     *rules, keep.alias("repetition_keep"))

"""Structured Streaming validation.

The reference is batch-only; this applies the broadcast fitted model to a
stream.  Violation rows, explanations included, come from the batch
``predict`` plan unchanged (Catalyst prefilter + one Arrow ``mapInPandas``
pass); verdicts are watermarked windowed aggregations for late data.  The
module also holds stateless stream twins of the batch cleaning gates
(dedup, quality, Gopher, Bloom) and a stateful PSI drift monitor.
Smoke-tested with the file source + memory sink (synchronous
``processAllAvailable``), which is the standard local harness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def stream_violations(engine, stream_df: DataFrame,
                      id_cols: list[str] | None = None) -> DataFrame:
    """Violation stream: the same prefilter + mapInPandas plan works
    unchanged on a streaming DataFrame (stateless transforms)."""
    return engine.predict(stream_df, id_cols=id_cols)


def windowed_verdicts(engine, stream_df: DataFrame, ts_col: str,
                      window: str = "5 minutes",
                      watermark: str = "10 minutes",
                      id_cols: list[str] | None = None) -> DataFrame:
    """Per-event-time-window violation counts with a watermark for late
    rows.  Join-free: violations carry the timestamp through predict."""
    id_cols = list(dict.fromkeys([ts_col] + (id_cols or [])))
    viols = engine.predict(stream_df, id_cols=id_cols)
    return (viols
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("w"))
            .agg(F.count(F.lit(1)).alias("n_violations"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "n_violations"))


def stateful_drift_monitor(stream_df: DataFrame, key_col: str, cat_col: str,
                           baseline: dict[str, float],
                           eps: float = 1e-6) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per key, keep a
    running category histogram across micro-batches and emit the PSI of
    the observed distribution vs a broadcast baseline after each batch.

    Output: (key, n_total, psi) — one row per key per micro-batch."""
    import math

    import pandas as pd

    from pyspark.sql.streaming.state import GroupState

    cats = sorted(baseline)
    base = [max(float(baseline[c]), eps) for c in cats]
    state_schema = "counts array<long>"
    out_schema = f"{key_col} string, n_total long, psi double"

    def update(key, pdfs, state: GroupState):
        if state.exists:
            (counts,) = state.get
            counts = list(counts)
        else:
            counts = [0] * len(cats)
        for pdf in pdfs:
            vc = pdf[cat_col].value_counts()
            for i, c in enumerate(cats):
                counts[i] += int(vc.get(c, 0))
        state.update((counts,))
        tot = sum(counts)
        psi = 0.0
        if tot > 0:
            for i in range(len(cats)):
                p = max(counts[i] / tot, eps)
                psi += (p - base[i]) * math.log(p / base[i])
        yield pd.DataFrame({key_col: [key[0]], "n_total": [tot],
                            "psi": [psi]})

    return (stream_df.groupBy(key_col)
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", "NoTimeout"))


def run_stream_to_memory(sdf: DataFrame, query_name: str):
    """Drive a (bounded) stream to completion into a memory sink."""
    q = (sdf.writeStream.outputMode("append")
         .format("memory").queryName(query_name)
         .trigger(availableNow=True)
         .start())
    q.processAllAvailable()
    q.stop()
    return q


def stream_exact_dedup(stream_df: DataFrame, ts_col: str,
                       text_col: str = "text",
                       watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup: one survivor per content hash within the
    watermark horizon (which duplicate survives inside a single
    micro-batch is arbitrary — Spark does not order partitions).
    ``dropDuplicatesWithinWatermark`` keys the state store on
    the content hash only, and the watermark bounds state size — the
    property that keeps this viable on an unbounded crawl stream (an
    unwatermarked dropDuplicates would grow state forever).  Documents
    whose duplicate arrives later than the watermark slack are emitted
    again: at-least-once dedup, the standard trade at scale."""
    h = F.md5(F.col(text_col)).alias("_text_hash")
    return (stream_df.select("*", h)
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["_text_hash"])
            .drop("_text_hash"))


def stream_quality_gate(stream_df: DataFrame, text_col: str = "text",
                        min_score: float = 0.3) -> DataFrame:
    """Stateless streaming quality filter: the batch quality features
    are pure codegen column expressions, so the same plan runs on a
    stream unchanged — no state store, no Python workers."""
    from ..operators.text import quality_features
    scored = quality_features(stream_df, text_col)
    return scored.filter(F.col("quality_score") >= min_score)


def stream_clean_pipeline(stream_df: DataFrame, ts_col: str,
                          boiler: list[str],
                          text_col: str = "text",
                          min_score: float = 0.0,
                          watermark: str = "10 minutes") -> DataFrame:
    """The batch training pipeline's streaming twin: boilerplate removal
    and PII scrub are stateless codegen maps so they run on the stream
    unchanged; exact dedup becomes ``dropDuplicatesWithinWatermark`` on
    the scrubbed-content hash (state bounded by the watermark horizon —
    at-least-once dedup, the standard trade on an unbounded crawl); an
    optional quality gate filters last, after cleaning, so scores judge
    the text that would actually ship.  The boilerplate set is the
    driver-collected batch artifact (collect_boilerplate) — in
    production it is refreshed per epoch, not per micro-batch."""
    from ..operators.boilerplate import remove_boilerplate
    from ..operators.scrub import scrub_pii
    from ..operators.text import quality_features

    cleaned = remove_boilerplate(stream_df, boiler, text_col=text_col)
    scrubbed = cleaned.withColumn("_scrubbed", scrub_pii("clean_text"))
    h = F.md5(F.col("_scrubbed")).alias("_content_hash")
    deduped = (scrubbed.select("*", h)
               .withWatermark(ts_col, watermark)
               .dropDuplicatesWithinWatermark(["_content_hash"]))
    if min_score > 0.0:
        scored = quality_features(
            deduped.withColumn("_qtext", F.col("_scrubbed")), "_qtext")
        deduped = (scored.filter(F.col("quality_score") >= min_score)
                   .drop("_qtext", "n_chars_q", "n_tokens",
                         "mean_token_len", "punct_ratio",
                         "stopword_ratio"))
    return deduped.drop("_content_hash")


def stream_gopher_gate(stream_df: DataFrame, text_col: str = "text",
                       keep_only: bool = True, **thresholds) -> DataFrame:
    """Streaming Gopher rule gate (operators/gopher.py): the quality
    features and rule booleans are pure codegen column expressions —
    stateless, so the batch plan runs on a stream unchanged with no
    state store and no Python workers.  ``keep_only=True`` passes only
    documents satisfying every rule (the filter configuration a crawl
    ingest uses); ``keep_only=False`` annotates each document with the
    rule booleans and ``gopher_keep`` instead (the audit
    configuration).  ``thresholds`` forwards to
    :func:`operators.gopher.gopher_rule_exprs` (e.g.
    ``min_stop_hits=0`` for non-English corpora)."""
    from ..operators.gopher import gopher_features, gopher_rule_exprs
    feats = gopher_features(stream_df, text_col=text_col, prefix="_gq_")
    rules, keep = gopher_rule_exprs(prefix="_gq_", **thresholds)
    if keep_only:
        return feats.filter(keep).select(*stream_df.columns)
    # audit mode appends ONLY the documented rule booleans + verdict;
    # the internal _gq_ feature columns never leave (and never collide
    # with the stream's own columns)
    return feats.select(*stream_df.columns,
                        *[expr.alias(rn) for rn, expr in rules.items()],
                        keep.alias("gopher_keep"))


def stream_bloom_gate(stream_df: DataFrame, bloom: dict, key_expr,
                      keep_members: bool = False) -> DataFrame:
    """Streaming Bloom membership gate (operators/bloom.py): the bitmap
    is a pre-built batch artifact (e.g. a decontamination blockset or
    revoked-id set), the probe is a stateless row-local filter — no
    state store, so the batch plan runs on an unbounded stream
    unchanged.  ``keep_members=False`` (the blocklist configuration)
    drops documents whose key probes true; ``True`` keeps only probable
    members (the routing configuration).  Bloom semantics carry over:
    dropping members is exact (no false negatives), at ~fpp innocent
    rows are over-dropped — acceptable for a crawl-ingest prefilter;
    pair with the batch ``bloom_screen`` verify join where exactness is
    required."""
    from ..operators.bloom import might_contain
    hit = might_contain(bloom, key_expr)
    return stream_df.filter(hit if keep_members else ~hit)

"""ValidationSuite: one object bundling the derived (tree) constraints
with declared checks, producing unified violation rows and per-partition
verdicts — the full north-rule validation in a single run.

    suite = (ValidationSuite(ValidationConfig())
             .add_uniqueness("url")
             .add_referential(parent_df, child_key="ref_id",
                              parent_key="id", name="ref_ids")
             .add_timestamp_range("warc_ts", "2024-01-01", "2024-02-01")
             .add_snapshot_delta(previous_df, "url")
             .add_quality_rules(include_repetition=True)
             .add_drift_baseline(baseline_df, "lang", max_psi=0.2))
    suite.fit(df, id_cols=["doc_id"])
    violations, verdicts = suite.run(df, partition_col="warc_bucket")

Violations carry a ``check`` column ("derived" for tree constraints, the
check's name otherwise); verdicts aggregate all checks per partition.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, functions as F

from .config import ValidationConfig
from .colref import qcol
from .engine import SparkOutlierTree, partition_verdicts, violation_keys
from .operators import checks as C


@dataclass
class _Check:
    name: str
    kind: str
    fn: Callable[[DataFrame], DataFrame]  # df -> violation rows (id cols kept)


class ValidationSuite:
    def __init__(self, config: ValidationConfig | None = None,
                 engine: SparkOutlierTree | None = None):
        self.engine = engine or SparkOutlierTree(config)
        self._checks: list[_Check] = []
        self._drift: list[tuple[str, DataFrame, str, float, float | None]] = []

    # -- declared checks -------------------------------------------------
    def add_uniqueness(self, key_col: str, name: str | None = None):
        nm = name or f"unique_{key_col}"

        def fn(df: DataFrame) -> DataFrame:
            dups = C.uniqueness_violations(df, key_col)
            return (df.join(F.broadcast(dups.select(qcol(key_col))), key_col,
                            "left_semi")
                    .withColumn("_check_value", qcol(key_col).cast("string")))

        self._checks.append(_Check(nm, "uniqueness", fn))
        return self

    def add_referential(self, parent: DataFrame, child_key: str,
                        parent_key: str, name: str | None = None,
                        broadcast_parent: bool = True):
        nm = name or f"ref_{child_key}"

        def fn(df: DataFrame) -> DataFrame:
            orphans = C.referential_orphans(df, parent, child_key, parent_key,
                                            broadcast_parent=broadcast_parent)
            return orphans.withColumn("_check_value",
                                      qcol(child_key).cast("string"))

        self._checks.append(_Check(nm, "referential", fn))
        return self

    def add_timestamp_range(self, ts_col: str, lo: str, hi: str,
                            name: str | None = None):
        nm = name or f"ts_range_{ts_col}"

        def fn(df: DataFrame) -> DataFrame:
            v = C.timestamp_range_violations(df, ts_col, lo, hi)
            return v.withColumn("_check_value", qcol(ts_col).cast("string"))

        self._checks.append(_Check(nm, "timestamp_range", fn))
        return self

    def add_extraction_parity(self, html_col: str = "html",
                              text_col: str = "text",
                              name: str | None = None):
        """North-rule per-row invariant: re-extracting text from the raw
        page must reproduce the stored text byte-identically."""
        from .operators.webtext import html_to_text
        nm = name or f"extract_{text_col}"

        def fn(df: DataFrame) -> DataFrame:
            ex = html_to_text(qcol(html_col))
            return (df.filter(~ex.eqNullSafe(qcol(text_col)))
                      .withColumn("_check_value",
                                  F.length(ex).cast("string")))

        self._checks.append(_Check(nm, "extraction_parity", fn))
        return self

    def add_quality_rules(self, id_col: str = "doc_id",
                          text_col: str = "text",
                          include_repetition: bool = False,
                          name: str | None = None, **rule_thresholds):
        """Declared-constraint document quality gate: rows failing the
        Gopher rule set (operators/gopher.py — Rae et al. 2021 Table
        A1) become violation rows whose ``check_value`` lists the
        failed rules (``"rule_stopwords,rule_word_count"``), the same
        flag-plus-reason model as the engine's derived tree violations.
        ``include_repetition=True`` adds the Table A1 repetition rules
        (Arrow Counter sweep) as a second violation source tagged
        ``repetition:``.  ``rule_thresholds`` forwards to
        :func:`operators.gopher.gopher_rule_exprs` (e.g.
        ``min_stop_hits=0`` for non-English corpora).

        Scale shape: the quality set APPENDS rule columns to the corpus
        frame (gopher_features) and filters — entirely row-local, no
        join, no exchange.  The repetition path (mapInPandas projects
        to id+features) joins its failure list back on ``id_col`` —
        the same doc_id join-back shape as paragraph dedup."""
        from .operators.gopher import (gopher_features, gopher_repetition,
                                       gopher_rule_exprs)
        nm = name or "quality_rules"

        def fn(df: DataFrame) -> DataFrame:
            # "_gq_" prefix: a corpus frame carrying its own n_words /
            # mean_word_len / ... column must not be overwritten by the
            # appended feature columns (review finding, round 5)
            rules, keep = gopher_rule_exprs(prefix="_gq_",
                                            **rule_thresholds)
            failed = F.concat_ws(",", *[
                F.when(~expr, F.lit(rn)) for rn, expr in rules.items()])
            bad = (gopher_features(df, text_col, prefix="_gq_")
                   .filter(~keep)
                   .select(*[qcol(c) for c in df.columns],
                           F.concat(F.lit("gopher:"), failed)
                            .alias("_check_value")))
            if include_repetition:
                r = gopher_repetition(df, id_col, text_col)
                rrules = [c for c in r.columns if c.startswith("rule_")]
                rfailed = F.concat_ws(",", *[
                    F.when(~F.col(c), F.lit(c)) for c in rrules])
                rbad = (r.filter(~F.col("repetition_keep"))
                         .select(qcol(id_col),
                                 F.concat(F.lit("repetition:"), rfailed)
                                  .alias("_check_value")))
                bad = bad.unionByName(df.join(rbad, id_col, "inner"))
            return bad

        self._checks.append(_Check(nm, "quality", fn))
        return self

    def add_snapshot_delta(self, previous: DataFrame,
                           key_cols: list[str] | str,
                           compare_cols: list[str] | None = None,
                           include_removed: bool = True,
                           name: str | None = None):
        """North-rule cross-snapshot validation: rows whose content
        CHANGED versus the ``previous`` snapshot version are violations
        (attributed to their partition in the new snapshot); rows that
        were silently REMOVED are violations attributed to their
        partition in the previous snapshot (they no longer exist in the
        new one).  Additions are normal growth, never flagged.  Built on
        :func:`operators.checks.snapshot_diff` — each side reduces to
        (key, digest) before the one key join."""
        keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
        nm = name or f"snapshot_{keys[0]}"

        def fn(df: DataFrame) -> DataFrame:
            d = C.snapshot_diff(previous, df, keys, compare_cols)
            changed = df.join(
                d.filter(F.col("change_type") == "changed"), keys, "inner")
            out = changed
            if include_removed:
                removed = previous.join(
                    d.filter(F.col("change_type") == "removed"), keys,
                    "inner")
                # snapshots may have evolved schemas (a column added or
                # dropped between versions); snapshot_diff already
                # compares only shared columns, so the union must not
                # require byte-identical schemas either — sides fill
                # each other's missing columns with nulls
                out = changed.unionByName(removed,
                                          allowMissingColumns=True)
            return out.withColumn("_check_value", F.col("change_type"))

        self._checks.append(_Check(nm, "snapshot_delta", fn))
        return self

    def add_drift_baseline(self, baseline: DataFrame, col: str,
                           max_psi: float = 0.2,
                           numeric_bucket_width: float | None = None,
                           name: str | None = None):
        """Partition-level (not row-level) check: PSI of ``col`` vs the
        baseline snapshot must stay under ``max_psi``."""
        nm = name or f"drift_{col}"
        self._drift.append((nm, baseline, col, max_psi, numeric_bucket_width))
        return self

    # -- lifecycle ---------------------------------------------------------
    def fit(self, df: DataFrame, **fit_kw) -> "ValidationSuite":
        self.engine.fit(df, **fit_kw)
        return self

    def run(self, df: DataFrame, partition_col: str,
            id_cols: list[str] | None = None,
            max_violation_rate: float | None = None) -> tuple[DataFrame, DataFrame]:
        row_ids, keys = violation_keys(id_cols, partition_col)
        key_cols = [qcol(c) for c in keys]
        rate = (max_violation_rate if max_violation_rate is not None
                else self.engine.config.pct_outliers)

        # derived (tree) violations
        derived = (self.engine.predict(df, id_cols=row_ids)
                   .select(*key_cols, "suspicious_column",
                           F.col("suspicious_value").alias("check_value"),
                           "outlier_score", "explanation")
                   .withColumn("check", F.lit("derived")))
        parts = [derived]
        for ch in self._checks:
            v = ch.fn(df)
            parts.append(v.select(
                *key_cols,
                F.lit(ch.kind).alias("suspicious_column"),
                F.col("_check_value").alias("check_value"),
                F.lit(None).cast("double").alias("outlier_score"),
                F.lit(None).cast("string").alias("explanation"),
            ).withColumn("check", F.lit(ch.name)))
        viols = parts[0]
        for p in parts[1:]:
            viols = viols.unionByName(p)
        verdicts = partition_verdicts(df, viols, partition_col, rate)

        # drift checks gate whole partitions: one grouped-histogram pass per
        # check (no per-partition jobs -- scales to any partition count)
        for nm, baseline, col, max_psi, width in self._drift:
            psi_df = _per_partition_psi(df, baseline, partition_col, col,
                                        width).withColumnRenamed(
                "psi", f"psi_{nm}")
            verdicts = (verdicts.join(psi_df, partition_col, "left")
                        .withColumn(f"psi_{nm}",
                                    F.coalesce(f"psi_{nm}", F.lit(0.0)))
                        .withColumn("passed",
                                    F.col("passed")
                                    & (F.col(f"psi_{nm}") <= F.lit(max_psi))))
        return viols, verdicts


def _per_partition_psi(df: DataFrame, baseline: DataFrame, partition_col: str,
                       col: str, width: float | None,
                       eps: float = 1e-6) -> DataFrame:
    """PSI of ``col``'s distribution per partition vs a baseline snapshot,
    computed from two grouped histograms and one broadcast join."""
    from pyspark.sql import Window
    if width is not None:
        bucket = (F.floor(qcol(col) / float(width)) * float(width)) \
            .cast("double").alias("_psi_bucket")
    else:
        bucket = qcol(col).alias("_psi_bucket")
    obs = (df.select(qcol(partition_col), bucket)
             .groupBy(qcol(partition_col), "_psi_bucket")
             .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy(qcol(partition_col))
    obs = obs.withColumn("p", F.col("n") / F.sum("n").over(w) + F.lit(eps))
    base = (baseline.select(bucket).groupBy("_psi_bucket")
            .agg(F.count(F.lit(1)).alias("bn")))
    tot = base.agg(F.sum("bn")).first()[0] or 1
    base = base.withColumn("q", F.col("bn") / F.lit(float(tot)) + F.lit(eps))
    # full outer per partition is awkward; unseen-in-partition buckets
    # contribute (eps - q) * ln(eps/q): add them via the baseline side
    j = obs.join(F.broadcast(base.select("_psi_bucket", "q")), "_psi_bucket", "left")
    j = j.withColumn("q", F.coalesce("q", F.lit(eps)))
    seen = (j.groupBy(qcol(partition_col))
             .agg(F.sum((F.col("p") - F.col("q"))
                        * F.log(F.col("p") / F.col("q"))).alias("psi_seen"),
                  F.collect_set("_psi_bucket").alias("_seen")))
    base_rows = base.select("_psi_bucket", "q").collect()
    bq = {r["_psi_bucket"]: r["q"] for r in base_rows}
    import math
    spark = df.sparkSession
    miss_lookup = [(b, float((eps - q) * math.log(eps / q)))
                   for b, q in bq.items()]
    from .localrel import local_df
    miss_df = local_df(spark, miss_lookup, ["_psi_bucket", "miss_term"])

    exploded = (seen.select(qcol(partition_col), "psi_seen",
                            F.explode_outer("_seen").alias("_psi_bucket")))
    # total missing-bucket contribution = sum over baseline buckets not seen
    total_miss = float(sum(t for _, t in miss_lookup))
    seen_miss = (exploded.join(F.broadcast(miss_df), "_psi_bucket", "left")
                 .groupBy(qcol(partition_col), "psi_seen")
                 .agg(F.sum(F.coalesce("miss_term", F.lit(0.0)))
                      .alias("_seen_miss")))
    return seen_miss.select(
        qcol(partition_col),
        (F.col("psi_seen") + F.lit(total_miss) - F.col("_seen_miss"))
        .alias("psi"))

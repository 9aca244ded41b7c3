"""Declared schema-constraint checks (north-rule additions).

The reference contains none of these (it is single-table, fit/predict
only); they are standard validation checks layered on the same
violation-row output model, expressed as pure Catalyst plans:

- uniqueness via salted two-phase hash aggregation (hot keys never
  concentrate on one reducer)
- referential integrity via broadcast/shuffle left-anti join
- KL / PSI distribution drift between categorical or bucketed-numeric
  histograms
- timestamp-range and per-group numeric-bound checks

All return DataFrames; none collect to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..colref import qcol, qname


def uniqueness_violations(df: DataFrame, key_cols: list[str] | str,
                          n_salts: int = 64) -> DataFrame:
    """Keys appearing more than once, with their duplicate count.

    Two-phase: first aggregate on (salt, key) — the salt is a hash of the
    whole row's partition, spreading a hot key over ``n_salts`` reducers —
    then combine per key.  At 10^12 rows this keeps the first shuffle's
    partitions bounded even when one url dominates."""
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    salt = (F.spark_partition_id() % n_salts).alias("_salt")
    phase1 = (df.select(*[qcol(c) for c in key_cols], salt)
                .groupBy(*[qcol(c) for c in key_cols], "_salt")
                .agg(F.count(F.lit(1)).alias("_cnt")))
    return (phase1.groupBy(*[qcol(c) for c in key_cols])
            .agg(F.sum("_cnt").alias("n_dups"))
            .filter(F.col("n_dups") > 1))


def referential_orphans(child: DataFrame, parent: DataFrame,
                        child_key: str, parent_key: str,
                        broadcast_parent: bool = False) -> DataFrame:
    """Child rows whose key has no match in the parent (left-anti join).

    ``broadcast_parent=True`` for dimension-sized parents skips the
    shuffle entirely; otherwise AQE's skew-join handling applies."""
    p = parent.select(qcol(parent_key).alias(child_key)).distinct()
    if broadcast_parent:
        p = F.broadcast(p)
    return child.join(p, on=child_key, how="left_anti")


def snapshot_diff(old: DataFrame, new: DataFrame,
                  key_cols: list[str] | str,
                  compare_cols: list[str] | None = None) -> DataFrame:
    """Row-level delta between two snapshots of the same table
    (north-rule: validation across ``warc_ts``-partitioned snapshot
    versions): one row per key whose state changed, with ``change_type``
    in ``added`` (key only in ``new``), ``removed`` (only in ``old``) or
    ``changed`` (present in both, compared content differs).  Unchanged
    keys are filtered out — at 10^12 rows the delta is the small output,
    never the join input.

    Content identity is md5 over the ``compare_cols`` (default: all
    shared non-key columns, in ``old``'s column order).  Each column is
    encoded self-delimitingly before concatenation — ``<charlen>:<value>``
    for non-null values, the bare token ``N`` for NULL — so a value
    containing any separator-like bytes cannot realign across adjacent
    columns, and no string value can collide with NULL (length-prefixed
    tokens always start with a digit).  Non-string columns are compared
    via their canonical string casts — two values are "changed" iff
    their casts differ (documented caveat: binary-identical but
    cast-equal values, e.g. -0.0 vs 0.0, compare unchanged).  Scale
    shape: each side reduces to (key, digest) in the scan — content
    bytes never shuffle — then ONE co-partitioned full-outer join on
    the key; on tables bucketed on the key the exchange disappears
    entirely."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_cols = [c for c in shared if c not in set(keys)]

    def _digest(df: DataFrame, alias: str) -> DataFrame:
        def _enc(c):
            s = qcol(c).cast("string")
            return F.coalesce(
                F.concat(F.length(s).cast("string"), F.lit(":"), s),
                F.lit("N"))
        parts = [_enc(c) for c in compare_cols]
        return df.select(*[qcol(k).alias(k) for k in keys],
                         F.md5(F.concat(*parts)).alias(alias))

    j = _digest(old, "_h_old").join(_digest(new, "_h_new"), keys,
                                    "full_outer")
    change = (F.when(F.col("_h_old").isNull(), "added")
               .when(F.col("_h_new").isNull(), "removed")
               .when(F.col("_h_old") != F.col("_h_new"), "changed"))
    return (j.withColumn("change_type", change)
             .filter(F.col("change_type").isNotNull())
             .select(*[qcol(k) for k in keys], "change_type"))


def _histogram(df: DataFrame, col: str, bucket_expr=None) -> DataFrame:
    e = bucket_expr if bucket_expr is not None else qcol(col)
    return (df.select(e.alias("bucket"))
              .groupBy("bucket").agg(F.count(F.lit(1)).alias("n")))


def distribution_drift(df_a: DataFrame, df_b: DataFrame, col: str,
                       numeric_bucket_width: float | None = None,
                       eps: float = 1e-6) -> DataFrame:
    """Per-bucket PSI and KL contributions between two snapshots of a
    column; sum the ``psi``/``kl`` columns for the scalar metric.

    Categorical columns bucket by value; numeric by
    ``floor(col / width) * width``."""
    if numeric_bucket_width is not None:
        w = float(numeric_bucket_width)
        be = (F.floor(qcol(col) / w) * w).cast("double")
    else:
        be = None
    ha = _histogram(df_a, col, be).withColumnRenamed("n", "n_a")
    hb = _histogram(df_b, col, be).withColumnRenamed("n", "n_b")
    j = ha.join(hb, "bucket", "full")
    j = (j.withColumn("n_a", F.coalesce("n_a", F.lit(0)))
          .withColumn("n_b", F.coalesce("n_b", F.lit(0))))
    # totals via scalar aggregate + broadcast cross join: the histogram is
    # tiny but a Window.partitionBy() would still force a single-partition
    # exchange (and floods logs with WindowExec warnings)
    totals = j.agg(F.sum("n_a").alias("_ta"), F.sum("n_b").alias("_tb"))
    j = j.crossJoin(F.broadcast(totals))
    j = (j.withColumn("p", F.col("n_a") / F.col("_ta") + F.lit(eps))
          .withColumn("q", F.col("n_b") / F.col("_tb") + F.lit(eps)))
    return (j.withColumn("psi", (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")))
             .withColumn("kl", F.col("p") * F.log(F.col("p") / F.col("q")))
             .select("bucket", "n_a", "n_b", "p", "q", "psi", "kl"))


def timestamp_range_violations(df: DataFrame, ts_col: str,
                               lo: str, hi: str) -> DataFrame:
    """Rows whose timestamp falls outside [lo, hi) or is NULL."""
    c = qcol(ts_col)
    return df.filter(c.isNull() | (c < F.lit(lo)) | (c >= F.lit(hi)))


def group_bound_violations(df: DataFrame, group_cols: list[str], value_col: str,
                           z: float = 8.0, robust: bool = True) -> DataFrame:
    """Rows whose value is beyond z robust-SDs of their group.

    ``robust=True`` uses the reference's central-half statistics
    (misc.cpp:178-204: mean/SD of the IQR interior, SD inflated x2.5);
    otherwise plain mean/stddev.  Partial aggregation happens map-side;
    the stats table is broadcast back for the final filter."""
    v = qcol(value_col)
    if robust:
        stats = df.groupBy(*[qcol(g) for g in group_cols]).agg(
            F.percentile_approx(qcol(value_col), 0.25).alias("_q1"),
            F.percentile_approx(qcol(value_col), 0.75).alias("_q3"))
        j = df.join(F.broadcast(stats), group_cols)
        core = j.filter((v >= F.col("_q1")) & (v <= F.col("_q3")))
        cstats = core.groupBy(*[qcol(g) for g in group_cols]).agg(
            F.avg(qcol(value_col)).alias("_mu"),
            (F.stddev_samp(qcol(value_col)) * 2.5).alias("_sd"))
        out = df.join(F.broadcast(cstats), group_cols)
    else:
        stats = df.groupBy(*[qcol(g) for g in group_cols]).agg(
            F.avg(qcol(value_col)).alias("_mu"),
            F.stddev_samp(qcol(value_col)).alias("_sd"))
        out = df.join(F.broadcast(stats), group_cols)
    return (out.filter(F.abs(v - F.col("_mu")) > F.lit(z) * F.col("_sd"))
               .drop("_mu", "_sd", "_q1", "_q3"))


def uniqueness_screen(df: DataFrame, cols: list[str],
                      rsd: float = 0.05,
                      with_exact: bool = True) -> DataFrame:
    """Cheap uniqueness pre-screen: one aggregate pass emitting, per
    column, non-null row count and HyperLogLog++ approximate distinct
    count (``approx_count_distinct``, relative error ``rsd``).

    This is the 100 TB first pass that decides whether the exact salted
    dedup (``uniqueness_violations``) is worth running at all: a column
    whose approximate distinct count ~= its row count cannot hold many
    duplicates, and the sketch costs one scan with a constant-size
    state per column — no shuffle of the keys.

    ``with_exact`` additionally computes exact distinct counts and an
    ``approx_ok`` flag (estimate within 3*rsd of exact) — used by the
    CORRECTNESS oracle to gate the sketch's quality against a DuckDB
    exact twin; switch it off at scale where exact distinct is the very
    cost being avoided."""
    aggs = []
    for i, c in enumerate(cols):
        # positional internal aliases: embedding the user column name
        # would re-introduce dot-parsing on the reference below
        aggs.append(F.count(qcol(c)).alias(f"_n_{i}"))
        aggs.append(F.approx_count_distinct(qcol(c), rsd)
                    .alias(f"_ad_{i}"))
        if with_exact:
            aggs.append(F.countDistinct(qcol(c)).alias(f"_ed_{i}"))
    row = df.agg(*aggs)
    fields = []
    for i, c in enumerate(cols):
        f = [F.lit(c).alias("column"),
             F.col(f"_n_{i}").alias("n_rows"),
             F.col(f"_ad_{i}").alias("approx_distinct")]
        if with_exact:
            f.append(F.col(f"_ed_{i}").alias("n_distinct"))
            f.append((F.abs(F.col(f"_ad_{i}") - F.col(f"_ed_{i}"))
                      <= 3 * rsd * F.col(f"_ed_{i}")).alias("approx_ok"))
        fields.append(F.struct(*f))
    return (row.select(F.explode(F.array(*fields)).alias("_s"))
               .select("_s.*"))


def quantile_screen(df: DataFrame, col: str,
                    group_cols: list[str] | None = None,
                    ps: tuple[float, ...] = (0.5, 0.9, 0.99),
                    accuracy: int = 1000,
                    with_exact: bool = True) -> DataFrame:
    """Numeric-column percentile profile via the mergeable
    Greenwald-Khanna sketch (``percentile_approx``): one scan, bounded
    per-group state, partial-aggregated map-side — the 100 TB path for
    length/latency profiling where an exact percentile would sort the
    column.

    ``with_exact`` adds exact percentiles (the reported ``p<N>`` values,
    type-7 linear interpolation — what DuckDB's ``quantile_cont``
    recomputes) and a per-percentile ``p<N>_ok`` gate asserting the
    sketch landed within its RANK-error bound: the approximate value
    must lie between the DISCRETE quantiles at ``p ± delta``, where
    ``delta`` covers the sketch's guaranteed rank error (~1/accuracy)
    with slack.  The bounds are discrete (``approx_percentile`` at
    exact accuracy — same value convention as the sketch, actual data
    elements), NOT interpolated: a sketch always returns a real data
    value, which for small groups can sit outside the narrow
    interpolated band even when its rank is exactly right.  The gate is
    rank-based, not value-based, so it is distribution-independent.
    Switch ``with_exact`` off at scale — the exact side is the very
    sort being avoided."""
    delta = max(0.02, 10.0 / accuracy)
    gb = df.groupBy(*[qcol(g).alias(g) for g in group_cols]) \
        if group_cols else df.groupBy()
    qc = qname(col)
    p_list = ", ".join(f"{p}d" for p in ps)
    aggs = [F.count(qcol(col)).alias("n_rows"),
            F.expr(f"approx_percentile({qc}, array({p_list}), {accuracy})")
             .alias("_ap")]
    if with_exact:
        exact_ps = ", ".join(f"{p}d" for p in ps)
        aggs.append(F.expr(f"percentile({qc}, array({exact_ps}))")
                     .alias("_ex"))
        lo = [max(p - delta, 0.0) for p in ps]
        hi = [min(p + delta, 1.0) for p in ps]
        bound_ps = ", ".join(f"{p}d" for p in [*lo, *hi])
        aggs.append(F.expr(f"approx_percentile({qc}, array({bound_ps}), "
                           f"{10_000_000})").alias("_bd"))
    out = gb.agg(*aggs)
    cols = ([qcol(g) for g in group_cols] if group_cols else []) \
        + [F.col("n_rows")]
    k = len(ps)
    for i, p in enumerate(ps):
        name = f"p{int(round(p * 100))}"
        if with_exact:
            cols.append(F.round(F.element_at("_ex", i + 1), 6).alias(name))
            ap = F.element_at("_ap", i + 1).cast("double")
            blo = F.element_at("_bd", i + 1).cast("double")
            bhi = F.element_at("_bd", k + i + 1).cast("double")
            cols.append(((ap >= blo) & (ap <= bhi)).alias(f"{name}_ok"))
        else:
            cols.append(F.element_at("_ap", i + 1).alias(name))
    return out.select(*cols)

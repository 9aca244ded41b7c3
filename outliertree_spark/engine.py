"""SparkOutlierTree: the PySpark-facing validation engine.

Architecture (SURVEY.md section 7): the conditioning-tree fit runs once on
a bounded deterministic sample collected to the driver (the reference is a
single-node in-memory fit; our fit sample is capped by
``config.max_fit_rows``; the per-target trees are fitted concurrently on a
driver thread pool, see ``operators.fit``), the fitted constraint structs
are broadcast as compact dicts, and the *validate* path scales out: a
flaggable-bounds pre-filter expressed as Catalyst predicates (pushed down
to the scan) plus one Arrow-vectorized ``mapInPandas`` pass for tree
routing.  No per-row Python anywhere: batches are NumPy masks end to
end.
"""

from __future__ import annotations

import json
import math
import os
import time

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

from .colref import qcol
from .config import ValidationConfig
from .model import attach_conditions, flaggable_values, model_from_json, model_to_json
from .operators.fit import fit_arrays
from .operators.predict import predict_batch
from .report import compile_renderer as render_compiled
from .schema import (
    build_model_schema,
    infer_kinds,
    pandas_to_fit_columns,
    pandas_to_predict_arrays,
)

VIOLATION_FIELDS = [
    T.StructField("suspicious_column", T.StringType()),
    T.StructField("suspicious_value", T.StringType()),
    T.StructField("suspicious_value_num", T.DoubleType()),
    T.StructField("group_statistics", T.StringType()),
    T.StructField("conditions", T.StringType()),
    T.StructField("tree_depth", T.LongType()),
    T.StructField("uses_NA_branch", T.BooleanType()),
    T.StructField("outlier_score", T.DoubleType()),
    T.StructField("explanation", T.StringType()),
]


def _group_statistics_dict(model: dict, cm: dict, cl: dict, value) -> dict:
    if cm["kind"] == "numeric":
        if value >= cl["upper_lim"]:
            return {"upper_thr": cl["display_lim_high"], "pct_below": cl["perc_below"],
                    "mean": cl["display_mean"], "sd": cl["display_sd"],
                    "n_obs": cl["cluster_size"]}
        return {"lower_thr": cl["display_lim_low"], "pct_above": cl["perc_above"],
                "mean": cl["display_mean"], "sd": cl["display_sd"],
                "n_obs": cl["cluster_size"]}
    levels = cm["levels"]
    code = levels.index(value) if value in levels else -1
    prior = cm["prior_prob"][code] if 0 <= code < len(cm["prior_prob"]) else 0.0
    if model["config"]["categ_outliers"] == "majority" and cl.get("categ_maj", -1) >= 0:
        return {"categ_maj": str(levels[cl["categ_maj"]]),
                "pct_common": cl["perc_in_subset"], "prior_prob": prior,
                "n_obs": cl["cluster_size"]}
    if cm.get("is_bool"):
        return {"pct_other": 1.0 - cl["perc_in_subset"], "prior_prob": prior,
                "n_obs": cl["cluster_size"]}
    common = [str(levels[i]) for i, s in enumerate(cl["subset_common"] or []) if s == 0]
    return {"categs_common": common, "pct_common": cl["perc_in_subset"],
            "pct_next_most_comm": cl["perc_next_most_comm"],
            "prior_prob": prior, "n_obs": cl["cluster_size"]}


def _violations_from_batch(model: dict, pdf: pd.DataFrame,
                           id_cols: list[str]) -> pd.DataFrame:
    """Build typed violation rows for one Arrow batch.

    Hot-path layout: per-row Python is limited to the flagged rows (bounded
    by the prefilter); all constant-per-cluster pieces (group statistics,
    conditions JSON, simplified explanation parts) are compiled once per
    (column, cluster) and cached on the model dict."""
    data = pandas_to_predict_arrays(pdf, model)
    res = predict_batch(model, data)
    rows = np.flatnonzero(res.score < 1.0)
    raw_cols = {c: pdf[c].to_numpy() for c in pdf.columns}
    return _render_violation_rows(model, data, raw_cols, rows,
                                  res.col, res.cluster, res.score,
                                  res.depth, res.nab, id_cols)


def _render_violation_rows(model: dict, data: dict, raw_cols: dict,
                           rows, col_arr, cluster_arr, score_arr,
                           depth_arr, nab_arr,
                           id_cols: list[str]) -> pd.DataFrame:
    """Render winner rows (from predict OR fit-time training winners)
    into the B8 violation schema with explanations."""
    out = {c: [] for c in id_cols}
    cols = {f.name: [] for f in VIOLATION_FIELDS}
    if len(rows) == 0:
        out.update(cols)
        return pd.DataFrame(out)

    cache = model.setdefault("_render_cache", {})

    for r in rows:
        ci, cli = int(col_arr[r]), int(cluster_arr[r])
        key = (ci, cli)
        ent = cache.get(key)
        if ent is None:
            cm = model["columns"][ci]
            cl = cm["clusters"][cli]
            ent = {
                "cm": cm, "cl": cl,
                "render": render_compiled(model, cm, cl),
                "conds_json": json.dumps(cl.get("conditions") or [],
                                         default=str),
                "gs": {},
            }
            cache[key] = ent
        cm, cl = ent["cm"], ent["cl"]
        name = cm["name"]
        if cm["kind"] == "numeric":
            enc_val = float(data[name][r])
            side = "hi" if enc_val >= cl["upper_lim"] else "lo"
            gs_json = ent["gs"].get(side)
            if gs_json is None:
                gs_json = json.dumps(
                    _group_statistics_dict(model, cm, cl, enc_val), default=str)
                ent["gs"][side] = gs_json
            if cm.get("is_ts"):
                disp = str(raw_cols[name][r])
                num_val = enc_val + cm["ts_min"]
            else:
                disp = repr(enc_val)
                num_val = enc_val
            value_for_render = enc_val
        else:
            lev_code = int(data[name][r])
            if 0 <= lev_code < len(cm["levels"]):
                value_for_render = cm["levels"][lev_code]
            else:
                value_for_render = raw_cols[name][r]
            gs_json = ent["gs"].get(lev_code)
            if gs_json is None:
                gs_json = json.dumps(
                    _group_statistics_dict(model, cm, cl, value_for_render),
                    default=str)
                ent["gs"][lev_code] = gs_json
            disp = str(value_for_render)
            num_val = None
        value_this = _LazyRow(raw_cols, int(r))
        row_label = raw_cols[id_cols[0]][r] if id_cols else int(r)
        try:
            expl = ent["render"](row_label, value_for_render, value_this)
        except Exception as e:  # formatting must never kill the job
            expl = f"<render error: {e}>"
        for c in id_cols:
            out[c].append(raw_cols[c][r])
        cols["suspicious_column"].append(name)
        cols["suspicious_value"].append(disp)
        cols["suspicious_value_num"].append(num_val)
        cols["group_statistics"].append(gs_json)
        cols["conditions"].append(ent["conds_json"])
        cols["tree_depth"].append(int(depth_arr[r]))
        cols["uses_NA_branch"].append(bool(nab_arr[r]))
        cols["outlier_score"].append(float(score_arr[r]))
        cols["explanation"].append(expl)
    out.update(cols)
    return pd.DataFrame(out)


_WORKER_MODELS: dict[str, dict] = {}


def _worker_model(bc) -> dict:
    """Parse the broadcast model JSON once per worker process (the parsed
    dict also accumulates the per-cluster render cache).  Keyed on the
    full JSON: refits with the same config and schema can agree on
    length, head and tail yet route rows differently.  A hit on the same
    broadcast costs an identity check (the string caches its hash)."""
    s = bc.value
    m = _WORKER_MODELS.get(s)
    if m is None:
        m = model_from_json(s)
        _WORKER_MODELS.clear()  # one model at a time per worker is typical
        _WORKER_MODELS[s] = m
    return m


class _LazyRow:
    """dict-like view of one row over column arrays (no copies)."""

    __slots__ = ("cols", "r")

    def __init__(self, cols, r):
        self.cols = cols
        self.r = r

    def get(self, name, default=None):
        arr = self.cols.get(name)
        return arr[self.r] if arr is not None else default


class SparkOutlierTree:
    """Explainable outlier / constraint validation engine on Spark.

    ``fit`` derives the constraints (conditioning trees + cluster bounds)
    from a deterministic sample; ``predict`` / ``validate`` apply them to
    arbitrarily large DataFrames.
    """

    def __init__(self, config: ValidationConfig | None = None):
        self.config = config or ValidationConfig()
        self.model_: dict | None = None

    # ------------------------------------------------------------------
    def fit(self, df: DataFrame, cols_ignore: list[str] | None = None,
            ordinal_cols: dict[str, list] | None = None,
            id_cols: list[str] | None = None,
            n_rows: int | None = None) -> "SparkOutlierTree":
        cfg = self.config
        ignore = set(cols_ignore or []) | set(id_cols or [])
        kinds = infer_kinds(df.dtypes, ordinal_cols, ignore)
        fit_names = [c for c, k in kinds.items() if k != "drop"]
        if not fit_names:
            raise ValueError("no usable columns to fit on")
        import warnings
        keep_ids = [c for c in (id_cols or []) if c in df.columns]
        sdf = df.select(*[qcol(c) for c in
                          dict.fromkeys(keep_ids + fit_names)])
        # Bounded fit sample, one action on the common path: probe with
        # limit(max_fit_rows + 1) — CollectLimit executes incrementally
        # (first partition, then 4x more per round), so when the input
        # fits the cap this single early-exit job IS the whole fit read
        # (the old shape always ran a separate count job first).  Only
        # when the probe overflows (input larger than the cap) does the
        # scale path run the count + seeded Bernoulli sample — and that
        # probe cost max_fit_rows+1 rows, not a scan.  A top-k-by-hash
        # one-pass sample was considered instead and rejected:
        # TakeOrderedAndProject merges per-partition top-k on the
        # driver, which is partitions x max_fit_rows rows at 100 TB.
        probe = sdf.limit(cfg.max_fit_rows + 1).toPandas()
        if len(probe) <= cfg.max_fit_rows:
            pdf = probe
        else:
            if n_rows is None:
                n_rows = sdf.count()  # zero-column scan: footer-driven
            frac = min(1.0, cfg.max_fit_rows / float(n_rows))
            pdf = sdf.sample(fraction=frac, seed=cfg.seed).toPandas()
        if len(pdf) < 20:  # reference _check_valid_data, __init__.py:450-475
            raise ValueError(f"fit sample has only {len(pdf)} rows (< 20)")
        cols = pandas_to_fit_columns(pdf, kinds, ordinal_cols)
        for c in cols:
            # P10 (reference check_more_two_values): near-constant numeric
            # columns are poor targets/predictors
            if c.kind == "numeric":
                vals = c.values[np.isfinite(c.values)]
                if np.unique(vals).shape[0] < 3:
                    warnings.warn(f"numeric column {c.name!r} has fewer than "
                                  "3 distinct values")
        model = fit_arrays(cols, cfg)
        model["schema"] = build_model_schema(cols)
        model["predictor_levels"] = {c.name: c.levels for c in cols
                                     if c.levels is not None}
        attach_conditions(model)
        self.model_ = model
        # keep the (bounded) fit sample on the driver so training-time
        # outliers can be rendered on demand (B2 `return_outliers`,
        # reference __init__.py:243-353) — not serialized with the model
        self._fit_pdf = pdf
        self._fit_data = {c.name: c.values for c in cols}
        self._fit_id_cols = [c for c in (id_cols or []) if c in pdf.columns]
        return self

    # ------------------------------------------------------------------
    def training_outliers(self) -> pd.DataFrame:
        """Violation rows for the FIT sample using the fit-time winners
        (reference ``fit(..., return_outliers=True)``, __init__.py:243-353
        and R ``extract.training.outliers``, R/outliertree.R:375-440).

        Note the documented semantics difference inherited from the
        reference: fit-time winner selection can differ from ``predict``
        on the same rows in rare ties (reference clusters.cpp:358-360
        calls the predict-side rule "more trustable"); this renders the
        fit-side winners, exactly like the reference's return_outliers."""
        assert self.model_ is not None, "call fit() first"
        assert getattr(self, "_fit_pdf", None) is not None, \
            "training sample unavailable (model was loaded, not fitted)"
        tr = self.model_["_train_rows"]
        rows = np.flatnonzero(np.asarray(tr["scores"]) < 1.0)
        raw_cols = {c: self._fit_pdf[c].to_numpy()
                    for c in self._fit_pdf.columns}
        return _render_violation_rows(
            self.model_, self._fit_data, raw_cols, rows,
            np.asarray(tr["col"]), np.asarray(tr["cluster"]),
            np.asarray(tr["scores"]), np.asarray(tr["depth"]),
            np.asarray(tr["nab"]), self._fit_id_cols)

    # ------------------------------------------------------------------
    def prefilter_expr(self, df: DataFrame):
        """Catalyst predicate selecting rows that could possibly be flagged.

        This is C8 (clusters.cpp:1073-1091) as a pushed-down scan filter:
        at 100 TB this is the difference between scanning everything into
        Python and letting parquet min/max pruning discard clean data."""
        assert self.model_ is not None
        terms = []
        df_cols = set(df.columns)
        for cm in self.model_["columns"]:
            name = cm["name"]
            if name not in df_cols:
                continue
            if cm["kind"] == "numeric":
                lo, hi = cm["min_outlier_any"], cm["max_outlier_any"]
                col = qcol(name)
                if cm.get("is_ts"):
                    col = F.unix_timestamp(qcol(name)).cast("double") - F.lit(cm["ts_min"])
                t = None
                if math.isfinite(lo):
                    t = col <= F.lit(lo)
                if math.isfinite(hi):
                    t = (col >= F.lit(hi)) if t is None else (t | (col >= F.lit(hi)))
                if t is not None:
                    terms.append(t)
            else:
                flaggable = [lev for lev, f in zip(cm["levels"], cm["cat_outlier_any"]) if f]
                if flaggable:
                    terms.append(qcol(name).isin(flaggable))
        if not terms:
            return F.lit(False)
        expr = terms[0]
        for t in terms[1:]:
            expr = expr | t
        return expr

    # ------------------------------------------------------------------
    def partition_prune_expr(self, ts_col: str, part_col: str):
        """Coarse predicate on a date partition column derived from the
        fitted timestamp flaggable bounds: on a table partitioned by
        date(ts), this prunes whole partitions at the source (Iceberg /
        hive-style), before even the row-level prefilter runs."""
        assert self.model_ is not None
        cm = next((c for c in self.model_["columns"]
                   if c["name"] == ts_col and c.get("is_ts")), None)
        if cm is None:
            return None
        lo, hi = cm["min_outlier_any"], cm["max_outlier_any"]
        terms = []
        if math.isfinite(lo):
            terms.append(qcol(part_col)
                         <= F.to_date(F.timestamp_seconds(F.lit(lo + cm["ts_min"]))))
        if math.isfinite(hi):
            terms.append(qcol(part_col)
                         >= F.to_date(F.timestamp_seconds(F.lit(hi + cm["ts_min"]))))
        if not terms:
            return None
        expr = terms[0]
        for t in terms[1:]:
            expr = expr | t
        return expr

    # ------------------------------------------------------------------
    def predict(self, df: DataFrame, id_cols: list[str] | None = None,
                prefilter: bool = True) -> DataFrame:
        """Violation rows for every flaggable row of ``df`` (B8 schema)."""
        assert self.model_ is not None, "call fit() first"
        model = self.model_
        id_cols = id_cols or []
        needed = list(dict.fromkeys(
            id_cols + [c for c in model["schema"] if c in df.columns]))
        sdf = df.select(*[qcol(c) for c in needed])
        if prefilter:
            sdf = sdf.filter(self.prefilter_expr(df))

        spark = df.sparkSession
        from .deploy import ensure_package_on_executors
        ensure_package_on_executors(spark)
        bc = spark.sparkContext.broadcast(model_to_json(model))
        id_fields = [df.schema[c] for c in id_cols]
        out_schema = T.StructType(id_fields + VIOLATION_FIELDS)

        def run(iterator):
            m = _worker_model(bc)
            for pdf in iterator:
                if len(pdf) == 0:
                    continue
                res = _violations_from_batch(m, pdf, id_cols)
                if len(res):
                    yield res

        return sdf.mapInPandas(run, schema=out_schema)

    # ------------------------------------------------------------------
    def score(self, df: DataFrame, id_cols: list[str] | None = None,
              prefilter: bool = True) -> DataFrame:
        """Pure-Catalyst flagging (no Python in the plan): one row per
        flagged input row with (suspicious_column, outlier_score,
        tree_depth, uses_NA_branch, cluster_id).  Same winners as
        ``predict`` (verified in tests); use ``predict`` when the full
        violation payload / explanations are needed.

        The cheap flaggable-bounds prefilter (pushed into the scan) runs
        first so the large per-cluster winner expression — too big for
        whole-stage codegen on non-trivial models — only evaluates on
        candidate rows.  Semantically exact: a row failing the prefilter
        fails every cluster's bound test."""
        assert self.model_ is not None, "call fit() first"
        from .plans.sql_predict import score_sql
        sdf = df.filter(self.prefilter_expr(df)) if prefilter else df
        return score_sql(self.model_, sdf, id_cols=id_cols)

    # ------------------------------------------------------------------
    def cluster_dimension(self, spark, min_decimals: int = 2) -> DataFrame:
        """One row per (column, cluster): limits + pre-rendered payloads
        (group-statistics JSON, conditions JSON, explanation templates).
        This is the broadcast dimension `predict_at_scale` joins against —
        violations carry only (cluster_id, value); all cluster-constant
        text lives here, once, instead of being re-rendered per row."""
        from .report import render_template
        assert self.model_ is not None
        rows = []
        for cm in self.model_["columns"]:
            for cl_id, cl in enumerate(cm["clusters"]):
                t = render_template(self.model_, cm, cl, min_decimals)
                rows.append((cm["name"], cl_id,
                             float(cl.get("lower_lim", float("-inf"))),
                             float(cl.get("upper_lim", float("inf"))),
                             t["expl_hi"], t["expl_lo"],
                             t["gs_hi"], t["gs_lo"], t["conds"],
                             t["cond_cols"]))
        schema = ("suspicious_column string, cluster_id int, "
                  "lower_lim double, upper_lim double, "
                  "expl_hi string, expl_lo string, gs_hi string, "
                  "gs_lo string, conditions string, "
                  "cond_cols array<string>")
        from .localrel import local_df
        return local_df(spark, rows, schema)

    def _display_expr(self, name: str, min_decimals: int = 2):
        """Formatted display string for a model column's value (JVM-side
        twin of the rich renderer's value formatting, at fixed
        min_decimals)."""
        info = self.model_["schema"][name]
        col = qcol(name)
        if info["kind"] == "timestamp":
            return F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss")
        if info["kind"] == "numeric":
            return F.format_string(f"%.{min_decimals}f", col.cast("double"))
        if info.get("is_bool"):
            return F.when(col.cast("boolean"), F.lit("True")) \
                    .otherwise(F.lit("False"))
        return col.cast("string")

    def predict_at_scale(self, df: DataFrame,
                         id_cols: list[str] | None = None,
                         prefilter: bool = True,
                         min_decimals: int = 2) -> DataFrame:
        """Violation rows with ZERO Python in the plan: `score()`'s
        pure-Catalyst winner selection + a broadcast join against
        `cluster_dimension()` + JVM-side template substitution for the
        explanation/statistics payloads.

        Same rows, scores and conditions as `predict` (equivalence-tested);
        the only difference is fixed ``min_decimals`` display precision
        where the Arrow path refines decimals per row (misc.cpp:640-669).

        When to use which: the winner expression is too large for
        whole-stage codegen on non-trivial models, so it evaluates
        interpreted per candidate.  On one 4-core host
        (``perfbench/baseline.json``, traced runs) its flagging plan
        ``score()`` takes 1.22 s against 2.32 s for ``predict`` into a
        ``noop`` sink on ``docs_sparse`` (0.7% prefilter survivors), but
        3.68 s against 2.73 s on ``conditional_dense`` (every row
        survives); this path adds a join and template substitution on
        top of ``score()``.  Choose it for its ARCHITECTURE, not speed:
        Structured Streaming micro-batches (no Python workers in the
        streaming plan), clusters where Python workers are
        unavailable/restricted, or executors under memory pressure from
        Arrow transfer buffers."""
        from .plans.sql_predict import score_sql
        assert self.model_ is not None, "call fit() first"
        model = self.model_
        id_cols = id_cols or []
        spark = df.sparkSession
        sdf = df.filter(self.prefilter_expr(df)) if prefilter else df
        keep = [c for c in model["schema"] if c in df.columns]
        s = score_sql(model, sdf, id_cols=id_cols, keep_cols=keep)
        dim = F.broadcast(self.cluster_dimension(spark, min_decimals)
                          .drop("cond_cols"))
        j = s.join(dim, ["suspicious_column", "cluster_id"], "left")

        # per-row pieces: encoded numeric value, display string, prior
        val_num = F.lit(None).cast("double")
        val_str = F.lit("")
        prior_pct = F.lit("")
        prior_raw = F.lit("")
        sc = F.col("suspicious_column")
        for cm in model["columns"]:
            name = cm["name"]
            if name not in df.columns:
                continue
            disp = self._display_expr(name, min_decimals)
            val_str = F.when(sc == name, disp).otherwise(val_str)
            if cm["kind"] == "numeric":
                enc = qcol(name).cast("double")
                if cm.get("is_ts"):
                    enc = F.unix_timestamp(qcol(name)).cast("double")
                val_num = F.when(sc == name, enc).otherwise(val_num)
            else:
                levels = cm.get("levels") or []
                priors = cm.get("prior_prob") or []
                for code, lev in enumerate(levels):
                    if code >= len(priors):
                        continue
                    m = (sc == name) & (disp == F.lit(str(lev)))
                    prior_pct = F.when(m, F.lit(f"{priors[code] * 100:.3f}")) \
                                 .otherwise(prior_pct)
                    prior_raw = F.when(m, F.lit(json.dumps(priors[code]))) \
                                 .otherwise(prior_raw)
        # hi/lo side for numeric targets (encoded value vs cluster limits)
        enc_for_side = val_num
        for cm in model["columns"]:
            if cm.get("is_ts") and cm["name"] in df.columns:
                enc_for_side = F.when(
                    sc == cm["name"],
                    F.unix_timestamp(qcol(cm["name"])).cast("double")
                    - F.lit(cm["ts_min"])).otherwise(enc_for_side)
        is_hi = enc_for_side >= F.col("upper_lim")
        expl = F.when(is_hi, F.col("expl_hi")).otherwise(F.col("expl_lo"))
        gs = F.when(is_hi, F.col("gs_hi")).otherwise(F.col("gs_lo"))

        row_label = (qcol(id_cols[0]).cast("string") if id_cols
                     else F.lit(""))
        expl = F.replace(expl, F.lit("{row}"), row_label)
        expl = F.replace(expl, F.lit("{value}"), val_str)
        expl = F.replace(expl, F.lit("{prior}"), prior_pct)
        gs = F.replace(gs, F.lit("{prior_raw}"), prior_raw)
        for name in keep:
            ph = F.lit("{val:%s}" % name)
            fmt = F.coalesce(self._display_expr(name, min_decimals),
                             F.lit("NA"))
            expl = F.replace(expl, ph, fmt)

        return j.select(
            *[qcol(c) for c in id_cols],
            F.col("suspicious_column"),
            val_str.alias("suspicious_value"),
            val_num.alias("suspicious_value_num"),
            gs.alias("group_statistics"),
            F.col("conditions"),
            F.col("tree_depth"),
            F.col("uses_NA_branch"),
            F.col("outlier_score"),
            expl.alias("explanation"))

    # ------------------------------------------------------------------
    def validate(self, df: DataFrame, partition_col: str,
                 id_cols: list[str] | None = None,
                 max_violation_rate: float | None = None) -> tuple[DataFrame, DataFrame]:
        """(violations, per-partition verdicts).

        Verdicts: one row per value of ``partition_col`` with row count,
        violation count, rate, and pass/fail — pure Catalyst aggregation."""
        rate = max_violation_rate if max_violation_rate is not None \
            else self.config.pct_outliers
        id_cols = list(dict.fromkeys([partition_col] + (id_cols or [])))
        viols = self.predict(df, id_cols=id_cols)
        totals = df.groupBy(qcol(partition_col)).agg(
            F.count(F.lit(1)).alias("n_rows"))
        vcnt = viols.groupBy(qcol(partition_col)).agg(
            F.count(F.lit(1)).alias("n_violations"))
        verdicts = (
            totals.join(vcnt, partition_col, "left")
            .withColumn("n_violations", F.coalesce("n_violations", F.lit(0)))
            .withColumn("violation_rate", F.col("n_violations") / F.col("n_rows"))
            .withColumn("passed", F.col("violation_rate") <= F.lit(rate))
        )
        return viols, verdicts

    # ------------------------------------------------------------------
    def flaggable_values(self) -> dict:
        assert self.model_ is not None
        return flaggable_values(self.model_)

    def save(self, path: str) -> None:
        assert self.model_ is not None
        with open(path, "w") as f:
            f.write(model_to_json(self.model_))

    @classmethod
    def load(cls, path: str) -> "SparkOutlierTree":
        with open(path) as f:
            model = model_from_json(f.read())
        eng = cls(ValidationConfig.from_dict(model["config"]))
        eng.model_ = model
        return eng


class CheckpointLedger:
    """Per-partition resume ledger: JSON-lines of verdict + stats + lineage.

    At 10^12 rows a validation run is restartable: completed partitions are
    recorded with their verdict and skipped on resume."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def _entries(self) -> list[dict]:
        """Parsed ledger lines.  A crash mid-append can tear the last
        line; it is skipped, so its partition reruns on resume.  A
        corrupt line anywhere else is damage, not a torn append, and
        raises."""
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            lines = [line for line in f if line.strip()]
        entries = []
        for i, line in enumerate(lines):
            try:
                entries.append(json.loads(line))
            except json.JSONDecodeError:
                if i < len(lines) - 1:
                    raise
        return entries

    def _append(self, entry: dict) -> None:
        with open(self.path, "ab+") as f:
            size = f.seek(0, os.SEEK_END)
            if size:
                f.seek(size - 1)
                if f.read(1) != b"\n":
                    # every whole entry ends in a newline: cut the torn
                    # tail of a crashed append (the reader skips it) so
                    # this entry starts a line of its own, and terminate
                    # a tail that does parse
                    f.seek(0)
                    data = f.read()
                    cut = data.rfind(b"\n") + 1
                    try:
                        json.loads(data[cut:])
                        f.write(b"\n")
                    except ValueError:
                        f.truncate(cut)
            f.write((json.dumps(entry, default=str) + "\n").encode())

    def done_partitions(self) -> set:
        # marker lines have no partition
        return {d["partition"] for d in self._entries() if "partition" in d}

    def record(self, partition, verdict: dict, lineage: dict | None = None) -> None:
        self._append({"partition": partition, "ts": time.time(),
                      "verdict": verdict, "lineage": lineage or {}})

    def record_marker(self, name: str, info: dict | None = None) -> None:
        """Record a non-partition completion marker (e.g. that the
        snapshot-delta check already wrote its violations), so repeated
        or resumed invocations can skip re-appending side outputs."""
        self._append({"marker": name, "ts": time.time(), "info": info or {}})

    def has_marker(self, name: str) -> bool:
        return any(d.get("marker") == name for d in self._entries())

    def filter_remaining(self, df: DataFrame, partition_col: str) -> DataFrame:
        done = self.done_partitions()
        if not done:
            return df
        return df.filter(~qcol(partition_col).isin(list(done)))

    def record_verdicts(self, verdicts: DataFrame, partition_col: str,
                        lineage: dict | None = None) -> list:
        """Collect ``verdicts`` once, record one line per partition, and
        return the collected rows, so a caller can summarize the run
        without executing the verdicts plan again."""
        rows = verdicts.collect()
        for row in rows:
            d = row.asDict()
            part = d.pop(partition_col)
            self.record(part, d, lineage)
        return rows

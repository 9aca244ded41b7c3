"""spark-submit entry point for a full validation run.

Usage (the north rule's launch shape):

    zip -r otspark.zip outliertree_spark
    spark-submit --py-files otspark.zip scripts/run_validate.py \
        --input /data/docs.parquet --partition-col source \
        --id-col doc_id --fit-sample 1000000 \
        --checkpoint /tmp/run1/ledger.jsonl \
        --violations-out /tmp/run1/violations.parquet \
        --model-out /tmp/run1/model.json [--resume]

Resumable: with --resume, partitions already recorded in the checkpoint
ledger are skipped; verdicts + lineage land in the ledger as JSON lines.
The lineage carries the fit stats (sample rows, fit seconds, model bytes,
cluster count), taken from the driver-side model.

One execution of the predict plan per run: the violations frame is
persisted as soon as it is built, the parquet append materializes the
cache, the verdicts collect aggregates the cached rows, and the printed
summary is counted on the driver from the rows the ledger recorded.  The
cache lives from the append until the verdicts are in the ledger and is
released in a ``finally``, also when the run fails; the release blocks
until the cached blocks are dropped.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from collections import Counter

# local-run fallback; under spark-submit the package arrives via --py-files
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _snapshot_check(spark, ledger, args, df_full) -> bool:
    """Cross-snapshot check (north rule): changed rows are violations in
    their current partition, silently-removed rows in their old one;
    additions are growth.  Shaped to the engine's violation schema so
    one parquet sink carries both check families.

    Idempotent across repeated/resumed invocations: completion is
    recorded as a ledger marker keyed by the previous-snapshot path, and
    the append is skipped when the marker is present — otherwise every
    rerun with --prev-snapshot would duplicate the full snapshot_delta
    row set in the output parquet.  Returns True iff the append ran."""
    if not args.prev_snapshot:
        return False
    marker = f"snapshot_delta::{args.prev_snapshot}"
    if ledger.has_marker(marker):
        print("snapshot check already recorded in ledger; skipping",
              file=sys.stderr)
        return False

    from pyspark.sql import functions as F

    from outliertree_spark.operators.checks import snapshot_diff
    prev = spark.read.parquet(args.prev_snapshot)
    key = args.snapshot_key or args.id_col
    if not key:
        raise SystemExit("--prev-snapshot requires --snapshot-key "
                         "or --id-col")
    idc = list(dict.fromkeys(
        [args.partition_col] + ([args.id_col] if args.id_col else [])))
    d = snapshot_diff(prev, df_full, [key])

    def _shape(src, ct):
        rows = src.join(d.filter(F.col("change_type") == ct),
                        [key], "inner")
        return rows.select(
            *idc,
            F.lit("snapshot_delta").alias("suspicious_column"),
            F.col("change_type").alias("suspicious_value"),
            F.lit(None).cast("double").alias("suspicious_value_num"),
            F.lit(None).cast("string").alias("group_statistics"),
            F.lit(None).cast("string").alias("conditions"),
            F.lit(None).cast("long").alias("tree_depth"),
            F.lit(None).cast("boolean").alias("uses_NA_branch"),
            F.lit(None).cast("double").alias("outlier_score"),
            F.concat(F.lit("row "), F.col("change_type"),
                     F.lit(" vs previous snapshot")).alias("explanation"))

    snap = _shape(df_full, "changed").unionByName(_shape(prev, "removed"))
    snap.write.mode("append").parquet(args.violations_out)
    ledger.record_marker(marker, {"violations_out": args.violations_out})
    return True


def _fit_stats(model: dict, seconds: float | None) -> dict:
    """Ledger lineage for the model a run validates with, read from the
    driver-side model (no Spark action).  ``seconds`` is the fit's wall
    time, None when the model was loaded; ``model_bytes`` is the size of
    the model file ``--model-out`` writes."""
    from outliertree_spark.model import model_to_json
    return {"sample_rows": model["nrows_fit"],
            "seconds": None if seconds is None else round(seconds, 3),
            "model_bytes": len(model_to_json(model).encode()),
            "clusters": sum(len(c["clusters"]) for c in model["columns"])}


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="parquet path or table")
    p.add_argument("--partition-col", required=True)
    p.add_argument("--id-col", default=None)
    p.add_argument("--ordinal-col", action="append", default=[],
                   help="name=lev1<lev2<lev3 ordinal declaration")
    p.add_argument("--cols-ignore", action="append", default=[])
    p.add_argument("--fit-sample", type=int, default=1_000_000)
    p.add_argument("--max-violation-rate", type=float, default=None)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--violations-out", required=True)
    p.add_argument("--model-out", default=None)
    p.add_argument("--model-in", default=None,
                   help="reuse an existing fitted model (skip fit)")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--prev-snapshot", default=None,
                   help="parquet path of the previous snapshot version; "
                        "rows changed or silently removed since it are "
                        "appended as snapshot_delta violations")
    p.add_argument("--snapshot-key", default=None,
                   help="key column for --prev-snapshot (default: --id-col)")
    p.add_argument("--quality-rules", action="store_true",
                   help="route the run through ValidationSuite with the "
                        "Gopher quality gate: failed rules become "
                        "violation rows (suspicious_column='quality', "
                        "failed rule list in suspicious_value) unified "
                        "with the derived tree violations, conformed to "
                        "the engine violation schema so the output dir "
                        "stays single-schema across runs and checks")
    p.add_argument("--quality-text-col", default="text")
    p.add_argument("--quality-repetition", action="store_true",
                   help="with --quality-rules: also apply the Gopher "
                        "repetition rule set (Arrow Counter sweep)")
    p.add_argument("--quality-min-stop-hits", type=int, default=2,
                   help="stopword-rule threshold (0 disables it for "
                        "non-English corpora)")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from outliertree_spark import CheckpointLedger, SparkOutlierTree, ValidationConfig
    from outliertree_spark.session import get_spark

    spark = get_spark(app="validate-run", master=args.master)
    df = (spark.table(args.input) if not args.input.endswith(".parquet")
          and "/" not in args.input else spark.read.parquet(args.input))

    ordinals = {}
    for spec in args.ordinal_col:
        name, levels = spec.split("=", 1)
        ordinals[name] = levels.split("<")

    ledger = CheckpointLedger(args.checkpoint)
    # the snapshot delta must see the FULL current table: under --resume
    # `df` is filtered to unfinished partitions, and diffing the filtered
    # frame would misread every row of a completed partition as removed
    df_full = df
    if args.resume:
        df = ledger.filter_remaining(df, args.partition_col)
        if df.limit(1).count() == 0:
            # partitions all done, but the snapshot check may still owe
            # its (idempotent, marker-guarded) violation append
            snap_ran = _snapshot_check(spark, ledger, args, df_full)
            print(json.dumps({"status": "nothing-to-do",
                              "done": len(ledger.done_partitions()),
                              "snapshot_check_ran": snap_ran}))
            return 0

    fit_s = None
    if args.model_in:
        eng = SparkOutlierTree.load(args.model_in)
    else:
        cfg = ValidationConfig(max_fit_rows=args.fit_sample)
        eng = SparkOutlierTree(cfg)
        t0 = time.time()
        eng.fit(df, cols_ignore=args.cols_ignore, ordinal_cols=ordinals or None,
                id_cols=[args.id_col] if args.id_col else None)
        fit_s = time.time() - t0
        print(f"fit: {fit_s:.1f}s", file=sys.stderr)
    if args.model_out:
        eng.save(args.model_out)
    fit_stats = _fit_stats(eng.model_, fit_s)

    t0 = time.time()
    if args.quality_rules:
        from outliertree_spark.suite import ValidationSuite
        suite = ValidationSuite(engine=eng)
        suite.add_quality_rules(
            id_col=args.id_col or "doc_id",
            text_col=args.quality_text_col,
            include_repetition=args.quality_repetition,
            min_stop_hits=args.quality_min_stop_hits)
        viols, verdicts = suite.run(
            df, partition_col=args.partition_col,
            id_cols=[args.id_col] if args.id_col else None,
            max_violation_rate=args.max_violation_rate)
        # cache the union itself, not the projection below: the verdicts
        # aggregate the union, so only its plan matches in the cache
        cached = viols.persist()
        # conform the suite's unified rows to the ENGINE violation
        # schema: violations_out is an append-mode parquet dir shared
        # with _snapshot_check rows and prior non-quality runs — two
        # schemas in one dir silently lose columns for any reader
        # without mergeSchema.  The check name + failed-rule list land
        # in suspicious_value/explanation.
        from pyspark.sql import functions as F
        idc = list(dict.fromkeys(
            [args.partition_col] + ([args.id_col] if args.id_col else [])))
        viols = viols.select(
            *idc, "suspicious_column",
            F.col("check_value").alias("suspicious_value"),
            F.lit(None).cast("double").alias("suspicious_value_num"),
            F.lit(None).cast("string").alias("group_statistics"),
            F.lit(None).cast("string").alias("conditions"),
            F.lit(None).cast("long").alias("tree_depth"),
            F.lit(None).cast("boolean").alias("uses_NA_branch"),
            "outlier_score",
            F.coalesce("explanation",
                       F.concat(F.lit("check ["), F.col("check"),
                                F.lit("] failed: "),
                                F.col("check_value"))).alias("explanation"))
    else:
        viols, verdicts = eng.validate(
            df, partition_col=args.partition_col,
            id_cols=[args.id_col] if args.id_col else None,
            max_violation_rate=args.max_violation_rate)
        cached = viols.persist()
    try:
        viols.write.mode("append").parquet(args.violations_out)

        _snapshot_check(spark, ledger, args, df_full)

        recorded = ledger.record_verdicts(
            verdicts, args.partition_col,
            lineage={"input": args.input,
                     "model": args.model_out or args.model_in,
                     "wall_sec": round(time.time() - t0, 2),
                     "fit": fit_stats})
    finally:
        # blocking: the cached blocks are gone before spark.stop(), so no
        # block removal runs on after this run returns
        cached.unpersist(blocking=True)
    print(json.dumps({"status": "ok",
                      "verdicts": Counter(str(r["passed"]) for r in recorded),
                      "wall_sec": round(time.time() - t0, 2)}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""spark-submit entry point for a full validation run.

Usage (the north rule's launch shape):

    zip -r otspark.zip outliertree_spark
    spark-submit --py-files otspark.zip scripts/run_validate.py \
        --input /data/docs.parquet --partition-col source \
        --id-col doc_id --fit-sample 1000000 \
        --checkpoint /tmp/run1/ledger.jsonl \
        --violations-out /tmp/run1/violations.parquet \
        --model-out /tmp/run1/model.json [--resume]

Every run validates through one ``ValidationSuite``: the derived tree
violations, plus the Gopher quality gate with --quality-rules.  With
--prev-snapshot the rows changed or removed since the previous snapshot
join them.  All of a run's rows, in the suite's row shape without its
``check`` column, go to --violations-out in one parquet append; then the
snapshot marker and the verdicts land in the ledger.  An argument error
(--prev-snapshot with no key) stops the run before any Spark work.

Resumable: with --resume, partitions already recorded in the checkpoint
ledger are skipped; verdicts + lineage land in the ledger as JSON lines.
The lineage carries the wall seconds of the session set-up and the fit
stats (sample rows, fit seconds, model bytes, cluster count), taken from
a driver timer and the driver-side model.

One execution of the predict plan per run: the suite's violations frame
is persisted as soon as it is built, the parquet append materializes the
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


def _snapshot_marker(args) -> str:
    return f"snapshot_delta::{args.prev_snapshot}"


def _snapshot_rows(spark, ledger, args, df_full):
    """Cross-snapshot check (north rule): rows changed since
    ``--prev-snapshot`` are violations in their current partition,
    silently removed rows in their old one; additions are growth.  The
    rows come from the suite's snapshot-delta check over the full
    current table, without its ``check`` column.

    None when there is no previous snapshot, or when the ledger's marker
    for it shows its rows already appended: a repeated or resumed run
    must not append the snapshot delta again."""
    if not args.prev_snapshot:
        return None
    if ledger.has_marker(_snapshot_marker(args)):
        print("snapshot check already recorded in ledger; skipping",
              file=sys.stderr)
        return None
    from outliertree_spark import ValidationSuite
    prev = spark.read.parquet(args.prev_snapshot)
    suite = ValidationSuite().add_snapshot_delta(
        prev, args.snapshot_key or args.id_col)
    return suite.check_violations(
        df_full, args.partition_col,
        [args.id_col] if args.id_col else None).drop("check")


def _append(ledger, args, rows, snap) -> None:
    """One parquet append of the run's ``rows`` and the snapshot rows
    ``snap`` (either may be None), then the snapshot marker.  One sink
    and one schema carry every check family."""
    if snap is not None:
        rows = snap if rows is None else rows.unionByName(snap)
    rows.write.mode("append").parquet(args.violations_out)
    if snap is not None:
        ledger.record_marker(_snapshot_marker(args),
                             {"violations_out": args.violations_out})


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
                   help="add the Gopher quality gate to the run's "
                        "suite: failed rules become violation rows "
                        "(suspicious_column='quality', failed rule list "
                        "in suspicious_value) next to the derived tree "
                        "violations, in the same row shape, so the "
                        "output dir stays single-schema across runs and "
                        "checks")
    p.add_argument("--quality-text-col", default="text")
    p.add_argument("--quality-repetition", action="store_true",
                   help="with --quality-rules: also apply the Gopher "
                        "repetition rule set (Arrow Counter sweep)")
    p.add_argument("--quality-min-stop-hits", type=int, default=2,
                   help="stopword-rule threshold (0 disables it for "
                        "non-English corpora)")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)
    if args.prev_snapshot and not (args.snapshot_key or args.id_col):
        p.error("--prev-snapshot requires --snapshot-key or --id-col")

    from outliertree_spark import (CheckpointLedger, SparkOutlierTree,
                                   ValidationConfig, ValidationSuite)
    from outliertree_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(app="validate-run", master=args.master)
    session_s = time.time() - t0
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
            snap = _snapshot_rows(spark, ledger, args, df_full)
            if snap is not None:
                _append(ledger, args, None, snap)
            print(json.dumps({"status": "nothing-to-do",
                              "done": len(ledger.done_partitions()),
                              "snapshot_check_ran": snap is not None}))
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
    suite = ValidationSuite(engine=eng)
    if args.quality_rules:
        suite.add_quality_rules(
            id_col=args.id_col or "doc_id",
            text_col=args.quality_text_col,
            include_repetition=args.quality_repetition,
            min_stop_hits=args.quality_min_stop_hits)
    viols, verdicts = suite.run(
        df, partition_col=args.partition_col,
        id_cols=[args.id_col] if args.id_col else None,
        max_violation_rate=args.max_violation_rate)
    # cache the suite's rows themselves, not the write's projection: the
    # verdicts aggregate them, so only their plan matches in the cache
    cached = viols.persist()
    try:
        _append(ledger, args, viols.drop("check"),
                _snapshot_rows(spark, ledger, args, df_full))
        recorded = ledger.record_verdicts(
            verdicts, args.partition_col,
            lineage={"input": args.input,
                     "model": args.model_out or args.model_in,
                     "wall_sec": round(time.time() - t0, 2),
                     "session_s": round(session_s, 3),
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

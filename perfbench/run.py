"""Same-host benchmark of the validate product path, ``scripts/run_validate.py``.

    python3 perfbench/run.py --workload docs_sparse --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout.  It generates the workload's inputs
from ``--seed`` (cached under ``.perfbench_work/``), then drives the
entry point's ``main(argv)`` in this process at ``local[<cpus>]``: one
client in a closed loop, each pass starting after the previous one ends.

``--trace 0`` measures the end-to-end metrics:

* one cold, spark-submit-shaped pass (fresh JVM, fit, validate, write,
  ledger) gives ``run_s``; the wall time of ``session.get_spark`` inside
  it is ``setup_s`` (JVM start plus the engine's JIT warm-up), that of
  ``SparkOutlierTree.fit`` is ``fit_s``, and the rest is
  ``first_validate_s``.  These two timers are the only wrappers installed.
* warm ``--model-in`` passes, each with fresh output and ledger paths,
  repeat for ``--seconds``; ``rows_per_s`` is input rows over their
  median wall time.
* ``peak_rss_mb`` is the median over passes of each pass's peak summed
  RSS of the JVM and its Python workers.
* ``fail_ratio`` (printed on the summary line) is failed over attempted
  passes, also given as the result's ``failed`` and ``attempted``.

``--trace 1`` is the separate traced run: spans around the layers'
public calls, the Spark event log of a warm pass, and per-layer probes
(``layers.py``); it prints the per-layer metrics.

Every pass is checked (``checks.py``); a pass that raises or fails its
check counts as failed.  The last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
ENTRY = os.path.join(ROOT, "scripts", "run_validate.py")
PACKAGE = os.path.join(ROOT, "outliertree_spark", "__init__.py")

sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import procs  # noqa: E402
from spans import Tracer, event_log_path, event_log_stats  # noqa: E402

MIN_WARM_PASSES = 2
DRIVER_MEM = "2g"  # fits a 15 GB host next to 4 Python workers
GOPHER_PROBE_ROWS = 10_000


@dataclass(frozen=True)
class Workload:
    kind: str                  # table shape built by gen.build
    rows: int
    tiny_rows: int
    fit_sample: int
    id_col: str
    partition_col: str
    partitions: int            # distinct partition values (ledger check)
    suite: bool = False        # --quality-rules --prev-snapshot


WORKLOADS = {
    # scan + prefilter + output dominate: ~0.7% prefilter survivors, the
    # text bytes pruned from the scan, fit small
    "docs_sparse": Workload("documents", 600_000, 20_000, 100_000,
                            "doc_id", "source", gen.N_SOURCES),
    # driver fit and Arrow -> NumPy routing of every row dominate: the
    # prefilter keeps every row, violations are few, scans are cheap
    "conditional_dense": Workload("conditional", 200_000, 20_000, 100_000,
                                  "id", "region", gen.N_REGIONS),
    # shuffle-heavy plan through the same main -> write -> ledger path:
    # snapshot full-outer join, Gopher features over the text, verdict
    # joins.  Not in BENCHMARK.json: 4 + 22 runs per workload must end
    # within 3420 s, and a third workload of 45 s runs does not fit;
    # docs_sparse's traced run probes its layers.
    "suite_checks": Workload("documents", 10_000, 4_000, 100_000,
                             "doc_id", "source", gen.N_SOURCES, suite=True),
}


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def configure(run_dir: str, cpus: int, event_log: bool) -> None:
    """Environment for the JVM this process will launch: every temporary,
    spill and log file stays under ``run_dir``."""
    tmp, local, conf, events = (os.path.join(run_dir, d)
                                for d in ("tmp", "local", "conf", "events"))
    for d in (tmp, local, conf, events):
        os.makedirs(d, exist_ok=True)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        # a pinned, pre-touched heap: with -Xmx alone G1 commits and
        # uncommits regions as it goes, and both the run times and the
        # resident memory swing with GC timing
        f.write(f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp} "
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData\n"
                "spark.ui.showConsoleProgress false\n"
                f"spark.eventLog.enabled {str(event_log).lower()}\n"
                f"spark.eventLog.dir file://{events}\n"
                "spark.eventLog.compress false\n"
                "spark.eventLog.rolling.enabled false\n")
    for k in ("SPARK_GRAFT_NO_WARMUP", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(k, None)
    os.environ.update(
        TMPDIR=tmp, SPARK_LOCAL_DIRS=local, SPARK_CONF_DIR=conf,
        # the launcher JVM that spark-submit starts before the driver
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_DRIVER_MEM=DRIVER_MEM, SPARK_GRAFT_CPUS=str(cpus),
        PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable,
        OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1", MKL_NUM_THREADS="1")
    tempfile.tempdir = tmp


def load_entry():
    spec = importlib.util.spec_from_file_location("run_validate", ENTRY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Runner:
    """Runs and checks passes of ``main(argv)`` for one workload."""

    def __init__(self, name: str, wl: Workload, manifest: dict, run_dir: str,
                 cpus: int, digest_key: str):
        self.name, self.wl, self.manifest = name, wl, manifest
        self.run_dir, self.cpus = run_dir, cpus
        self.digest_key = digest_key
        self.input = os.path.join(manifest["dir"], "input")
        self.rows = manifest["tables"]["input"]["rows"]
        self.model = os.path.join(run_dir, "model.json")
        self.entry = load_entry()
        self.book = checks.DigestBook(os.path.join(HERE, "digests.json"),
                                      os.path.join(WORK, "digests.json"))
        self.attempted = self.failed = 0
        self.outputs: dict[str, tuple[str, list]] = {}
        self.recall = 0.0

    def argv(self, out_dir: str, cold: bool) -> list[str]:
        wl = self.wl
        a = ["--input", self.input, "--partition-col", wl.partition_col,
             "--id-col", wl.id_col, "--fit-sample", str(wl.fit_sample),
             "--master", f"local[{self.cpus}]",
             "--checkpoint", os.path.join(out_dir, "ledger.jsonl"),
             "--violations-out", os.path.join(out_dir, "violations.parquet")]
        if wl.kind == "documents":
            a += ["--cols-ignore", "text", "--cols-ignore", "url"]
        if wl.suite:
            a += ["--quality-rules",
                  "--prev-snapshot", os.path.join(self.manifest["dir"], "previous")]
        a += ["--model-out" if cold else "--model-in", self.model]
        return a

    def run_pass(self, label: str, cold: bool) -> float | None:
        """Wall seconds of one checked pass, or None if it failed."""
        out_dir = os.path.join(self.run_dir, label)
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            with contextlib.redirect_stdout(sys.stderr):
                rc = self.entry.main(self.argv(out_dir, cold))
            wall = time.perf_counter() - t0
            if rc != 0:
                raise checks.CheckFailed(f"main returned {rc}")
            rows = checks.read_violations(
                os.path.join(out_dir, "violations.parquet"), self.wl.id_col)
            checks.check_ledger(os.path.join(out_dir, "ledger.jsonl"), rows,
                                self.wl.partitions)
            self.book.expect(self.digest_key, checks.digest(rows))
            self.recall = checks.recall(rows, self.manifest["planted"])
            if self.recall == 0.0:
                raise checks.CheckFailed("no planted outlier was flagged")
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None
        self.outputs[label] = (out_dir, rows)
        return wall


def end_to_end(runner: Runner, seconds: float) -> tuple[dict, float]:
    from outliertree_spark import SparkOutlierTree, session

    tracer = Tracer()
    tracer.install(session, "get_spark", "session.get_spark")
    tracer.install(SparkOutlierTree, "fit", "engine.fit")
    with procs.RssSampler() as rss:
        tracer.run_id = "cold"
        run_s = runner.run_pass("cold", cold=True)
        peaks = [rss.take_peak()]
        warm = []
        if run_s is not None:
            t0 = time.perf_counter()
            while (len(warm) < MIN_WARM_PASSES
                   or time.perf_counter() - t0 < seconds):
                tracer.run_id = f"warm{len(warm)}"
                wall = runner.run_pass(tracer.run_id, cold=False)
                peaks.append(rss.take_peak())
                if wall is None:
                    break
                warm.append(wall)
    tracer.uninstall()
    if run_s is None or not warm:
        return {}, 1.0
    setup_s = tracer.find("session.get_spark", "cold")[0]
    setup_s = setup_s["end"] - setup_s["start"]
    fit_s = tracer.total("engine.fit", "cold")
    print(f"warm passes: {' '.join(f'{w:.3f}' for w in warm)}", file=sys.stderr)
    return {
        "setup_s": setup_s,
        "fit_s": fit_s,
        "first_validate_s": run_s - setup_s - fit_s,
        "run_s": run_s,
        "rows_per_s": runner.rows / statistics.median(warm),
        "peak_rss_mb": statistics.median(peaks) / 2**20,
    }, runner.failed / runner.attempted


def traced(runner: Runner) -> dict:
    """Per-layer metrics: a traced cold pass and warm pass (spans plus
    the event log), an untraced warm pass for the overhead ratio, then
    the probes of ``layers.py`` in a warm session."""
    from pyspark import SparkContext
    from pyspark.sql.readwriter import DataFrameWriter
    from outliertree_spark import CheckpointLedger, SparkOutlierTree, engine, session

    t = Tracer()
    t.install(session, "get_spark", "session.get_spark",
              note=lambda a, s: {"app": s.sparkContext.applicationId})
    t.install(SparkOutlierTree, "fit", "engine.fit")
    t.install(engine, "pandas_to_fit_columns", "schema.pandas_to_fit_columns",
              note=lambda a, r: {"rows": len(a[0])})
    t.install(engine, "fit_arrays", "operators.fit.fit_arrays")
    t.install(DataFrameWriter, "parquet", "write.parquet")
    t.install(CheckpointLedger, "record_verdicts", "engine.ledger.record_verdicts")

    t.run_id = "cold"
    if runner.run_pass("cold", cold=True) is None:
        t.uninstall()
        return {}
    t.run_id = "warm-traced"
    traced_wall = runner.run_pass("warm-traced", cold=False)
    t.uninstall()
    jvm_props = SparkContext._jvm.java.lang.System
    jvm_props.setProperty("spark.eventLog.enabled", "false")
    plain_wall = runner.run_pass("warm-plain", cold=False)
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    t.write(os.path.join(WORK, "traces", f"{runner.name}.json"))
    if traced_wall is None or plain_wall is None:
        return {}

    def span(name, run):
        s = t.find(name, run)
        return s[0]["end"] - s[0]["start"] if s else 0.0

    fit = t.find("engine.fit", "cold")[0]
    enc = t.find("schema.pandas_to_fit_columns", "cold")[0]
    app = t.find("session.get_spark", "warm-traced")[0]["app"]
    ev = event_log_stats(event_log_path(os.path.join(runner.run_dir, "events"), app))
    with open(runner.model) as f:
        model_json = f.read()
    model = json.loads(model_json)
    out_dir, rows = runner.outputs["warm-traced"]
    model_cols = {c["name"] for c in model["columns"]}
    tree_viols = sum(1 for _, c in rows if c in model_cols)
    vdir = os.path.join(out_dir, "violations.parquet")
    out_bytes = sum(os.path.getsize(os.path.join(vdir, f))
                    for f in os.listdir(vdir) if f.endswith(".parquet"))

    wl = runner.wl
    id_cols = list(dict.fromkeys([wl.partition_col, wl.id_col]))
    spark = session.get_spark(master=f"local[{runner.cpus}]")
    try:
        df = spark.read.parquet(runner.input)
        eng = SparkOutlierTree.load(runner.model)
        scan_s, survivors, n = layers.prefilter(eng, df)
        replay = layers.worker_replay(eng, df, model_json, id_cols)
        noop_s = layers.predict_noop(eng, df, id_cols)
        score_s = layers.score_noop(eng, df, id_cols)
        build_s = diff_s = gopher_s = 0.0
        if "previous" in runner.manifest["tables"]:
            prev = spark.read.parquet(os.path.join(runner.manifest["dir"], "previous"))
            build_s = layers.suite_build(eng, df, prev, wl.id_col, wl.partition_col)
            diff_s = layers.snapshot_diff_noop(prev, df, wl.id_col)
            gopher_s = layers.gopher_noop(df.limit(GOPHER_PROBE_ROWS), "text")
    finally:
        spark.stop()
    print(f"replay: {replay}", file=sys.stderr)
    return {
        "session.get_spark_s": span("session.get_spark", "cold"),
        "engine.fit.sample_s": enc["start"] - fit["start"],
        "schema.fit_encode_s": span("schema.pandas_to_fit_columns", "cold"),
        "operators.fit.fit_arrays_s": span("operators.fit.fit_arrays", "cold"),
        "engine.fit.sample_rows": enc["rows"],
        "model.clusters": sum(len(c["clusters"]) for c in model["columns"]),
        "model.json_bytes": len(model_json.encode()),
        "engine.prefilter.scan_s": scan_s,
        "engine.prefilter.survivor_ratio": survivors / n,
        "engine.prefilter.precision": tree_viols / survivors if survivors else 0.0,
        "schema.predict_encode_us_per_row": replay["encode_us_per_row"],
        "operators.predict.route_us_per_row": replay["route_us_per_row"],
        "report.render_us_per_violation": replay["render_us_per_violation"],
        "engine.predict.noop_s": noop_s,
        "spark.jobs_per_pass": ev["jobs"],
        "spark.predict_executions_per_pass": ev["predict_executions"],
        "spark.tasks_per_pass": ev["tasks"],
        "spark.executor_run_s": ev["executor_run_s"],
        "spark.shuffle_write_mb": ev["shuffle_write_mb"],
        "spark.spill_mb": ev["spill_mb"],
        "write.violations_s": t.total("write.parquet", "warm-traced"),
        "write.bytes_per_violation": out_bytes / len(rows) if rows else 0.0,
        "engine.ledger.record_verdicts_s":
            span("engine.ledger.record_verdicts", "warm-traced"),
        "suite.run_build_s": build_s,
        "operators.checks.snapshot_diff_s": diff_s,
        "operators.gopher.features_s": gopher_s,
        "plans.sql_predict.score_s": score_s,
        "trace.overhead_ratio": traced_wall / plain_wall,
        "check.planted_recall": runner.recall,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="smoke size: a few thousand rows per table")
    args = p.parse_args(argv)

    missing = [f for f in (ENTRY, PACKAGE) if not os.path.exists(f)]
    if missing:
        print(f"program not found: {', '.join(missing)}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    wl = WORKLOADS[args.workload]
    rows = wl.tiny_rows if args.tiny else wl.rows
    cpus = cpu_count()
    manifest = gen.build(os.path.join(WORK, "cache"), args.workload, wl.kind,
                         args.seed, rows, files=2 * cpus)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    configure(run_dir, cpus, event_log=bool(args.trace))
    key = f"{manifest['key']}/fit={wl.fit_sample}/local[{cpus}]"
    runner = Runner(args.workload, wl, manifest, run_dir, cpus, key)
    try:
        if args.trace:
            values, fail_ratio = traced(runner), None
        else:
            values, fail_ratio = end_to_end(runner, args.seconds)
    finally:
        procs.stop_spark_gateway()
        shutil.rmtree(run_dir, ignore_errors=True)

    correct = runner.failed == 0 and bool(values)
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}
    summary = " ".join(f"{k}={v['value']:.6g}{v['unit']}" for k, v in metrics.items())
    if fail_ratio is not None:
        summary += f" fail_ratio={fail_ratio:.6g}ratio"
    print(f"{args.workload} seed={args.seed} rows={rows} local[{cpus}] {summary}")
    print(json.dumps({"correct": correct, "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

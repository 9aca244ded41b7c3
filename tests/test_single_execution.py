"""One run of the spark-submit entry executes the Arrow predict plan once.

The violations append, the ledger's verdicts collect and the printed
summary all come from one ``MapInPandas`` execution: the run caches the
violations, and the summary is counted from the rows the ledger recorded.
The Spark event log of a real subprocess run is the witness.  Plan text
is not: a cached relation's plan still names ``MapInPandas`` although it
reads the cache, so an execution counts only if its own tasks sent data
to the Python workers.
"""

import json
import os
import re
import subprocess
import sys
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTRY = os.path.join(ROOT, "scripts", "run_validate.py")
SENT = "data sent to Python workers"

PROSE = ("the quick brown fox jumps over the lazy dog and then it decided "
         "that running was fine so it kept going across the wide green "
         "field with many other animals joining in while birds watched "
         "from tall trees and the sun moved slowly over the distant hills "
         "until evening came and all was quiet again")


@pytest.fixture(scope="module")
def docs(tmp_path_factory):
    rng = np.random.RandomState(11)
    n = 2000
    pdf = pd.DataFrame({
        "doc_id": np.arange(n),
        "text": [PROSE + f" end{i}" for i in range(n)],
        "bucket": np.arange(n) % 4,
        "value": rng.normal(100, 10, n),
    })
    pdf.loc[9, "value"] = 1e6          # a tree violation
    pdf.loc[6, "text"] = "way too short"  # a quality-rule violation
    path = tmp_path_factory.mktemp("docs") / "docs.parquet"
    pdf.to_parquet(path, index=False)
    return str(path)


def _run(tmp_path, src, extra):
    """Run the entry with an uncompressed, non-rolling event log; return
    its summary line, ledger entries, violation rows and event log."""
    conf, events = tmp_path / "conf", tmp_path / "events"
    conf.mkdir()
    events.mkdir()
    (conf / "spark-defaults.conf").write_text(
        "spark.eventLog.enabled true\n"
        f"spark.eventLog.dir file://{events}\n"
        "spark.eventLog.compress false\n"
        "spark.eventLog.rolling.enabled false\n")
    env = dict(os.environ, SPARK_CONF_DIR=str(conf),
               SPARK_GRAFT_NO_WARMUP="1")
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    ledger = tmp_path / "ledger.jsonl"
    vout = tmp_path / "violations.parquet"
    cmd = [sys.executable, ENTRY, "--input", src,
           "--partition-col", "bucket", "--id-col", "doc_id",
           "--cols-ignore", "text", "--checkpoint", str(ledger),
           "--violations-out", str(vout), "--master", "local[2]", *extra]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=420,
                       cwd=ROOT, env=env)
    assert r.returncode == 0, r.stderr[-2000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    entries = [json.loads(line) for line in ledger.read_text().splitlines()]
    rows = pq.read_table(str(vout)).to_pylist()
    (log,) = list(events.iterdir())
    return summary, entries, rows, str(log)


def python_executions(event_log: str) -> set:
    """Root SQL executions whose own tasks sent bytes to Python workers
    through a ``MapInPandas`` node: the node's accumulator ids come from
    ``sparkPlanInfo``, the task-end updates are summed per accumulator
    and attributed to an execution through their stage's job."""
    sent_ids, root_of, exec_of_stage = set(), {}, {}
    sent = Counter()

    def walk(node):
        if "MapInPandas" in node["nodeName"]:
            sent_ids.update(m["accumulatorId"] for m in node["metrics"]
                            if m["name"] == SENT)
        for child in node["children"]:
            walk(child)

    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind.endswith(("SQLExecutionStart",
                              "SQLAdaptiveExecutionUpdate")):
                walk(ev["sparkPlanInfo"])
                if "rootExecutionId" in ev:
                    root_of[ev["executionId"]] = ev["rootExecutionId"]
            elif kind == "SparkListenerJobStart":
                eid = (ev.get("Properties") or {}).get(
                    "spark.sql.execution.id")
                if eid is not None:
                    for stage in ev["Stage IDs"]:
                        exec_of_stage[stage] = int(eid)
            elif kind == "SparkListenerTaskEnd":
                eid = exec_of_stage.get(ev["Stage ID"])
                for acc in ev["Task Info"].get("Accumulables", []):
                    sent[eid, acc["ID"]] += int(acc.get("Update") or 0)
    return {root_of.get(eid, eid) for (eid, acc), n in sent.items()
            if eid is not None and acc in sent_ids and n > 0}


@pytest.mark.parametrize("extra", [[], ["--quality-rules"]],
                         ids=["validate", "quality_rules"])
def test_predict_plan_executes_once(docs, tmp_path, extra):
    summary, entries, rows, log = _run(tmp_path, docs, extra)
    assert summary["status"] == "ok"
    assert len(python_executions(log)) == 1

    verdicts = [e["verdict"] for e in entries if "partition" in e]
    assert len(verdicts) == 4
    assert summary["verdicts"] == dict(
        Counter(str(v["passed"]) for v in verdicts))
    assert sum(v["n_violations"] for v in verdicts) == len(rows)
    flagged = {(r["doc_id"], r["suspicious_column"]) for r in rows}
    assert (9, "value") in flagged
    if extra:
        assert (6, "quality") in flagged


def test_prev_snapshot_run_makes_one_append(docs, tmp_path):
    """A --prev-snapshot run writes its violations and its snapshot rows
    in one parquet append (every part file carries the one write job's
    UUID), records the snapshot marker before the verdicts, and still
    executes the predict plan once."""
    prev = str(tmp_path / "prev.parquet")
    pdf = pd.read_parquet(docs)
    pdf.loc[42, "value"] = 1.0
    pdf.to_parquet(prev, index=False)
    summary, entries, rows, log = _run(tmp_path, docs,
                                       ["--prev-snapshot", prev])
    assert summary["status"] == "ok"
    assert len(python_executions(log)) == 1

    parts = [f for f in os.listdir(tmp_path / "violations.parquet")
             if f.startswith("part-")]
    uuids = {re.fullmatch(r"part-\d+-(.+)-c\d+.*", f).group(1)
             for f in parts}
    assert len(uuids) == 1, parts
    flagged = {(r["doc_id"], r["suspicious_column"]) for r in rows}
    assert (9, "value") in flagged and (42, "snapshot_delta") in flagged
    assert ["marker" in e for e in entries] == [True] + [False] * 4


def test_ledger_lineage_carries_fit_stats(docs, tmp_path):
    fit_dir, load_dir = tmp_path / "fit", tmp_path / "load"
    fit_dir.mkdir()
    load_dir.mkdir()
    model_path = tmp_path / "model.json"
    _, entries, _, log = _run(fit_dir, docs, ["--model-out", str(model_path)])
    assert len(python_executions(log)) == 1
    model = json.loads(model_path.read_text())
    want = {"sample_rows": model["nrows_fit"],
            "model_bytes": model_path.stat().st_size,
            "clusters": sum(len(c["clusters"]) for c in model["columns"])}
    assert model["nrows_fit"] == 2000
    lineages = [e["lineage"] for e in entries if "partition" in e]
    assert len(lineages) == 4
    for lin in lineages:
        assert lin["session_s"] > 0
        f = lin["fit"]
        assert {k: f[k] for k in want} == want
        assert f["seconds"] > 0

    _, entries, _, _ = _run(load_dir, docs, ["--model-in", str(model_path)])
    fits = [e["lineage"]["fit"] for e in entries if "partition" in e]
    assert fits == [dict(want, seconds=None)] * 4

"""Spans around calls into the engine's layers, and the Spark event log.

Spans are recorded from the benchmark's side only: ``Tracer.install``
replaces a public function or method with a wrapper that records
(name, start, end, parent, run id) and restores the original on
``uninstall``.  The package itself carries no tracing code.
"""

from __future__ import annotations

import functools
import json
import os
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.run_id = ""
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def install(self, owner, attr: str, name: str, note=None) -> None:
        """Wrap the function or plain method ``owner.attr``;
        ``note(args, result)`` may return a dict of extra span fields."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            span = {"name": name, "run": tracer.run_id,
                    "parent": tracer._stack[-1] if tracer._stack else None}
            tracer._stack.append(len(tracer.spans))
            tracer.spans.append(span)
            span["start"] = time.perf_counter()
            try:
                result = orig(*args, **kwargs)
            finally:
                span["end"] = time.perf_counter()
                tracer._stack.pop()
            if note is not None:
                span.update(note(args, result))
            return result

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def find(self, name: str, run: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and (run is None or s["run"] == run)]

    def total(self, name: str, run: str | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self.find(name, run))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def event_log_stats(path: str) -> dict:
    """Jobs, tasks, executor run time, shuffle and spill bytes, and the
    number of SQL executions whose physical plan holds a ``MapInPandas``
    node, from one uncompressed, non-rolling Spark event log."""
    jobs = tasks = 0
    run_ms = shuffle = spill = 0
    predict_execs = set()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                jobs += 1
            elif kind == "SparkListenerTaskEnd":
                tasks += 1
                m = ev.get("Task Metrics") or {}
                run_ms += m.get("Executor Run Time", 0)
                shuffle += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                spill += m.get("Disk Bytes Spilled", 0)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                # nested executions (a write command's inner query) share
                # their root's plan; count each root once
                root = ev.get("rootExecutionId", ev["executionId"])
                if "MapInPandas" in ev.get("physicalPlanDescription", ""):
                    predict_execs.add(root)
    return {"jobs": jobs, "tasks": tasks, "executor_run_s": run_ms / 1000.0,
            "shuffle_write_mb": shuffle / 2**20, "spill_mb": spill / 2**20,
            "predict_executions": len(predict_execs)}


def event_log_path(log_dir: str, app_id: str) -> str:
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return path

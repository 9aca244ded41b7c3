"""Per-layer probes of the traced run, driven from a warm session.

Each probe times one public entry point of a layer in isolation:
the Catalyst prefilter scan, the Arrow predict plan into a ``noop`` sink,
its pure-Catalyst twin ``score()``, the suite's plan build, snapshot diff
and Gopher features, and a driver-side replay of the Python worker's
batch loop.
"""

from __future__ import annotations

import time

ARROW_BATCH = 10_000       # spark.sql.execution.arrow.maxRecordsPerBatch default
REPLAY_ROWS = 50_000       # fixed survivor sample replayed on the driver


def _noop(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def prefilter(eng, df) -> tuple[float, int, int]:
    """(scan seconds, survivors, rows)."""
    rows = df.count()
    t = time.perf_counter()
    survivors = df.filter(eng.prefilter_expr(df)).count()
    return time.perf_counter() - t, survivors, rows


def predict_noop(eng, df, id_cols) -> float:
    return _noop(eng.predict(df, id_cols=id_cols))


def score_noop(eng, df, id_cols) -> float:
    return _noop(eng.score(df, id_cols=id_cols))


def snapshot_diff_noop(prev, df, key: str) -> float:
    from outliertree_spark.operators.checks import snapshot_diff
    return _noop(snapshot_diff(prev, df, [key]))


def suite_build(eng, df, prev, id_col: str, partition_col: str) -> float:
    """Driver plan-build time of a suite run with the quality rules and
    the snapshot delta (nothing executes)."""
    from outliertree_spark.suite import ValidationSuite
    suite = (ValidationSuite(engine=eng)
             .add_quality_rules(id_col=id_col, text_col="text")
             .add_snapshot_delta(prev, id_col))
    t = time.perf_counter()
    suite.run(df, partition_col=partition_col, id_cols=[id_col])
    return time.perf_counter() - t


def gopher_noop(df, text_col: str) -> float:
    from outliertree_spark.operators.gopher import gopher_features
    return _noop(gopher_features(df, text_col, prefix="_gq_"))


def worker_replay(eng, df, model_json: str, id_cols) -> dict:
    """Replay the predict worker's per-batch work on the driver over a
    fixed sample of prefilter survivors: Arrow batches of the default
    size, one parsed model shared by all batches as in a worker.  Render
    time is the whole batch minus its encode and route parts."""
    from outliertree_spark.engine import _violations_from_batch
    from outliertree_spark.model import model_from_json
    from outliertree_spark.operators.predict import predict_batch
    from outliertree_spark.schema import pandas_to_predict_arrays

    model = model_from_json(model_json)
    needed = list(dict.fromkeys(
        id_cols + [c for c in model["schema"] if c in df.columns]))
    pdf = (df.select(*needed).filter(eng.prefilter_expr(df))
             .limit(REPLAY_ROWS).toPandas())
    enc = route = whole = 0.0
    n_viol = 0
    for lo in range(0, len(pdf), ARROW_BATCH):
        batch = pdf.iloc[lo:lo + ARROW_BATCH].reset_index(drop=True)
        t0 = time.perf_counter()
        data = pandas_to_predict_arrays(batch, model)
        t1 = time.perf_counter()
        predict_batch(model, data)
        t2 = time.perf_counter()
        n_viol += len(_violations_from_batch(model, batch, id_cols))
        t3 = time.perf_counter()
        enc += t1 - t0
        route += t2 - t1
        whole += t3 - t2
    rows = max(len(pdf), 1)
    return {"rows": len(pdf), "violations": n_viol,
            "encode_us_per_row": enc / rows * 1e6,
            "route_us_per_row": route / rows * 1e6,
            "render_us_per_violation":
                max(whole - enc - route, 0.0) / n_viol * 1e6 if n_viol else 0.0}

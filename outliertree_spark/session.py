"""SparkSession builder with the settings this engine assumes."""

from __future__ import annotations

import logging
import os
import re
import select
import shutil
import struct
import tempfile

from pyspark import accumulators
from pyspark.serializers import read_int
from pyspark.sql import SparkSession

from . import deploy

log = logging.getLogger(__name__)

# set by the first warm-up in this process: JIT and class-loading state
# is JVM-wide, and the py4j-launched JVM outlives its SparkContexts
_WARMED = False
_WARM_ROWS = 4096


def _warm_engine(spark: SparkSession) -> None:
    """Warm the JVM code paths a validate run executes, once per process,
    on synthetic data.

    A fresh JVM pays for the first use of each code path: class loading,
    then interpreted code until HotSpot's tiered JIT promotes it.  In
    short data-parallel jobs that cost is mostly class loading on first
    use (Lion et al., "Don't Get Caught in the Cold, Warm-up Your JVM",
    OSDI 2016), so the warm-up makes one small first use of each
    operator ``scripts/run_validate.py`` executes, on a few thousand
    generated rows: a parquet write and read, the fit's probe read (the
    Arrow ``limit(n).toPandas()`` that ``engine._fit_sample`` runs on an
    input within the cap, and first on an input with no Parquet files),
    the verdicts' filter plus hash aggregate collect, and a persist
    filled by a noop write and a blocking unpersist; plus an eager
    ``localCheckpoint``, the lineage cut the suite's dedup and text
    operators take.  The fit's read of a Parquet input over the cap, a
    count then a seeded ``sample().toPandas()``, has no step of its own:
    its aggregate and its Arrow collect are the ones warmed here.  It
    starts no Python worker, reads no input data, keeps no result, and
    writes only into a private temp directory that it removes.

    Class-loading and JIT state is JVM-wide and the py4j-launched JVM
    outlives its SparkContexts, so only the first session of a process
    warms up; a later context in the same process reuses the warm JVM.
    The text operators of the query suite are not warmed: their first
    queries pay their own first use.  Measured against a per-context
    warm-up that also ran a 150k-row text pipeline
    (``PERF_warm_once.json``, 4 cores, medians of 10 alternating pairs):
    a cold ``conditional_dense`` validate run 35.5 -> 27.3 s, its session
    set-up 25.3 -> 16.8 s.  In the query suite at sf0.01 the session
    set-up is 6-10 s shorter and ``quality_scores``, the first text
    query, executes in 1.6-1.8 s instead of 0.3 s on first use.

    Opt out with SPARK_GRAFT_NO_WARMUP=1 (e.g. latency-sensitive
    single-query scripts)."""
    global _WARMED
    if _WARMED or os.environ.get("SPARK_GRAFT_NO_WARMUP"):
        return
    _WARMED = True
    try:
        _warm_engine_inner(spark)
    except Exception:
        # best-effort: a warm-up failure (full temp dir, exotic master)
        # must never take down session creation — the engine is correct
        # without it, just cold
        log.warning("engine warm-up failed for %s; the session continues "
                    "without it", spark.sparkContext.applicationId,
                    exc_info=True)


def _warm_engine_inner(spark: SparkSession) -> None:
    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp(prefix="otspark_warm_")
    try:
        path = os.path.join(tmp, "warm.parquet")
        (spark.range(_WARM_ROWS)
              .select("id", (F.col("id") % 5).alias("k"),
                      (F.col("id") * 0.5).alias("x"),
                      F.col("id").cast("string").alias("s"))
              .write.parquet(path))
        df = spark.read.parquet(path)
        # the fit's probe read (an input within the cap, or one with no
        # Parquet files): an Arrow collect through CollectLimit
        df.limit(_WARM_ROWS // 2).toPandas()
        # the verdicts: filter, hash aggregate, collect
        (df.filter(F.col("x") > 100).groupBy("k")
           .agg(F.count(F.lit(1)).alias("n")).collect())
        # the violations cache: persist, fill it with a write, release it
        cached = df.persist()
        cached.write.format("noop").mode("overwrite").save()
        cached.unpersist(blocking=True)
        # the lineage cut of the dedup and text operators
        spark.range(64).localCheckpoint(eager=True).count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# how often an accumulator connection checks for the server's shutdown
_ACCUMULATOR_POLL_S = 0.05


class _PromptUpdateHandler(accumulators.UpdateRequestHandler):
    """PySpark's accumulator update handler
    (``pyspark.accumulators.UpdateRequestHandler.handle``, whose source
    ``tests/test_session.py`` pins), checking the server's shutdown flag
    every ``_ACCUMULATOR_POLL_S`` seconds instead of every second.

    After the first Python task the JVM keeps one connection open to the
    driver's accumulator server, and the server's one thread stays in
    ``handle`` until it sees the flag.  ``SparkContext.stop()`` sets the
    flag and waits for that thread, so with PySpark's 1 s ``select`` it
    waited 1 s minus the time since the last update: 0.86-0.95 s right
    after a Python job, 4-core host.  The wire protocol is PySpark's, byte
    for byte: the token, then per message an int count of pickled
    ``(aid, update)`` pairs, each added to the driver's accumulator, and
    a one-byte acknowledgement."""

    def handle(self) -> None:
        auth_token = self.server.auth_token

        def poll(func) -> None:
            while not self.server.server_shutdown:
                r, _, _ = select.select([self.rfile], [], [],
                                        _ACCUMULATOR_POLL_S)
                if self.rfile in r and func():
                    break

        def accum_updates() -> bool:
            for _ in range(read_int(self.rfile)):
                aid, update = accumulators.pickleSer._read_with_length(
                    self.rfile)
                accumulators._accumulatorRegistry[aid] += update
            self.wfile.write(struct.pack("!b", 1))
            return False

        def authenticate_and_accum_updates() -> bool:
            received = self.rfile.read(len(auth_token))
            if isinstance(received, bytes):
                received = received.decode("utf-8")
            if received != auth_token:
                raise ValueError("The value of the provided token to the "
                                 "AccumulatorServer is not correct.")
            accum_updates()
            return True

        # a Unix domain socket carries no token
        if auth_token is not None:
            poll(authenticate_and_accum_updates)
        poll(accum_updates)


def _launcher_conf():
    """The conf spark-submit started this driver's JVM with, or None for a
    plain interpreter, whose JVM ``getOrCreate`` starts from the builder's
    conf."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    from pyspark import SparkConf, SparkContext
    SparkContext._ensure_initialized()
    return SparkConf()


def _daemon_conf(master: str, conf: dict) -> dict:
    """Settings that start the Python workers from ``workerd``: only for a
    local master, whose workers run on this host where the daemon's
    directory is, and only when ``conf`` names no daemon of its own."""
    if (not re.fullmatch(r"local(\[.*\])?", master)
            or conf.get("spark.python.daemon.module")):
        return {}
    path = [deploy.worker_daemon()]
    if conf.get("spark.executorEnv.PYTHONPATH"):
        path.append(conf["spark.executorEnv.PYTHONPATH"])
    return {"spark.python.daemon.module": deploy.DAEMON_MODULE,
            "spark.executorEnv.PYTHONPATH": os.pathsep.join(path)}


def get_spark(app: str = "outliertree_spark", master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """A SparkSession with the settings this engine assumes, warmed once
    per process (``_warm_engine``).

    The master is ``master``, else the one spark-submit was given, else
    ``local[$SPARK_GRAFT_CPUS]``.  For a local master the Python workers
    start from ``workerd`` (``spark.python.daemon.module``, its directory
    on ``spark.executorEnv.PYTHONPATH``): it imports the interpreter's
    installed pyspark and py4j, with their cached bytecode, when each is
    the release of its zip under ``$SPARK_HOME/python/lib``, instead of
    compiling the zips in every SparkContext's daemon, and it leaves no
    archive without a module to be re-read at the start of every task.
    A daemon module set in ``extra_conf`` or by spark-submit is left
    alone.  To see which pyspark a worker runs, return
    ``pyspark.__file__`` from a ``mapInPandas`` function: a path inside
    ``pyspark.zip`` is the zip.

    The new context's accumulator server gets ``_PromptUpdateHandler``,
    so ``stop()`` after a Python job returns in about 0.1 s instead of
    waiting out PySpark's one-second poll; only that server instance
    changes, and a context that ``getOrCreate`` returns after a Python
    job keeps its open connection's handler."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    launched = _launcher_conf()
    conf = dict(launched.getAll()) if launched is not None else {}
    conf.update(extra_conf or {})
    master = master or conf.get("spark.master") or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    b = (
        SparkSession.builder.master(master).appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Disable PySpark's per-API-call origin capture (a Python stack
        # walk + a py4j round trip on EVERY DataFrame/Column call, used
        # only to decorate error messages with user line numbers).  On
        # query-build-heavy workloads this is pure driver overhead:
        # measured ~5-10% of warm plan-construction time and ~25% of a
        # cold heavy build (guide §1 "driver does no data work").
        # Re-enable per session via extra_conf when debugging.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**(extra_conf or {}), **_daemon_conf(master, conf)}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # the JVM connects on the first Python task's accumulator update, so
    # every connection of this context gets the prompt handler
    server = getattr(spark.sparkContext, "_accumulatorServer", None)
    if server is not None:
        server.RequestHandlerClass = _PromptUpdateHandler
    spark.sparkContext.setLogLevel("WARN")
    _warm_engine(spark)
    return spark

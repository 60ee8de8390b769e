"""SparkSession construction with scale-minded defaults.

Used by bench.py, the CLI, and tests. Driver-provided sessions (the
correctness harness) are instead *adjusted at runtime* via
:func:`ensure_session_conf`, which only touches runtime-settable confs.
Both kinds of session get their shuffle-partition count from one rule,
applied by :func:`ensure_session_conf`: a stock 200 becomes 2x the
session's cores, and an explicitly set value is kept.

Every session the engine owns (the CLI job's, bench.py's, the tools')
ends through :func:`stop_spark`. A plain ``SparkSession.stop`` sits
out the rest of PySpark's 1 s accumulator-server poll, about 0.9 s of
idling that a per-invocation CLI job would pay once per job.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

# the directory that holds the imported package, for the Python workers
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runtime-settable confs every query path relies on. Kept minimal:
# - UTC session TZ: the testdata timestamps are naive (parquet
#   isAdjustedToUTC=false); DuckDB treats them naively, so any
#   TIMESTAMP <-> TIMESTAMP_NTZ hop must happen at UTC.
# - nanosAsLong: events.parquet uses parquet TIMESTAMP(NANOS) which the
#   Spark reader rejects by default (PARQUET_TYPE_ILLEGAL); reading the
#   raw int64 keeps the scan vectorized and JVM-side.
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# Performance confs that are runtime-settable and safe at every scale,
# kept to those whose Spark default differs from the engine's value.
# AQE (runtime coalesce + skew-join split) is not forced: a stock Spark
# 4.1 session already has all three AQE flags on, so forcing them would
# only override a caller that turned AQE off on purpose, and an explicit
# value is respected here as it is for shuffle partitions below.
_PERF_CONF = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # UDTFs (text_fragments) evaluate via Arrow batches instead of
    # row-at-a-time pickle round-trips (BatchEvalPythonUDTF)
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
}


def ensure_session_conf(spark: SparkSession) -> SparkSession:
    """Idempotently apply runtime confs needed for correct reads, plus
    the Arrow transfer defaults. A shuffle-partition count left at
    Spark's stock 200 is right-sized to 2x the session's cores; an
    explicitly configured value is respected."""
    for k, v in {**_RUNTIME_CONF, **_PERF_CONF}.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            spark.conf.set(k, v)
    try:
        if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(2 * spark.sparkContext.defaultParallelism),
            )
    except Exception:
        pass
    return spark


def get_spark(
    app_name: str = "llm-batch-processor-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a local session tuned for this machine; cluster-safe defaults.

    Sets no shuffle-partition count: the closing :func:`ensure_session_conf`
    call sizes it (2x the session's cores; on a real cluster, leave AQE,
    on by Spark's default, to coalesce) and keeps a count a caller set,
    through ``extra_conf`` or on a live session this call reuses. The
    same call sets the Arrow transfer confs. The Python workers get the
    directory holding this package on their ``PYTHONPATH``, so a UDF
    that imports it also works when the driver runs from another
    directory. ``extra_conf`` is applied last and may override any of
    these, ``spark.master`` included.

    The builder defaults above apply only when no session is active:
    ``getOrCreate`` re-applies every runtime-settable builder option to
    the live session it returns, so a reuse applies just ``extra_conf``
    and a value the caller set (a broadcast threshold, a parquet codec)
    survives.
    """
    b = SparkSession.builder
    if SparkSession.getActiveSession() is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        b = (
            b.appName(app_name)
            .master(master or f"local[{cpus}]")
            .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
            .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
            .config("spark.ui.enabled", "false")
            .config("spark.sql.parquet.compression.codec", "zstd")
            .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    return ensure_session_conf(spark)


def stop_spark(spark: SparkSession) -> None:
    """Stop ``spark`` without waiting out PySpark's accumulator poll.

    The accumulator server's handler polls the JVM's socket with a 1 s
    ``select`` until the server is shut down, and its ``shutdown()``
    sits out the rest of that poll. Nothing is pending by then: the JVM
    waits for the handler's ack of every update before the job that
    sent it returns. So the server comes off the context before the
    stop and is shut down on a daemon thread afterwards. Its error hook
    is silenced first: a JVM that exits inside the poll window makes
    the handler hit EOF, and socketserver would print that traceback to
    stderr, the CLI's error channel.
    """
    sc = spark.sparkContext
    server = getattr(sc, "_accumulatorServer", None)
    sc._accumulatorServer = None
    if server is not None:
        server.handle_error = lambda request, client_address: None
    try:
        spark.stop()
    finally:
        if server is not None:
            threading.Thread(target=server.shutdown, daemon=True).start()

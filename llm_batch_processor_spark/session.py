"""SparkSession construction with scale-minded defaults.

Used by bench.py, the CLI, and tests. Driver-provided sessions (the
correctness harness) are instead *adjusted at runtime* via
:func:`ensure_session_conf`, which only touches runtime-settable confs.
Both kinds of session get their shuffle-partition count from one rule,
applied by :func:`ensure_session_conf`: a stock 200 becomes 2x the
session's cores, and an explicitly set value is kept.
"""

from __future__ import annotations

import os

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
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    b = (
        SparkSession.builder.appName(app_name)
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

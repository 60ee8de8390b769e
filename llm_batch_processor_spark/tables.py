"""Canonical loaders for the driver-generated testdata tables.

Every query builder goes through :func:`load` so type normalization
happens in exactly one place:

- ``events.ts`` has shipped as either parquet TIMESTAMP(NANOS) (r1
  testdata — Spark can't type it, so it scans as raw int64 nanos via
  ``spark.sql.legacy.parquet.nanosAsLong``) or TIMESTAMP(MICROS,
  isAdjustedToUTC=false) (r2 testdata — scans natively as
  TIMESTAMP_NTZ). We branch on the scanned type and normalize both to
  the same two columns: ``ts`` (TIMESTAMP_NTZ @ microseconds — exactly
  what DuckDB sees) and ``ts_ns`` (int64 epoch nanos, used for epoch
  math that must match the oracle bit-for-bit). The NTZ→epoch hop goes
  through ``unix_micros(CAST(ts AS TIMESTAMP))``, exact because the
  session TZ is pinned UTC (session.py).
- everything else maps 1:1 (timestamp_ntz / bigint / double / string /
  array<float>).

All derivation is built-in-expression only — the scan stays vectorized
and columnar, filters/pruning still push down to parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import ensure_session_conf

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with canonical column types."""
    ensure_session_conf(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes)["ts"]
        if ts_type.startswith("timestamp"):
            # TIMESTAMP(MICROS) parquet -> native TIMESTAMP_NTZ scan;
            # derive int64 epoch nanos (exact: micros * 1000, UTC
            # session). Micros are CLAMPED to int64_max DIV 1000 first:
            # sentinel timestamps real streams carry (9999-12-31
            # "never expires", 0001-01-01 parser defaults) sit outside
            # the int64-nanosecond range (1677-09-21..2262-04-11) and
            # the bare multiply would raise ARITHMETIC_OVERFLOW under
            # ANSI in EVERY events consumer (extreme-ts sweep, r5).
            # Out-of-range rows keep correct ts_ns ORDER vs in-range
            # rows (ties among themselves — downstream orderings
            # tie-break on event_id); `ts` itself keeps the true value.
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz")).withColumn(
                "ts_ns",
                F.expr(
                    "least(greatest(unix_micros(CAST(ts AS TIMESTAMP)),"
                    " -9223372036854775L), 9223372036854775L) * 1000L"
                ),
            )
        else:
            # TIMESTAMP(NANOS) parquet -> raw int64 nanos scan; derive
            # the microsecond-precision TIMESTAMP_NTZ DuckDB would see
            df = df.withColumnRenamed("ts", "ts_ns").withColumn(
                "ts",
                F.expr(
                    "CAST(timestamp_micros(CAST(ts_ns DIV 1000 AS LONG)) AS TIMESTAMP_NTZ)"
                ),
            )
        df = df.select(
            "event_id", "ts", "ts_ns", "user_id", "event_type", "value", "props"
        )
    return df


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> None:
    """Register all tables as temp views (for spark.sql-built queries)."""
    for n in TABLE_NAMES:
        load(spark, sf_dir, n).createOrReplaceTempView(prefix + n)

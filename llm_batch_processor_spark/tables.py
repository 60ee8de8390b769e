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

Parquet schema inference costs one Spark job plus a footer read per
read, so :func:`load` infers each table's schema once per process and
then reads with ``spark.read.schema(...)``, which fires no job. The
same memo entry records the key contracts the snapshot has passed:
``load(..., unique=("doc_id",))`` runs
:func:`~.operators.contracts.require_unique` (one key-column scan)
once per snapshot and raises :class:`~.operators.contracts.KeyContractError`
on every call over a violating one. The memo holds only the scanned
``StructType`` and the passed key tuples (never a DataFrame, so it is
independent of the session) and is keyed on the real path, each data
file's ``(inode, size, mtime_ns)`` and the session confs that change
how parquet types scan (``_SCHEMA_CONFS``). Rewriting a table at the
same path, or flipping one of those confs, therefore infers the schema
and checks the keys again. Paths ``os.stat`` cannot see (``s3a://``
and other remote URIs) are not memoized: they keep the plain inferring
read and check their keys on every call.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .operators.contracts import require_unique
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

# Session confs that change the schema parquet inference produces.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# (realpath, schema conf values) ->
#     (data file signature, StructType, key tuples that passed require_unique).
# One entry per path: a rewrite replaces the entry instead of adding one,
# dropping its passed keys with it. Each entry pairs a signature with the
# schema read and the keys checked after it, so loads racing a rewrite or
# another thread can at worst infer or check twice, never serve a schema
# or a pass to a snapshot it was not taken from.
_SCHEMAS: dict[tuple, tuple[tuple, StructType, frozenset]] = {}


def _file_signature(path: str) -> tuple | None:
    """``(relpath, inode, size, mtime_ns)`` of the file, or of every file
    under a directory dataset; None when ``os.stat`` cannot see it."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (("", st.st_ino, st.st_size, st.st_mtime_ns),)
        sig = []
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for f in sorted(files):
                full = os.path.join(root, f)
                fst = os.stat(full)
                sig.append((os.path.relpath(full, path), fst.st_ino, fst.st_size, fst.st_mtime_ns))
        return tuple(sig)
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str, unique: tuple[str, ...]) -> DataFrame:
    real = os.path.realpath(path)
    files = _file_signature(real)
    key = (real, tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS))
    hit = _SCHEMAS.get(key) if files is not None else None
    if hit is not None and hit[0] == files:
        _, schema, passed = hit
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        schema, passed = df.schema, frozenset()
    if unique and unique not in passed:
        require_unique(df, list(unique))  # raises: only a pass is recorded
        passed |= {unique}
    if files is not None:
        # the signature was taken BEFORE this read and check: a rewrite
        # racing them can only leave a stale signature, which the next
        # load re-infers and re-checks
        _SCHEMAS[key] = (files, schema, passed)
    return df


def load(
    spark: SparkSession, sf_dir: str, name: str, unique: tuple[str, ...] = ()
) -> DataFrame:
    """Load one testdata table with canonical column types; with
    ``unique``, first require those key columns to be unique (once per
    table snapshot)."""
    ensure_session_conf(spark)
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"), tuple(unique))
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


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register the named tables (default: all) as temp views, for
    spark.sql-built queries."""
    for n in names or TABLE_NAMES:
        load(spark, sf_dir, n).createOrReplaceTempView(n)

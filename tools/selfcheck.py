"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every query in ``__spark_entry__.queries()`` at a given sf dir and
compares it with ``oracle_sql()`` via DuckDB: row count, column names,
and an order-insensitive exact value comparison (strict superset of any
reasonable value-hash — if this passes, the driver's hash passes).

Usage:
    python tools/selfcheck.py [--sf /root/testdata/sf0.01] [--only name1,name2]
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import sys
import time
import traceback

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr round-trips doubles exactly
        return repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_df(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False, name=None):
        rows.append(tuple(canon_cell(v if not pd.isna(v) else None) if not isinstance(v, (list, tuple)) else str(v) for v in tup))
    rows.sort()
    return rows


# Above this row count the exact compare switches from sorted
# canon-row LISTS (Python tuples: ~10 GB and minutes of sort at 67M
# rows) to an order-insensitive multiset DIGEST over the SAME
# canonical cell strings — still an exact value comparison (any
# differing multiset of rows diverges in the 128-bit sum/xor pair
# with overwhelming probability), but memory-flat and linear. Needed
# since the r10 at-scale fuzz seed: key skew can make a correct
# join output genuinely quadratic (67.7M rows at fuzz-sf0.1), and
# grading must scale with the output it grades.
LARGE_COMPARE_ROWS = 2_000_000


def canon_digest(df: pd.DataFrame) -> tuple[int, int, int]:
    """(n_rows, sum64, xor64) over hashed canon rows — order-insensitive.

    Both frames are digested by the SAME code in the SAME process, so
    only within-process determinism is needed. Plain numeric dtypes
    hash raw (vectorized — no 67M-row string materialization); any
    dtype whose repr needs canonicalizing (object, decimal, lists)
    goes through the exact canon_cell strings of the small path. A
    dtype MISMATCH between the two sides (int64 vs float64 '3' vs
    '3.0') diverges here exactly as it does in the sorted-list path."""
    import numpy as np

    if len(df) == 0:
        return 0, 0, 0
    cols = sorted(df.columns)
    mixed = None
    for c in cols:
        s = df[c]
        if str(s.dtype) in ("int64", "int32", "float64", "float32", "bool"):
            col_h = pd.util.hash_pandas_object(s, index=False).to_numpy(
                dtype="uint64"
            )
        else:
            canon = s.map(
                lambda v: canon_cell(v if not pd.isna(v) else None)
                if not isinstance(v, (list, tuple))
                else str(v)
            )
            col_h = pd.util.hash_pandas_object(
                canon, index=False
            ).to_numpy(dtype="uint64")
        with np.errstate(over="ignore"):
            mixed = (
                col_h
                if mixed is None
                else mixed * np.uint64(0x9E3779B97F4A7C15) ^ col_h
            )
    with np.errstate(over="ignore"):
        h_sum = int(np.cumsum(mixed, dtype=np.uint64)[-1])
    h_xor = int(np.bitwise_xor.reduce(mixed))
    return len(df), h_sum, h_xor


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default="")
    ap.add_argument(
        "--skip",
        default="",
        help="comma-separated queries to EXCLUDE (oracle-feasibility "
        "escapes for long gates; skipped names are counted/printed so "
        "an exclusion can never masquerade as a pass)",
    )
    ap.add_argument(
        "--out",
        default="",
        help="write per-query results as JSON (same row shape as the "
        "driver's CORRECTNESS artifact, plus elapsed seconds)",
    )
    ap.add_argument(
        "--conf",
        action="append",
        default=[],
        metavar="K=V",
        help="extra Spark conf (repeatable), set when the session is "
        "built — the regime and stock rows of robustness_matrix.py, e.g. "
        "--conf spark.sql.autoBroadcastJoinThreshold=-1 "
        "--conf spark.sql.adaptive.enabled=false",
    )
    args = ap.parse_args()

    import __spark_entry__ as E
    from llm_batch_processor_spark.session import get_spark, stop_spark
    from llm_batch_processor_spark.tables import TABLE_NAMES

    for kv in args.conf:
        if "=" not in kv:
            ap.error(f"--conf expects K=V, got {kv!r}")
    extra = dict(kv.split("=", 1) for kv in args.conf)
    # A correct-but-skewed quadratic output can put >1g of Arrow
    # result in ONE task (r10 at-scale fuzz: 75k orders on one
    # custkey -> a 2.1 GiB task result at the default 1g cap). The
    # collect is harness-side grading, never engine semantics — give
    # it headroom. Must be a BUILD-time conf (TaskSetManager reads it
    # from SparkConf, not the runtime SQL conf).
    extra = {"spark.driver.maxResultSize": "8g", **extra}
    spark = get_spark(app_name="selfcheck", extra_conf=extra)

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    from llm_batch_processor_spark.operators.contracts import KeyContractError

    qs = E.queries()
    oracles = E.oracle_sql()
    only = {s for s in args.only.split(",") if s}
    skip = {s for s in args.skip.split(",") if s}

    n_pass = n_fail = n_rows_only = n_contract = 0
    n_skip = 0
    failures = []
    contracts = []
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name in skip:
            n_skip += 1
            print(f"SKIP  {name}: excluded via --skip")
            results[name] = {
                "rows_match": None, "schema_match": None,
                "hash_match": None, "spark_rows": None,
                "oracle_rows": None, "err": "skipped", "sec": 0.0,
            }
            continue
        t0 = time.time()
        # drop blocks the previous query leaked (persist/localCheckpoint
        # intermediates stay referenced by the returned DataFrame): the
        # same cross-query memory+GC tax bench.py fixed — a 272-query
        # shared session otherwise accumulates hundreds of stale blocks
        spark.catalog.clearCache()
        gc.collect()
        try:
            sdf = fn(spark, args.sf)
            spdf = sdf.toPandas()
        except KeyContractError as e:
            # the keyed-entity family fails TYPED on duplicate primary
            # keys (operators/contracts.py) — its own outcome class:
            # neither a pass nor a wrong answer, and only expected on
            # the dupkeys corpus (robustness_matrix enforces the set)
            n_contract += 1
            contracts.append(name)
            print(f"CONTRACT  {name}: {str(e)[:120]}")
            results[name] = {
                "rows_match": None, "schema_match": None,
                "hash_match": None, "spark_rows": None,
                "oracle_rows": None, "err": "key_contract",
                "sec": round(time.time() - t0, 2),
            }
            continue
        except Exception:
            print(f"FAIL  {name}: spark raised")
            traceback.print_exc()
            n_fail += 1
            failures.append(name)
            results[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None, "err": "spark_raised",
            }
            continue
        if name not in oracles:
            n_rows_only += 1
            print(f"rows  {name}: {len(spdf)} rows ({time.time()-t0:.1f}s)")
            results[name] = {
                "rows_match": None, "schema_match": None,
                "hash_match": None, "spark_rows": len(spdf),
                "oracle_rows": None, "err": "no_oracle",
                "sec": round(time.time() - t0, 2),
            }
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception:
            print(f"FAIL  {name}: oracle raised")
            traceback.print_exc()
            n_fail += 1
            failures.append(name)
            results[name] = {
                "rows_match": None, "schema_match": None,
                "hash_match": False, "spark_rows": len(spdf),
                "oracle_rows": None, "err": "oracle_raised",
            }
            continue
        ok = True
        msgs = []
        if sorted(spdf.columns) != sorted(odf.columns):
            ok = False
            msgs.append(f"columns differ: spark={sorted(spdf.columns)} oracle={sorted(odf.columns)}")
        if len(spdf) != len(odf):
            ok = False
            msgs.append(f"row count: spark={len(spdf)} oracle={len(odf)}")
        if ok and len(spdf) > LARGE_COMPARE_ROWS:
            da, db = canon_digest(spdf), canon_digest(odf)
            if da != db:
                ok = False
                msgs.append(
                    f"values differ (multiset digest): spark={da} oracle={db}"
                )
        elif ok:
            a, b = canon_df(spdf), canon_df(odf)
            if a != b:
                ok = False
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                msgs.append(f"values differ; first diffs: {diff}")
        if ok:
            n_pass += 1
            print(f"PASS  {name}: {len(spdf)} rows ({time.time()-t0:.1f}s)")
        else:
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: " + " | ".join(msgs))
        results[name] = {
            "rows_match": len(spdf) == len(odf),
            "schema_match": sorted(spdf.columns) == sorted(odf.columns),
            "hash_match": ok,
            "spark_rows": len(spdf),
            "oracle_rows": len(odf),
            "err": None if ok else "; ".join(msgs)[:300],
            "sec": round(time.time() - t0, 2),
        }

    print(
        f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only"
        + (f", {n_contract} contract" if n_contract else "")
        + (f", {n_skip} skipped" if n_skip else "")
    )
    if failures:
        print("failures:", ",".join(failures))
    if contracts:
        print("contracts:", ",".join(contracts))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)
            f.write("\n")
        print(f"wrote {args.out} ({len(results)} queries)")
    stop_spark(spark)
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())

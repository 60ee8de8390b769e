#!/usr/bin/env python3
"""Record the result fingerprints the analytics workloads check against.

    python3 perfbench/record.py

For every query of both groups in ``querysets.json`` it runs the query
on the seeded tables, compares the result with the query's DuckDB
``oracle_sql()`` (row count, columns and order-insensitive exact values,
as tools/selfcheck.py does), and writes [row count, digest] into the
group's ``fingerprints``. Queries without an oracle get a row count only.
Nothing is written if any query disagrees with its oracle. Re-run it
whenever the groups, the table generator or the data seed change.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = ROOT
    import duckdb

    from llm_batch_processor_spark.queries import all_queries
    from perfbench import analytics, harness
    from tools.selfcheck import canon_df

    sets = analytics.load_sets()
    qs = all_queries()
    spark = harness.new_session(f"local[{harness.NPROC}]")
    work = os.path.join(HERE, ".work")
    bad = []
    for group, spec in sets.items():
        sf_dir = analytics.make_tables(work, spec["sf"])
        con = duckdb.connect()
        for t in os.listdir(sf_dir):
            if t.endswith(".parquet"):
                con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{sf_dir}/{t}')")
        spec["fingerprints"] = {}
        for name in spec["queries"]:
            got = qs[name].fn(spark, sf_dir).toPandas()
            harness.drop_leaked_blocks(spark)
            if qs[name].oracle is not None:
                want = con.execute(qs[name].oracle).df()
                if sorted(got.columns) != sorted(want.columns) or canon_df(got) != canon_df(want):
                    bad.append(f"{group}/{name}")
                    print(f"MISMATCH {group}/{name}: {len(got)} rows vs oracle {len(want)}")
                    continue
            spec["fingerprints"][name] = analytics.fingerprint(got, qs[name].oracle is None)
            print(f"ok {group}/{name}: {spec['fingerprints'][name]}")
        con.close()
    spark.stop()
    if bad:
        print(f"{len(bad)} queries disagree with their oracle; nothing written")
        return 1
    with open(analytics.SETS_PATH, "w") as f:
        json.dump(sets, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

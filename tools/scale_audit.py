#!/usr/bin/env python
"""Per-query physical-plan audit -> SCALE_AUDIT.md.

"At 100 TB the plan IS the product": this tool reads every declared
query's formatted Catalyst plan and tabulates the properties that
decide whether it survives a 100x scale-up —

- shuffles (Exchange operators; each is a full network pass over data),
- broadcast joins vs broadcast HINTS (a hint on a growing table is a
  deferred OOM; `join_multiway` r1 finding),
- whole-stage-codegen span count (wider = more fused JVM work),
- Python evaluation mode: ArrowEvalPython / MapInPandas / FlatMapGroups
  (vectorized, acceptable) vs BatchEvalPython (row-at-a-time Python
  UDF — banned from this engine, enforced by tests/test_plans.py),
- nested-loop operators (allowed only for the documented exact kernels),
- single-partition windows (unpartitioned Window -> Exchange
  SinglePartition; allowed only over inputs BOUNDED by construction —
  enforced by the tests/test_plans.py allowlist),
- parquet pushed filters (predicate pushdown evidence).

Usage:
    python tools/scale_audit.py [--sf /root/testdata/sf0.001] [--out SCALE_AUDIT.md]
"""

from __future__ import annotations

import argparse
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default=os.path.join(REPO, "SCALE_AUDIT.md"))
    args = ap.parse_args()

    from llm_batch_processor_spark.plans import (
        broadcast_hint_count,
        broadcast_join_count,
        formatted_plan,
        pushed_filters,
        shuffle_count,
        single_partition_window_count,
        whole_stage_codegen_count,
    )
    from llm_batch_processor_spark.queries import all_queries
    from llm_batch_processor_spark.session import get_spark, stop_spark

    spark = get_spark(app_name="scale-audit")
    rows = []
    for name, qd in all_queries().items():
        df = qd.fn(spark, args.sf)
        plan = formatted_plan(df)

        def op(pat: str) -> int:
            return len(re.findall(rf"\(\d+\) {pat}\b", plan))

        rows.append(
            {
                "query": name,
                "shuffles": shuffle_count(df),
                "bcast_joins": broadcast_join_count(df),
                "bcast_hints": broadcast_hint_count(df),
                "codegen_spans": whole_stage_codegen_count(df),
                "arrow_py": op("ArrowEvalPython")
                + op("MapInPandas")
                + op("FlatMapGroupsInPandas")
                + op("FlatMapCoGroupsInPandas"),
                "row_py": op("BatchEvalPython"),
                "nested_loop": op("BroadcastNestedLoopJoin") + op("CartesianProduct"),
                "sp_windows": single_partition_window_count(df),
                "pushed": len(pushed_filters(df)),
            }
        )

    total_row_py = sum(r["row_py"] for r in rows)
    nl = [r["query"] for r in rows if r["nested_loop"]]
    spw = [r["query"] for r in rows if r["sp_windows"]]
    lines = [
        "# SCALE_AUDIT — per-query physical-plan posture",
        "",
        f"Generated by `python tools/scale_audit.py --sf {args.sf}` "
        "(plan shape is sf-independent except where AQE flips a join "
        "strategy at runtime; broadcast hints and Python eval modes are "
        "structural).",
        "",
        f"- queries audited: **{len(rows)}**",
        f"- row-at-a-time Python UDFs (`BatchEvalPython`): **{total_row_py}** "
        "(enforced zero by `tests/test_plans.py`)",
        f"- nested-loop/cartesian plans: {nl} "
        "(each a documented exact kernel, see `tests/test_plans.py` allowlist)",
        f"- single-partition-window plans: **{len(spw)}** "
        "(each window's input frame is BOUNDED by construction — 32-row "
        "bin offsets, day-grain/vocab-bounded rollups; pinned by the "
        "`tests/test_plans.py` allowlist so a data-proportional global "
        "window can never land silently)",
        "",
        "| query | shuffles | bcast joins | bcast hints | codegen spans | "
        "arrow-py ops | row-py ops | nested-loop | 1-part windows | pushed filters |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append(
            f"| {r['query']} | {r['shuffles']} | {r['bcast_joins']} | "
            f"{r['bcast_hints']} | {r['codegen_spans']} | {r['arrow_py']} | "
            f"{r['row_py']} | {r['nested_loop']} | {r['sp_windows']} | {r['pushed']} |"
        )
    lines.append("")
    with open(args.out, "w") as f:
        f.write("\n".join(lines))
    print(
        f"wrote {args.out}: {len(rows)} queries, row_py={total_row_py}, "
        f"nested_loop={nl}, sp_windows={spw}"
    )
    stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())

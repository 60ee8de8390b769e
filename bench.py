#!/usr/bin/env python
"""Benchmark harness: runs the declared query inventory at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Per-query time = full plan execution into the ``noop`` sink: every row
is produced and serialized by the executors but nothing is collected —
unlike ``count()``, Catalyst cannot prune the projection away, so scan
and projection queries are charged for the work they claim. Measured
after one warmup query to absorb JVM/codegen first-run cost.
``--explain name`` dumps a query's formatted physical plan instead
(the optimization feedback loop).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def gemm_gflops(n: int = 2000, repeat: int = 3) -> float:
    """Host-state microbench: best-of-N numpy f64 GEMM throughput.

    This VM's speed has swung ~100x across reboots (BASELINE.md "HOST
    ENVIRONMENT SHIFT" / "HOST RECOVERED" rows: 252 vs 2.5 GFLOPS), so
    every bench artifact self-documents the host moment it ran in —
    cross-round comparisons are meaningless without it (VERDICT r6
    item 3). ~0.2 s when healthy; bounded either way."""
    import numpy as np

    rng = np.random.default_rng(0)
    a = rng.random((n, n))
    b = rng.random((n, n))
    a @ b  # warm the BLAS thread pool outside the measurement
    best = None
    for _ in range(repeat):
        t0 = time.perf_counter()
        a @ b
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(2 * n**3 / best / 1e9, 1)


def spark_probe_sec(spark, repeat: int = 3) -> float:
    """JVM/shuffle-side host-state probe (VERDICT r7 item 4): best-of-N
    wall time of a FIXED tiny Spark job — a 64-partition shuffle
    rollup of a generated 2M-row range into 997 keys, written to the
    noop sink. The numpy GEMM microbench tracks CPU/BLAS throttle but
    NOT JVM/shuffle throttle (r7 saw 178 s vs 161 s full runs at
    identical GEMM), so bench artifacts carry BOTH probes: same-moment
    comparisons divide per-query times by the probe that matches the
    query's bottleneck. Healthy band: see BASELINE.md (r8 measured
    0.80-0.85 s per pass on the healthy host); bounded either way
    (fixed input, fixed partitioning, no data deps)."""
    from pyspark.sql import functions as F

    best = None
    for _ in range(repeat):
        t0 = time.perf_counter()
        (
            spark.range(0, 2_000_000, 1, 64)
            .select((F.col("id") % 997).alias("k"))
            .groupBy("k")
            .count()
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 4)


def run_context(spark, sf_dir: str) -> dict:
    """What the artifact ran on: the session's master, parallelism and
    shuffle partitions, the resolved sf directory and the checkout's git
    HEAD (None outside a git checkout)."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True, timeout=10
        )
        head = out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        head = None
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "spark.sql.shuffle.partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "sf_dir": os.path.realpath(sf_dir),
        "git_head": head,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=DEFAULT_SF_DIR)
    ap.add_argument("--only", default="", help="comma-separated query subset")
    ap.add_argument("--explain", default="", help="print formatted plan for one query")
    # per-query minimum over 2 passes by default: the measurement floor,
    # robust to background load on a shared machine
    ap.add_argument("--repeat", type=int, default=2)
    args = ap.parse_args()

    from llm_batch_processor_spark.queries import all_queries
    from llm_batch_processor_spark.session import get_spark, stop_spark

    spark = get_spark(app_name="bench")
    qs = all_queries()

    if args.explain:
        df = qs[args.explain].fn(spark, args.sf)
        df.explain("formatted")
        return 0

    only = {s for s in args.only.split(",") if s}
    names = [n for n in qs if not only or n in only]

    def run_full(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # warmup: absorb JVM startup + first-codegen cost outside the
    # measurement, and fork the Python/Arrow worker pool (otherwise the
    # first pandas_udf query is charged for ~32 interpreter startups)
    run_full(qs["agg_group"].fn(spark, args.sf))
    from pyspark.sql import functions as F

    warm = F.pandas_udf(lambda s: s, "long")
    run_full(spark.range(0, 10_000, 1, 32).select(warm("id").alias("x")))

    # Between executions, drop the blocks the previous execution leaked:
    # queries persist/localCheckpoint intermediates that stay referenced
    # by the returned DataFrame, so across 272 x repeat executions the
    # block manager accumulates hundreds of stale cached RDDs — memory +
    # GC tax charged to whichever query runs LATER. An interleaved
    # same-moment A/B over the full inventory measured 223.0 s stock vs
    # 173.8 s with per-execution cleanup (-22%), with the heavy dedup/
    # graph family inflated ~2x when run late in a stock full run.
    # clearCache unpersists cacheManager entries; the gc.collect() lets
    # the ContextCleaner reap localCheckpoint blocks, which clearCache
    # does not track. Production runs one query per job, so this leak is
    # purely a shared-session bench artifact; each execution still pays
    # for its OWN persist fills inside the timed window.
    import gc

    def drop_leaked_blocks() -> None:
        spark.catalog.clearCache()
        gc.collect()

    # Probes run BEFORE and AFTER the query loop (VERDICT r8 item 2):
    # the r8 driver artifact charged +18.5 s to ~10 queries that run
    # early in the session — post-only probes could not see the
    # early-session contention that caused it. With a pre/post pair,
    # a run whose first-minutes host moment differs from its last
    # self-adjudicates (pre >> post -> early contention; both high ->
    # the whole run was throttled).
    gflops_pre = gemm_gflops()
    probe_pre = spark_probe_sec(spark)

    per_query: dict[str, float] = {}
    per_execs: dict[str, list[float]] = {}
    for name in names:
        execs = []
        for _ in range(args.repeat):
            t0 = time.time()
            run_full(qs[name].fn(spark, args.sf))
            execs.append(round(time.time() - t0, 3))
            drop_leaked_blocks()
        # ALL execution times are recorded (BENCH_FULL.json "execs"):
        # a cold/contended first execution self-adjudicates when t2 is
        # at the usual level — the r8 dedup_clusters 13.6-vs-3.7 s
        # ambiguity needed exactly this
        per_execs[name] = execs
        per_query[name] = min(execs)

    # Mid-run throttle self-adjudication (r11, VERDICT r10 item 8): the
    # pre/post probe pair brackets the LOOP, but a throttle window in
    # the middle of it still poisons whichever queries it covered — the
    # r10 driver artifact read mmr_rerank at 31.9 s vs 0.7-2.4 s in
    # every other same-HEAD artifact, and PERF called that a
    # regression. After the main loop, the N slowest queries get ONE
    # more execution each and per-query time stays the min over ALL
    # recorded executions (the same min-over-execs methodology, one
    # more sample exactly where a throttle window does damage). Every
    # execution time is still recorded in "execs"; "retimed" names the
    # queries that got the extra pass.
    retimed = sorted(per_query, key=lambda n: -per_query[n])[:10]
    for name in retimed:
        t0 = time.time()
        run_full(qs[name].fn(spark, args.sf))
        per_execs[name].append(round(time.time() - t0, 3))
        drop_leaked_blocks()
        per_query[name] = min(per_execs[name])

    total = round(sum(per_query.values()), 3)
    sf_label = os.path.basename(os.path.normpath(args.sf))
    # measured AFTER the queries so the pre/post pair brackets the loop
    gflops = gemm_gflops()
    probe = spark_probe_sec(spark)

    # Contended-start flag (VERDICT r9 item 8): when the PRE probe is
    # >2x worse than the POST probe on either instrument (GEMM is
    # higher-is-better, the Spark probe lower-is-better), the first
    # minutes of the loop ran on a contended host and early-session
    # query times are inflated — the artifact says so itself instead
    # of leaving the adjudication to whoever diffs two runs.
    contended_start = bool(
        (gflops_pre > 0 and gflops / gflops_pre > 2.0)
        or (probe > 0 and probe_pre / probe > 2.0)
    )

    # The driver captures only a bounded TAIL of stdout and JSON-parses
    # it. Round 2's 130-query line overran that window ("parsed": null);
    # round 3's ~2800-char cap still failed at 272 queries — the r04
    # tail started MID-JSON, so line + preamble exceeded the window.
    # Fix for real: the printed line carries only total + the top-20
    # slowest queries (~1 KB), and it is emitted AFTER stop_spark() so
    # it is the last stdout line — tail capture cannot decapitate it.
    # Full per-query detail goes to BENCH_FULL.json (committed).
    # Subset runs (--only, e.g. the pytest bench-contract test) must
    # not clobber the committed full-inventory artifact.
    full_path = os.path.join(
        REPO, "BENCH_FULL.json" if not only else "BENCH_SUBSET.json"
    )
    with open(full_path, "w") as f:
        json.dump(
            {
                "metric": "full_inventory_wall_sec",
                "value": total,
                "unit": "sec",
                "queries": per_query,
                "execs": per_execs,
                "retimed": retimed,
                "sf": sf_label,
                "n_queries": len(per_query),
                "gemm_gflops": gflops,
                "spark_probe_sec": probe,
                "gemm_gflops_pre": gflops_pre,
                "spark_probe_sec_pre": probe_pre,
                "contended_start": contended_start,
                "context": run_context(spark, args.sf),
            },
            f,
        )
        f.write("\n")

    top20 = dict(sorted(per_query.items(), key=lambda kv: -kv[1])[:20])
    line = json.dumps(
        {
            "metric": "full_inventory_wall_sec",
            "value": total,
            "unit": "sec",
            "queries": top20,
            "queries_omitted": len(per_query) - len(top20),
            "queries_full": os.path.basename(full_path),
            "sf": sf_label,
            "n_queries": len(per_query),
            "gemm_gflops": gflops,
            "spark_probe_sec": probe,
            "gemm_gflops_pre": gflops_pre,
            "spark_probe_sec_pre": probe_pre,
            "contended_start": contended_start,
        },
        separators=(",", ":"),
    )
    stop_spark(spark)
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

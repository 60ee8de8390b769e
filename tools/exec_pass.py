#!/usr/bin/env python
"""Full-inventory EXECUTION pass at a synthetic scale (VERDICT r9 item 2).

Runs every registered query against a corpus dir (default the sf10
ladder corpus) and forces full plan execution with a noop sink — no
oracle, no result shipping; this is the "does every plan survive the
scale decade without OOM/crash, and what does the slow tail look like"
gate (r5 ran it at sf1 and found 2 latent crashers).

Each query runs inside its own job group with a watchdog that cancels
the group after ``--timeout`` seconds — a hung/super-linear query is
recorded as TIMEOUT and the pass continues. Results land in
``--out`` (default EXECPASS_<sfname>.json): per-query seconds +
status, slowest tail printed.

Usage:
    SPARK_DRIVER_MEMORY=64g python tools/exec_pass.py \
        --sf .scale_probe/sf10 --timeout 900
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.path.join(REPO, ".scale_probe", "sf10"))
    ap.add_argument("--timeout", type=int, default=900)
    ap.add_argument("--only", default="")
    ap.add_argument("--skip", default="")
    ap.add_argument("--out", default="")
    args = ap.parse_args()

    from llm_batch_processor_spark.queries import all_queries
    from llm_batch_processor_spark.session import get_spark, stop_spark

    sf_dir = os.path.abspath(args.sf)
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    out_path = args.out or os.path.join(REPO, f"EXECPASS_{sf_name}.json")

    spark = get_spark(app_name=f"exec_pass_{sf_name}")
    sc = spark.sparkContext

    qs = all_queries()
    names = [n for n in qs]
    if args.only:
        keep = set(args.only.split(","))
        names = [n for n in names if n in keep]
    if args.skip:
        drop = set(args.skip.split(","))
        names = [n for n in names if n not in drop]

    results: dict[str, dict] = {}
    t_pass = time.time()
    for i, name in enumerate(names):
        group = f"execpass-{name}"
        sc.setJobGroup(group, name, interruptOnCancel=True)
        cancel = threading.Timer(
            args.timeout, lambda g=group: sc.cancelJobGroup(g)
        )
        cancel.daemon = True
        t0 = time.time()
        status, err = "ok", ""
        try:
            cancel.start()
            df = qs[name].fn(spark, sf_dir)
            # noop sink: full plan executes, nothing ships to the driver
            df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001
            dt = time.time() - t0
            timed_out = dt >= args.timeout - 1
            status = "timeout" if timed_out else "fail"
            err = "".join(
                traceback.format_exception_only(type(exc), exc)
            ).strip()[:500]
        finally:
            cancel.cancel()
            sc.setJobGroup("", "")
        dt = time.time() - t0
        results[name] = {"sec": round(dt, 2), "status": status}
        if err:
            results[name]["error"] = err
        print(
            f"[{i + 1:3d}/{len(names)}] {status.upper():7s} {dt:8.1f}s "
            f"{name}",
            flush=True,
        )
        # checkpoint the artifact as we go: a mid-pass OOM still
        # leaves the per-query record on disk
        with open(out_path, "w") as f:
            json.dump(
                {
                    "sf": sf_name,
                    "timeout_s": args.timeout,
                    "n": len(results),
                    "n_total": len(names),
                    "total_sec": round(time.time() - t_pass, 1),
                    "fails": sorted(
                        n for n, r in results.items() if r["status"] == "fail"
                    ),
                    "timeouts": sorted(
                        n
                        for n, r in results.items()
                        if r["status"] == "timeout"
                    ),
                    "queries": results,
                },
                f,
                indent=1,
            )

    slow = sorted(results.items(), key=lambda kv: -kv[1]["sec"])[:20]
    print(f"\n== {sf_name}: {len(results)} queries, "
          f"{time.time() - t_pass:.0f}s total ==")
    for n, r in slow:
        print(f"  {r['sec']:8.1f}s {r['status']:7s} {n}")
    n_bad = sum(1 for r in results.values() if r["status"] != "ok")
    print(f"{len(results) - n_bad} ok, {n_bad} not-ok -> {out_path}")
    stop_spark(spark)
    return 0 if n_bad == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

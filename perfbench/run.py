#!/usr/bin/env python3
"""The repo benchmark: one command, three workloads, end-to-end metrics
(``--trace 0``) or per-layer metrics (``--trace 1``).

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout. It generates its inputs from
``--seed`` under ``perfbench/.work/``, measures for about ``--seconds``
seconds, checks every output, prints a human-readable report and, as
the last stdout line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. It exits 1 when an output check fails.
See perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("analytics", "llm_mock", "llm_http")
# the figures users know by name, printed with their units where the
# workload has them
INFO_UNITS = {"query_s_p50": "s", "job_s": "s", "rows_per_s": "1/s", "calls_per_record": "count", "failed_share": "ratio"}


def _metric_specs() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return (
        {m["name"]: m["unit"] for m in bench["end_to_end"]},
        {m["name"]: m["unit"] for m in bench["per_layer"]},
    )


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and let the workers import the library and this
    package."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    # a bounded JVM heap: the host is shared, and the inputs are small
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    sys.path.insert(0, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input-size multiplier (smoke test)")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "llm_batch_processor_spark")):
        print(f"perfbench: no llm_batch_processor_spark package under {ROOT}", file=sys.stderr)
        return 2
    e2e_units, layer_units = _metric_specs()
    work = os.path.join(HERE, ".work")
    _prepare_env(work)

    from perfbench import analytics, harness, llm

    trace = bool(args.trace)
    master = f"local[{harness.NPROC}]"
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "git_head": harness.git_head(),
        "nproc": harness.NPROC,
    }

    def ready(spark) -> None:
        """Called by the workload once its set-up is done."""
        context.update(harness.session_context(spark))
        # two probe runs: the first also warms the JVM for the workload
        context["probes_before"] = harness.host_probes(spark, repeat=2)

    with harness.RssSampler() as rss:
        if args.workload == "analytics":
            res = analytics.run(args.seed, args.seconds, trace, work, master, ready, args.scale)
        else:
            res = llm.run(args.workload, args.seed, args.seconds, trace, work, master, ready, args.scale)
    spark = res.pop("spark", None) or harness.new_session(master)
    context["probes_after"] = harness.host_probes(spark)
    spark.stop()
    harness.stop_jvm()

    info = res["info"]
    info["failed_share"] = res["failed"] / res["attempted"]
    if "sf_dirs" in info:
        context["sf_dirs"] = info.pop("sf_dirs")
    print("context " + json.dumps(context, sort_keys=True))
    print("info " + json.dumps(info, sort_keys=True))
    for p in res["problems"][:20]:
        print("check failed: " + p)

    if trace:
        layers = {k: 0.0 for k in layer_units}
        layers.update(res["layers"])
        layers["mem.peak_rss_mb"] = rss.peak_mb
        metrics = {k: {"value": layers[k], "unit": u} for k, u in layer_units.items()}
    else:
        metrics = {k: {"value": res["metrics"][k], "unit": u} for k, u in e2e_units.items()}
    for k, m in metrics.items():
        print(f"  {k:34s} {m['value']:.6g} {m['unit']}")
    for k, unit in INFO_UNITS.items():
        if k in info:
            print(f"  {k:34s} {info[k]:.6g} {unit}")
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

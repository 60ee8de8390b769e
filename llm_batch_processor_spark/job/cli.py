"""CLI job runner — reference A11 (bin/job.rb) parity.

    python -m llm_batch_processor_spark.job.cli <job.yml> [--input PATH]
        [--output PATH] [--backend openai|mock]

Contract parity (bin/job.rb:6-24, spec/bin_job_spec.rb):
- exactly one job file; usage to stderr + exit 1 on bad args;
- missing/invalid job file or referenced template -> stderr + exit 1;
- per-record errors (bad JSON lines, API failures) -> stderr, record
  skipped, exit 0;
- JSONL in (stdin by default) -> JSONL out (stdout by default).

The job is one ``pipeline.infer_once`` pass: ok records go to stdout (or
``--output``), then one loop reports every error row, malformed lines
and failed records alike, to stderr. stdout mode streams via
toLocalIterator (constant driver memory); with ``--output`` the write is
a fully distributed ``df.write.json``.

The job ends through ``session.stop_spark``: a plain ``SparkSession.stop``
idles out PySpark's 1 s accumulator-server poll, ~0.9 s that every
invocation would pay.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

USAGE = "Usage: python -m llm_batch_processor_spark.job.cli <job.yml> [--input PATH] [--output PATH]"


def _spread(good):
    """Round-robin ``good`` over ``defaultParallelism`` partitions when its
    scan has fewer splits than that, so every task slot runs an inference
    pool; a larger input keeps its splits and is never shuffled.

    ``good`` must be the bare text-scan plan: it has no exchange, so
    reading its partition count fires no Spark job (on an adaptive plan
    with an exchange, ``.rdd`` would run the upstream stages)."""
    slots = good.sparkSession.sparkContext.defaultParallelism
    if good.rdd.getNumPartitions() < slots:
        return good.repartition(slots)
    return good


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(usage=USAGE, add_help=True)
    ap.add_argument("job_yml")
    ap.add_argument("--input", default=None, help="input JSONL path (default: stdin)")
    ap.add_argument("--output", default=None, help="output dir for distributed JSONL (default: stdout)")
    ap.add_argument("--backend", default="openai", choices=["openai", "mock"])
    ap.add_argument("--master", default=None)
    try:
        args = ap.parse_args(argv)
    except SystemExit:
        print(USAGE, file=sys.stderr)
        return 1

    from .spec import JobSpec, JobSpecError

    try:
        spec = JobSpec.from_yaml(args.job_yml)
    except JobSpecError as e:
        print(f"Error: {e}", file=sys.stderr)
        return 1
    except Exception as e:  # YAML parse errors etc. — config-time: abort
        print(f"Error: {e}", file=sys.stderr)
        return 1

    from ..session import get_spark, stop_spark
    from ..sources.jsonl import ORDER_COL, read_records, to_jsonl_column, write_records
    from .backend import MockChatBackend, OpenAIChatBackend
    from .pipeline import infer_once

    backend = (
        MockChatBackend()
        if args.backend == "mock"
        else OpenAIChatBackend(spec.backend_endpoint, api_key=os.environ.get("OPENAI_API_KEY"))
    )

    tmp = None
    in_path = args.input
    if in_path is None:
        # stdin -> spool to a temp file so Spark can split/parallelize it
        tmp = tempfile.NamedTemporaryFile("w", suffix=".jsonl", delete=False, encoding="utf-8")
        for line in sys.stdin:
            tmp.write(line)
        tmp.close()
        in_path = tmp.name

    spark = get_spark(app_name=f"llm-job-{spec.id}", master=args.master)
    try:
        # stdout mode preserves INPUT ORDER (the reference's sequential
        # loop emits in order, pinned by spec/bin_job_spec.rb:98-107);
        # the distributed --output sink stays unordered, as a 100 TB
        # directory sink should be
        stdout_mode = not args.output
        good, corrupt = read_records(spark, in_path, keep_order=stdout_mode)
        with infer_once(_spread(good), corrupt, spec, backend) as out:
            ok = out.ok()
            if args.output:
                write_records(ok, args.output)
            else:
                # each toLocalIterator loop runs one job per partition;
                # prefetch runs the next one while this one prints
                for row in to_jsonl_column(ok.orderBy(ORDER_COL)).toLocalIterator(prefetchPartitions=True):
                    print(row["line"])
            for row in out.errors().select("id", "error", "raw").toLocalIterator(prefetchPartitions=True):
                if row["raw"] is not None:
                    print(f"Error: skipping malformed JSON line: {row['raw'][:200]}", file=sys.stderr)
                else:
                    print(f"Error: record id={row['id']}: {row['error']}", file=sys.stderr)
        return 0
    finally:
        stop_spark(spark)
        if tmp is not None:
            os.unlink(tmp.name)


if __name__ == "__main__":
    sys.exit(main())

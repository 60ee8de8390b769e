"""Helpers shared by the workloads: session set-up, the noop sink,
per-job-group Spark counters read from the status store, process-tree
RSS sampling, and the run's self-description."""

from __future__ import annotations

import os
import statistics
import subprocess
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NPROC = len(os.sched_getaffinity(0))


def new_session(master: str):
    """A fresh session through the library's own entry point."""
    from llm_batch_processor_spark.session import get_spark

    return get_spark(app_name="perfbench", master=master)


def cold_session(master: str):
    """The run's one set-up, as a user's process pays it: launch the JVM
    and create the session through ``get_spark``, so launch-time
    settings such as the JVM heap size count. Returns the session and its
    seconds. A launch takes about 7 s on 4 cores; a second launch per
    run would push the runs of all workloads past their time budget."""
    t0 = time.perf_counter()
    spark = new_session(master)
    return spark, time.perf_counter() - t0


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def drop_leaked_blocks(spark) -> None:
    """As bench.py does between queries, outside any timed window:
    queries leave persisted/checkpointed intermediates referenced by the
    returned DataFrame, which would tax whichever query runs later."""
    import gc

    spark.catalog.clearCache()
    gc.collect()


def quantile(values: list[float], q: float) -> float:
    """Quantile by linear interpolation (``statistics.quantiles``,
    inclusive method); a single sample is its own quantile."""
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[round(q * 100) - 1]


class JobGroup:
    """Tags the Spark jobs fired inside a ``with`` block and, on request,
    sums the status store's stage data for them."""

    _next = 0

    def __init__(self, spark):
        self.sc = spark.sparkContext
        JobGroup._next += 1
        self.name = f"perfbench-{JobGroup._next}"

    def __enter__(self) -> "JobGroup":
        self.sc.setJobGroup(self.name, self.name)
        return self

    def __exit__(self, *exc) -> None:
        self.sc.setJobGroup("perfbench-idle", "perfbench-idle")

    def job_ids(self) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(self.name))

    def stage_totals(self) -> dict[str, float]:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        tracker = self.sc.statusTracker()
        jobs = self.job_ids()
        stage_ids = {s for j in jobs for s in (tracker.getJobInfo(j).stageIds or [])}
        store = jsc.statusStore()
        t = dict.fromkeys(
            ("stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
             "spill_bytes", "task_cpu_s", "gc_s"),
            0.0,
        )
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            t["stages"] += 1
            t["tasks"] += sd.numCompleteTasks()
            t["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            t["shuffle_read_bytes"] += sd.shuffleReadBytes()
            t["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            t["task_cpu_s"] += sd.executorCpuTime() / 1e9
            t["gc_s"] += sd.jvmGcTime() / 1e3
        t["jobs"] = float(len(jobs))
        return t


def _tree_rss_mb(root: int) -> float:
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total / 1024


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled every 0.2 s while running."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, _tree_rss_mb(os.getpid()))
            self._stop.wait(0.2)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def git_head() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def session_context(spark) -> dict:
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }


def host_probes(spark, repeat: int = 1) -> dict:
    """bench.py's two host-state probes, in cheap settings: numpy GEMM
    throughput and the best wall of ``repeat`` runs of one fixed small
    Spark shuffle job."""
    from bench import gemm_gflops, spark_probe_sec

    return {"gemm_gflops": gemm_gflops(n=1000, repeat=2), "spark_probe_sec": spark_probe_sec(spark, repeat)}


def stop_jvm() -> None:
    """End the JVM PySpark launched and wait for it: it exits when its
    stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Clock:
    """Wall-clock budget for the measured part of a run: operations repeat
    until it is spent, at least once."""

    def __init__(self, seconds: float):
        self.start = time.perf_counter()
        self.seconds = seconds

    def left(self) -> float:
        return self.seconds - (time.perf_counter() - self.start)

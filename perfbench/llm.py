"""LLM-job workloads: the job CLI (``job.cli.main``) over seeded JSONL
records, one job at a time (closed loop, one client).

``llm_mock`` runs the CLI's mock backend, so the engine's own per-record
path dominates. ``llm_http`` runs the real OpenAI-compatible backend
against the loopback stub in ``stub.py``; it is the only workload with
backend latency, retries, 429 waits and shared prompts.

``setup_s`` is a cold set-up: JVM launch and ``get_spark``, as every CLI
job pays it. Each job then runs on a fresh session in that JVM, created
before the job's clock starts, because ``cli.main`` stops the session it
ran on. After every job its outputs are checked: every input id lands
exactly once in ok, dead-letter or corrupt, every ok response equals the
backend's digest of its rendered prompt, and the dead-letter ids are
exactly the records the fault plan always fails. On ``llm_http`` the
stub must not receive more requests than an at-most-once client without
a cache makes; fewer is allowed, so a prompt cache passes and shows as a
lower ``calls_per_record``.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import io
import json
import os
import re
import shutil
import statistics
import threading
import time

import yaml

from . import datagen
from .harness import Clock, JobGroup, cold_session, new_session, noop, quantile
from .stub import StubServer, expected_calls, stub_reply

PREFIX = "Summarize the following text in one sentence.\n\n"
TEMPLATE = PREFIX + "{{ texts['content'] }}"
LABEL = "summary"
MAX_RETRIES = 2  # the job spec's default

SIZES = {"llm_mock": 20_000, "llm_http": 100}
HTTP_MASTER = "local[2]"
HTTP_CONCURRENCY = 2
# A mock job's time is mostly first-execution warm-up, which moves with
# the host; the median over two jobs (the second in the same JVM) cut
# llm_mock's ten-seed spread from 15% to 12%. llm_http's backend time
# dominates its job.
MIN_JOBS = {"llm_mock": 2, "llm_http": 1}
# traced runs time each plan prefix PREFIX_REPS times and the
# strip/enrich step STEP_REPS times, and use the medians
PREFIX_REPS = 3
STEP_REPS = 7

_DEAD = re.compile(r"^Error: record id=(\S+): ", re.M)
_CORRUPT = re.compile(r'^Error: skipping malformed JSON line: \{"id": "([^"]+)"', re.M)


def mock_reply(prompt: str) -> str:
    return "MOCK " + hashlib.md5(prompt.encode("utf-8")).hexdigest()[:8]


class Inputs:
    """One workload's generated job input and what a correct run outputs."""

    def __init__(self, workload: str, seed: int, scale: float, work: str):
        n = max(int(SIZES[workload] * scale), 20)
        if workload == "llm_mock":
            self.lines, self.contents = datagen.llm_records(n, seed)
            self.schedule = None
            self.dead: set[str] = set()
            self.reply = mock_reply
        else:
            self.lines, self.contents = datagen.http_records(n, seed)
            self.schedule = datagen.http_schedule([PREFIX + c for c in self.contents.values()], seed)
            self.dead = {i for i, c in self.contents.items() if self.schedule[PREFIX + c][1] == "500_always"}
            self.reply = stub_reply
        self.all_ids = {re.search(r'"id": "([^"]+)"', l).group(1) for l in self.lines}
        self.corrupt = self.all_ids - set(self.contents)
        self.images = {json.loads(l)["id"] for l in self.lines if '"images": ["' in l}
        self.path = os.path.join(work, f"{workload}-input.jsonl")
        with open(self.path, "w") as f:
            f.write("\n".join(self.lines) + "\n")

    def expected_calls(self) -> int:
        prompts = [PREFIX + c for c in self.contents.values()]
        return expected_calls(prompts, self.schedule, MAX_RETRIES)

    def check(self, out_dir: str, stderr: str) -> list[str]:
        problems: list[str] = []
        ok: list[str] = []
        for part in glob.glob(os.path.join(out_dir, "part-*")):
            with open(part) as f:
                for line in f:
                    rec = json.loads(line)
                    ok.append(rec["id"])
                    content = self.contents.get(rec["id"])
                    texts = rec.get("texts") or {}
                    if content is None or texts.get("content") != content:
                        problems.append(f"ok record {rec['id']}: unknown id or altered content")
                    elif texts.get(LABEL) != self.reply(PREFIX + content):
                        problems.append(f"ok record {rec['id']}: response {texts.get(LABEL)!r}")
                    if bool(rec.get("images")) != (rec["id"] in self.images):
                        problems.append(f"ok record {rec['id']}: images not carried through")
        dead = _DEAD.findall(stderr)
        corrupt = _CORRUPT.findall(stderr)
        landed = ok + dead + corrupt
        if len(landed) != len(set(landed)):
            problems.append(f"{len(landed) - len(set(landed))} ids landed more than once")
        if set(landed) != self.all_ids:
            problems.append(f"{len(self.all_ids - set(landed))} ids lost, {len(set(landed) - self.all_ids)} unknown")
        if set(dead) != self.dead:
            problems.append(f"dead-letter ids {sorted(set(dead) ^ self.dead)[:5]} differ from the fault plan")
        if set(corrupt) != self.corrupt:
            problems.append("corrupt-line report differs from the corrupt lines written")
        return problems


def write_job(work: str, workload: str, endpoint: str) -> str:
    tpl = os.path.join(work, "summarize.j2")
    with open(tpl, "w") as f:
        f.write(TEMPLATE)
    cfg = {
        "id": f"perfbench-{workload}",
        "erb_filepath": tpl,
        "backend_endpoint": endpoint,
        "model": "stub-model",
        "output_label": LABEL,
        "params": {"temperature": 0.0, "max_tokens": 64},
    }
    if workload == "llm_mock":
        cfg["use_images"] = True
    else:
        cfg["concurrency"] = HTTP_CONCURRENCY
    path = os.path.join(work, f"{workload}.yml")
    with open(path, "w") as f:
        yaml.safe_dump(cfg, f)
    return path


def cli_job(argv: list[str]) -> tuple[int, float, str]:
    """Run ``job.cli.main`` in-process: (exit code, wall seconds, stderr)."""
    from llm_batch_processor_spark.job import cli

    err = io.StringIO()
    t0 = time.perf_counter()
    with contextlib.redirect_stderr(err):
        rc = cli.main(argv)
    return rc, time.perf_counter() - t0, err.getvalue()


def run(workload: str, seed: int, seconds: float, trace: bool, work: str, master: str, ready, scale: float = 1.0) -> dict:
    inputs = Inputs(workload, seed, scale, work)
    http = workload == "llm_http"
    if http:
        master = HTTP_MASTER
    stub = StubServer(inputs.schedule) if http else contextlib.nullcontext()
    with stub:
        endpoint = stub.endpoint if http else "http://127.0.0.1:9/v1"
        job_yml = write_job(work, workload, endpoint)
        out_dir = os.path.join(work, f"{workload}-out")
        argv = [job_yml, "--input", inputs.path, "--output", out_dir, "--master", master]
        argv += [] if http else ["--backend", "mock"]

        spark, setup_s = cold_session(master)
        ready(spark)
        walls, calls = [], []
        attempted = failed = 0
        problems: list[str] = []
        clock = Clock(seconds)
        # one fresh session per job (the first is the set-up's), which
        # cli.main picks up and stops
        while len(walls) < MIN_JOBS[workload] or clock.left() > 0:
            shutil.rmtree(out_dir, ignore_errors=True)
            if http:
                stub.reset()
            new_session(master)
            rc, wall, stderr = cli_job(argv)
            walls.append(wall)
            attempted += 1
            found = [f"exit code {rc}"] if rc else inputs.check(out_dir, stderr)
            if http:
                calls.append(stub.requests)
                if stub.requests > inputs.expected_calls():
                    found.append(f"stub saw {stub.requests} requests, more than the {inputs.expected_calls()} "
                                 "an at-most-once client makes")
            if found:
                failed += 1
                problems += found[:5]

        job_s = statistics.median(walls)
        metrics = {
            "setup_s": setup_s,
            "pass_s": job_s,
            "items_per_s": len(inputs.lines) / job_s,
        }
        info = {
            "records": len(inputs.lines),
            "jobs": len(walls),
            "job_s": job_s,
            "rows_per_s": len(inputs.lines) / job_s,
        }
        if http:
            info["calls_per_record"] = statistics.median(calls) / len(inputs.contents)
            info["stub_requests_per_job"] = sorted(set(calls))
        result = {"metrics": metrics, "attempted": attempted, "failed": failed, "problems": problems, "info": info}
        if trace:
            result["layers"], result["spark"] = _traced(workload, inputs, job_yml, argv, master, stub, work)
            result["layers"]["session.start_s"] = metrics["setup_s"]
    return result


class TimingBackend:
    """Wraps the ChatBackend handed to ``llm_map``: one span per backend
    call (start, end, ok, process/thread, prompt digest), appended to a
    per-process file because the calls run in Python worker processes."""

    def __init__(self, inner, span_dir: str):
        self.inner = inner
        self.span_dir = span_dir

    def chat(self, messages, model, params, response_format, timeout):
        t0 = time.time()
        ok = False
        try:
            out = self.inner.chat(messages, model, params, response_format, timeout)
            ok = True
            return out
        finally:
            key = hashlib.md5(json.dumps(messages[-1]["content"]).encode()).hexdigest()[:12]
            span = [t0, time.time(), ok, threading.get_ident(), key]
            with open(os.path.join(self.span_dir, f"spans-{os.getpid()}.jsonl"), "a") as f:
                f.write(json.dumps(span) + "\n")


def _spans_metrics(span_dir: str, records: int) -> dict:
    spans = []
    for path in glob.glob(os.path.join(span_dir, "spans-*.jsonl")):
        pid = path.rsplit("-", 1)[1]
        with open(path) as f:
            spans += [json.loads(l) + [pid] for l in f]
    out = dict.fromkeys(
        ("calls", "retries", "latency_ms_p50", "latency_ms_p99", "inflight_mean", "inflight_max", "retry_gap_s", "calls_per_record"),
        0.0,
    )
    if not spans:
        return {f"job.backend.{k}": v for k, v in out.items()}
    spans.sort(key=lambda s: s[0])
    lat = [(s[1] - s[0]) * 1e3 for s in spans]
    # a retry is the next call on the same worker thread with the same
    # prompt after a failed call (the retry loop is sequential per record)
    last: dict[tuple, list] = {}
    gaps = []
    for s in spans:
        thread = (s[5], s[3])
        prev = last.get(thread)
        if prev is not None and not prev[2] and prev[4] == s[4]:
            gaps.append(s[0] - prev[1])
        last[thread] = s
    events = sorted([(s[0], 1) for s in spans] + [(s[1], -1) for s in spans])
    cur = peak = 0
    busy = area = 0.0
    for (t, d), nxt in zip(events, events[1:] + [(events[-1][0], 0)]):
        cur += d
        peak = max(peak, cur)
        if cur > 0:
            area += cur * (nxt[0] - t)
            busy += nxt[0] - t
    out.update(
        calls=len(spans),
        retries=len(gaps),
        latency_ms_p50=statistics.median(lat),
        latency_ms_p99=quantile(lat, 0.99),
        inflight_mean=area / busy if busy else 0.0,
        inflight_max=peak,
        retry_gap_s=statistics.mean(gaps) if gaps else 0.0,
        calls_per_record=len(spans) / records,
    )
    return {f"job.backend.{k}": v for k, v in out.items()}


def _traced(workload, inputs, job_yml, argv, master, stub, work):
    """One traced CLI job (the backend wrapped), then plan prefixes of the
    same job, each timed ``PREFIX_REPS`` times on a fresh session.
    Returns the layer metrics and that session."""
    from llm_batch_processor_spark.job import pipeline
    from llm_batch_processor_spark.job.backend import MockChatBackend, OpenAIChatBackend
    from llm_batch_processor_spark.job.spec import JobSpec
    from llm_batch_processor_spark.sources.jsonl import read_records, write_records

    http = workload == "llm_http"
    span_dir = os.path.join(work, f"{workload}-spans")
    shutil.rmtree(span_dir, ignore_errors=True)
    os.makedirs(span_dir)
    orig = pipeline.llm_map

    def traced_llm_map(records, spec, backend):
        return orig(records, spec, TimingBackend(backend, span_dir))

    # an untraced job right before the traced one, so the two are
    # compared at the same warmth of the JVM
    if http:
        stub.reset()
    new_session(master)
    _, untraced_wall, _ = cli_job(argv)
    if http:
        stub.reset()
    new_session(master)
    pipeline.llm_map = traced_llm_map
    try:
        _, traced_wall, _ = cli_job(argv)
    finally:
        pipeline.llm_map = orig
    out = _spans_metrics(span_dir, len(inputs.contents))
    if http:  # counted where the requests arrive, outside the program
        out["job.backend.calls_per_record"] = stub.requests / len(inputs.contents)
    out["trace.overhead_s"] = traced_wall - untraced_wall

    spec = JobSpec.from_yaml(job_yml)
    backend = OpenAIChatBackend(spec.backend_endpoint) if http else MockChatBackend()
    spark = new_session(master)
    good, corrupt = read_records(spark, inputs.path)
    result = pipeline.llm_map(good, spec, backend)
    noop(result.df)  # start the session's Python workers outside the timings
    t0 = time.perf_counter()
    result.df._jdf.queryExecution().executedPlan()
    out["spark_plan.s"] = time.perf_counter() - t0

    # plan prefixes into the noop sink, each timing its own planning;
    # a layer is the difference of two prefixes' median walls
    ok_dir = os.path.join(work, f"{workload}-traced-out")
    prefixes = {
        "parse": lambda: noop(good),
        "scan": lambda: sum(1 for _ in corrupt.toLocalIterator()),
        "infer": lambda: noop(result.df.select("id", "error")),
        "full": lambda: noop(result.df),
    }
    walls = {k: [] for k in (*prefixes, "write")}
    for _ in range(PREFIX_REPS):
        for k, action in prefixes.items():
            walls[k].append(_timed(action))
        with JobGroup(spark) as ex:
            walls["write"].append(_timed(lambda: write_records(result.ok(), ok_dir)))
    med = {k: statistics.median(v) for k, v in walls.items()}
    out["sources.parse_s"] = med["parse"]
    out["job.cli.corrupt_scan_s"] = med["scan"]
    out["job.pipeline.infer_s"] = med["infer"] - med["parse"]
    out["job.pipeline.strip_enrich_s"] = _strip_enrich_s(good)
    out["sources.write_s"] = med["write"] - med["full"]
    out["spark_exec.s"] = med["write"]
    out.update({f"spark_exec.{k}": v for k, v in ex.stage_totals().items()})
    return out, spark


def _timed(action) -> float:
    t0 = time.perf_counter()
    action()
    return time.perf_counter() - t0


def _strip_enrich_s(good) -> float:
    """The think-strip and enrich step of ``llm_map`` on its own. It is a
    few column expressions after the inference UDF, too cheap to show as
    the difference of two prefixes that run the UDF, so the library's own
    ``think_strip`` and ``enrich`` kernels run over cached texts and raw
    responses shaped like the backend's; the step is the median wall of
    that minus the median wall of reading the same cached input."""
    from pyspark.sql import functions as F

    from llm_batch_processor_spark.functions.text import think_strip
    from llm_batch_processor_spark.job.pipeline import enrich

    raw = F.concat(F.lit("<think>reasoning</think>\nMOCK "), F.substring(F.md5("id"), 1, 8))
    staged = good.select("texts", raw.alias("raw")).cache()
    staged.count()
    read = staged.select("texts", "raw")
    step = staged.select(enrich(F.col("texts"), LABEL, think_strip(F.col("raw"))).alias("texts"))
    walls: dict[str, list[float]] = {"read": [], "step": []}
    for _ in range(STEP_REPS):
        walls["read"].append(_timed(lambda: noop(read)))
        walls["step"].append(_timed(lambda: noop(step)))
    staged.unpersist()
    return statistics.median(walls["step"]) - statistics.median(walls["read"])

"""The ``analytics`` workload: a frozen query set over seeded tables,
submitted one query at a time (closed loop, one client) to a long-lived,
warmed session.

The set has two groups (``querysets.json``). ``floor`` runs at sf0.001,
where a query's time is its floor: schema inference in ``tables.load``,
eager side jobs, planning and job scheduling. ``scan`` runs at sf0.05
and holds the queries whose execute time grows most with data. A change
that moves build work into execution shows as a gain in one group and a
cost in the other.

The tables come from a fixed data seed, so every query's result
fingerprint is fixed; ``--seed`` permutes the submission order. A first,
untimed pass collects every query and checks it against the fingerprint
``record.py`` recorded and validated against the DuckDB oracle; it also
warms each query. Timed passes then execute each query into the noop
sink.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import statistics
import time

from . import datagen
from .harness import Clock, JobGroup, cold_session, drop_leaked_blocks, noop

HERE = os.path.dirname(os.path.abspath(__file__))
SETS_PATH = os.path.join(HERE, "querysets.json")
DATA_SEED = 42
WARMUP_SF = 0.001


def load_sets() -> dict:
    with open(SETS_PATH) as f:
        return json.load(f)


def fingerprint(pdf, rows_only: bool) -> list:
    """[row count, order-insensitive digest of the canonical rows]; the
    digest is None for the rows-only queries."""
    if rows_only:
        return [len(pdf), None]
    from tools.selfcheck import canon_df

    h = hashlib.sha256()
    for row in canon_df(pdf):
        h.update(repr(row).encode())
    return [len(pdf), h.hexdigest()[:32]]


def make_tables(work: str, sf: float) -> str:
    sf_dir = os.path.join(work, f"tables-sf{sf}")
    if not os.path.exists(os.path.join(sf_dir, ".done")):
        datagen.write_tables(sf_dir, sf, DATA_SEED)
    return sf_dir


class LoadTimer:
    """Wraps ``tables.load`` and the ``load`` name each query module
    imported, counting calls and summing their wall time."""

    MODULES = (
        "llm_batch_processor_spark.tables",
        "llm_batch_processor_spark.queries.relational",
        "llm_batch_processor_spark.queries.llm",
        "llm_batch_processor_spark.queries.pipeline_ext",
    )

    def __init__(self):
        import importlib

        self.mods = [importlib.import_module(m) for m in self.MODULES]
        self.orig = self.mods[0].load
        self.calls, self.seconds = 0, 0.0

    def _load(self, *a, **kw):
        t0 = time.perf_counter()
        try:
            return self.orig(*a, **kw)
        finally:
            self.calls += 1
            self.seconds += time.perf_counter() - t0

    def __enter__(self) -> "LoadTimer":
        for m in self.mods:
            m.load = self._load
        return self

    def __exit__(self, *exc) -> None:
        for m in self.mods:
            m.load = self.orig


def run(seed: int, seconds: float, trace: bool, work: str, master: str, ready, scale: float = 1.0) -> dict:
    from llm_batch_processor_spark.queries import all_queries

    sets = load_sets()
    qs = all_queries()
    items = [(g, n) for g in sorted(sets) for n in sets[g]["queries"]]
    random.Random(seed).shuffle(items)
    items = items[: max(1, round(len(items) * scale))]
    sf_dirs = {g: make_tables(work, sets[g]["sf"]) for g in sets}
    warm_dir = make_tables(work, WARMUP_SF)

    # set-up as the analytics user pays it: JVM and session, then one
    # warm-up query (bench.py's ``agg_group``)
    spark, start_s = cold_session(master)
    t0 = time.perf_counter()
    noop(qs["agg_group"].fn(spark, warm_dir))
    warm_s = time.perf_counter() - t0
    ready(spark)

    attempted = failed = 0
    problems: list[str] = []
    # untimed first pass: checks every result and warms every query
    for g, name in items:
        attempted += 1
        want = sets[g]["fingerprints"][name]
        try:
            got = fingerprint(qs[name].fn(spark, sf_dirs[g]).toPandas(), want[1] is None)
        except Exception as e:  # a raising query is a failed operation
            got = f"raised {type(e).__name__}: {str(e)[:200]}"
        if got != want:
            failed += 1
            problems.append(f"{name}: expected {want}, got {got}")
        drop_leaked_blocks(spark)

    walls: dict[tuple, list[float]] = {it: [] for it in items}
    layers: dict[tuple, dict] = {}
    clock = Clock(seconds)
    passes = 0
    while passes == 0 or clock.left() > 0:
        for g, name in items:
            attempted += 1
            try:
                t0 = time.perf_counter()
                noop(qs[name].fn(spark, sf_dirs[g]))
                walls[g, name].append(time.perf_counter() - t0)
            except Exception as e:
                failed += 1
                problems.append(f"{name}: raised {type(e).__name__}: {str(e)[:200]}")
            drop_leaked_blocks(spark)
        passes += 1
    if trace:
        # per query, untraced and traced executions in ABBA order, so the
        # session's warm-up trend cancels out of the comparison. An
        # untimed execution goes first: the first execution after another
        # query reads slower, and would otherwise weigh on one side only.
        untraced = {}
        for g, name in items:
            plain, traced = [], []
            for kind in "XUTTU":
                attempted += 1
                if kind == "X":
                    noop(qs[name].fn(spark, sf_dirs[g]))
                elif kind == "U":
                    t0 = time.perf_counter()
                    noop(qs[name].fn(spark, sf_dirs[g]))
                    plain.append(time.perf_counter() - t0)
                else:
                    traced.append(_traced_query(spark, qs[name].fn, sf_dirs[g]))
                drop_leaked_blocks(spark)
            untraced[g, name] = statistics.mean(plain)
            layers[g, name] = {k: statistics.mean(r[k] for r in traced) for k in traced[0]}

    samples = [w for ws in walls.values() for w in ws]
    per_query = {it: statistics.median(ws) for it, ws in walls.items() if ws}
    pass_s = sum(per_query.values())
    floor = [w for (g, _), w in per_query.items() if g == "floor"] or list(per_query.values())
    metrics = {
        "setup_s": start_s + warm_s,
        "pass_s": pass_s,
        "items_per_s": len(per_query) / pass_s,
    }
    info = {
        "sf_dirs": sf_dirs,
        "queries": len(items),
        "passes": passes,
        "samples": len(samples),
        "query_s_p50": statistics.median(floor),
        "pass_s_by_group": {g: sum(w for (gg, _), w in per_query.items() if gg == g) for g in sets},
        "per_query_s": {f"{g}/{n}": round(w, 4) for (g, n), w in sorted(per_query.items())},
    }
    result = {"metrics": metrics, "attempted": attempted, "failed": failed, "problems": problems, "info": info, "spark": spark}
    if trace:
        result["layers"] = _layer_metrics(layers, untraced, start_s, warm_s)
        info["untraced_vs_traced_s"] = {
            f"{g}/{n}": [round(untraced[g, n], 4), round(sum(layers[g, n][k] for k in ("queries.build_s", "spark_plan.s", "spark_exec.s")), 4)]
            for g, n in items
        }
    return result


def _traced_query(spark, fn, sf_dir) -> dict:
    with LoadTimer() as lt, JobGroup(spark) as build:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    with JobGroup(spark) as ex:
        noop(df)
        t3 = time.perf_counter()
    # The noop write optimizes and plans the query again, in a
    # QueryExecution of its own. The separate planning pass above stands
    # in for that re-planning and is taken out of the write's wall, so
    # build + plan + exec is build + write, as in an untraced execution.
    plan_s = t2 - t1
    row = {
        "tables.load_s": lt.seconds,
        "tables.load_calls": lt.calls,
        "queries.build_s": t1 - t0,
        "queries.build_jobs": len(build.job_ids()),
        "spark_plan.s": plan_s,
        "spark_exec.s": t3 - t2 - plan_s,
    }
    row.update({f"spark_exec.{k}": v for k, v in ex.stage_totals().items()})
    return row


def _layer_metrics(layers: dict, untraced: dict, start_s: float, warm_s: float) -> dict:
    """Per-layer totals for one pass over the set (per query, the mean of
    its two traced executions), reconciled per query with the mean of its
    two untraced executions."""
    keys = next(iter(layers.values())).keys()
    out = {k: sum(row[k] for row in layers.values()) for k in keys}
    traced = {it: r["queries.build_s"] + r["spark_plan.s"] + r["spark_exec.s"] for it, r in layers.items()}
    base = sum(untraced[it] for it in traced)
    errs = [abs(traced[it] - untraced[it]) / untraced[it] for it in traced]
    out["session.start_s"] = start_s
    out["session.warmup_s"] = warm_s
    out["trace.overhead_s"] = sum(traced.values()) - base
    out["trace.reconcile_err"] = abs(out["trace.overhead_s"]) / base
    out["trace.reconcile_within5_share"] = sum(e <= 0.05 for e in errs) / len(errs)
    return out

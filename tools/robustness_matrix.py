#!/usr/bin/env python
"""One command for the per-round cross-corpus parity matrix.

r6 proved the sweep regime finds real bugs (2 engine bugs in the NULL
corpus alone), so keeping every row green per round is the cheapest
regression net the project has (VERDICT r6 item 8). This is the one
runner for every hostile corpus (the builders in
`tools/payload_sweeps.py`, `extreme_ts_sweep.py`, `nonfinite_sweep.py`,
`ragged_dim_sweep.py`, `fuzz_corpus.py` and `build_rowperm` below),
the execution-regime invariance sweeps, the stock driver-owned session
and pristine: each row is one `tools/selfcheck.py` subprocess (own
SparkSession — a row's `--conf` values, `spark.master` included, are
set when that session is built and hold for every query), and the
matrix prints ROBUSTNESS.md-ready.

One query on one corpus: call the builder, e.g.
`build_nulls(SRC, Path(DIR))`, then
`python tools/selfcheck.py --sf DIR --only q`.

Expected state (276 queries):
  pristine / extreme-ts / extremekeys / nulls / hostile / empty /
  skew / rowperm / nonfinite / ragged / combined / extrememoney /
  extremeints                                             271/0/5/0
  dupkeys  259/0/1/16 (the keyed-entity family fails TYPED at entry —
                       KeyContractError, no free-floating divergences;
                       agg_approx_distinct is the one remaining
                       rows-only row there)
  local4 (local[4] master, 7 shuffle partitions) /
  nobcast (no broadcast, AQE off) / nocodegen /
  stock (Spark's stock confs, America/New_York TZ)        271/0/5/0

Usage:
    python tools/robustness_matrix.py [--rows r1,r2,...] [--sf DIR]
        [--out MATRIX.json] [--seeds N] [--skip q1,q2]
Rows: pristine extremets extremekeys nulls hostile dupkeys empty skew
      rowperm nonfinite ragged combined extrememoney extremeints
      moneysf01 local4 nobcast nocodegen stock (default); opt-in via
      --rows: sf01 (the full gate at sf0.1 pristine, ~20 min), sf1
      (the full gate at the synthetic sf1, 100x the driver compare
      scale — 1-3 h, bounded by a 4 h subprocess timeout; zero
      exclusions since r9), and fuzz (the seeded random-corpus
      fuzzer, --seeds gates per round — r9, VERDICT r8 item 1)
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TAIL = re.compile(r"(\d+) pass, (\d+) fail, (\d+) rows-only(?:, (\d+) contract)?")


def _registry_size() -> int:
    """Live per-seed query count (registry import is lazy: the matrix
    subprocesses don't need a Spark session in THIS process unless a
    seed actually crashes)."""
    from llm_batch_processor_spark.queries import all_queries

    return len(all_queries())


def run_selfcheck(sf_dir: str, conf: list[str] | None = None, skip: str = "",
                  timeout_s: int | None = None) -> dict:
    """One selfcheck subprocess. ``skip`` passes an oracle-feasibility
    exclusion list through to selfcheck --skip (skipped names are
    printed/counted there — never silently absorbed into 'pass');
    ``timeout_s`` bounds the subprocess so a long gate (sf1) can hang
    neither the matrix nor the disk (ADVICE r8: the sf1 row previously
    ran unbounded)."""
    cmd = [sys.executable, str(REPO / "tools" / "selfcheck.py"), "--sf", sf_dir]
    for kv in conf or []:
        cmd += ["--conf", kv]
    if skip:
        cmd += ["--skip", skip]
    t0 = time.time()
    try:
        proc = subprocess.run(
            cmd, capture_output=True, text=True, cwd=str(REPO), timeout=timeout_s,
        )
    except subprocess.TimeoutExpired as e:
        return {
            "pass": None, "fail": None, "rows_only": None, "contract": None,
            "failures": [], "contracts": [],
            "sec": round(time.time() - t0, 1), "exit": 124,
            "tail": f"TIMEOUT after {timeout_s}s: "
                    + (e.stdout or b"")[-300:].decode("utf-8", "replace"),
        }
    m = TAIL.search(proc.stdout)
    fails = []
    fm = re.search(r"^failures: (.*)$", proc.stdout, re.M)
    if fm:
        fails = fm.group(1).split(",")
    contracts = []
    cm = re.search(r"^contracts: (.*)$", proc.stdout, re.M)
    if cm:
        contracts = cm.group(1).split(",")
    return {
        "pass": int(m.group(1)) if m else None,
        "fail": int(m.group(2)) if m else None,
        "rows_only": int(m.group(3)) if m else None,
        "contract": int(m.group(4) or 0) if m else None,
        "failures": fails,
        "contracts": contracts,
        "sec": round(time.time() - t0, 1),
        "exit": proc.returncode,
        "tail": proc.stdout[-400:] if not m else "",
    }


def build_rowperm(src: str, dst: Path) -> None:
    """Every table rewritten in a deterministic pseudo-random ROW ORDER
    (sorted by md5 of the primary key). Both engines read the same
    permuted files, so full parity proves no query result leans on the
    physical row order of the input — the property that survives
    arbitrary scan-split boundaries on a real cluster (r7 domain)."""
    import duckdb

    keys = {
        "documents": "doc_id", "events": "event_id",
        "embeddings": "vec_id", "lineitem": "l_orderkey*8+l_linenumber",
        "orders": "o_orderkey", "customer": "c_custkey",
        "supplier": "s_suppkey", "part": "p_partkey",
        "nation": "n_nationkey", "region": "r_regionkey",
    }
    con = duckdb.connect()
    for t, k in keys.items():
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}/{t}.parquet') "
            f"ORDER BY md5(CAST({k} AS VARCHAR))) "
            f"TO '{dst}/{t}.parquet' (FORMAT PARQUET)"
        )
    con.close()


def _sf1_dir() -> str:
    """Synthesize (once) and return the sf1 dataset dir."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "scale_probe", str(REPO / "tools" / "scale_probe.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    if not os.path.exists(os.path.join(m.DST, "lineitem.parquet")):
        m.build()
    return m.DST


def _fuzz_row(sf_dir: str, n_seeds: int, seed_base: int = 0) -> dict:
    """Seeded random-corpus fuzzer row (VERDICT r8 item 1): one full
    oracle gate per seed over a fresh axis-sampled hazard corpus.
    Aggregate shape stays matrix-compatible: `pass` is the per-seed
    MINIMUM (so the printed cell is the weakest seed), `fail` the
    TOTAL across seeds, failures are seed-prefixed, and the per-seed
    detail rides in `seeds`."""
    from tools.fuzz_corpus import build_fuzz

    per_seed = []
    for seed in range(seed_base, seed_base + n_seeds):
        tmp = Path(tempfile.mkdtemp(prefix=f"fuzz{seed}_"))
        try:
            plan = build_fuzz(sf_dir, tmp, seed)
            r = run_selfcheck(str(tmp))
            r["plan"] = plan
            per_seed.append(r)
            print(
                f"  fuzz seed {seed}: {r['pass']}/{r['fail']}/{r['rows_only']}"
                + (f" failures={r['failures']}" if r["failures"] else ""),
                flush=True,
            )
        finally:
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    done = [r for r in per_seed if r["fail"] is not None]
    if not done:
        return per_seed[0] if per_seed else {
            "pass": None, "fail": None, "rows_only": None, "contract": None,
            "failures": [], "contracts": [], "sec": 0.0, "exit": 1,
            "tail": "no fuzz seeds ran",
        }
    return {
        "pass": min(r["pass"] for r in done),
        # charge a crashed/unparsed seed with the FULL registry size,
        # derived live so the constant can't drift as queries are
        # added/removed (ADVICE r9)
        "fail": sum(r["fail"] for r in done)
        + _registry_size() * (len(per_seed) - len(done)),
        "rows_only": max(r["rows_only"] for r in done),
        "contract": sum(r["contract"] or 0 for r in done),
        "failures": [
            f"seed{seed_base + i}:{f}" for i, r in enumerate(per_seed)
            for f in (r["failures"] or [])
        ],
        "contracts": sorted({c for r in done for c in r["contracts"]}),
        "sec": round(sum(r["sec"] for r in per_seed), 1),
        "exit": max(r["exit"] for r in per_seed),
        "seeds": per_seed,
        "tail": "",
    }


def corpus_row(builder, sf_dir: str) -> dict:
    tmp = Path(tempfile.mkdtemp(prefix="robust_"))
    try:
        builder(sf_dir, tmp)
        return run_selfcheck(str(tmp))
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--rows", default="")
    ap.add_argument("--out", default="")
    ap.add_argument(
        "--seeds", type=int, default=5,
        help="number of fuzzer seeds for the fuzz row (default 5)",
    )
    ap.add_argument(
        "--seed-base", type=int, default=0,
        help="first fuzzer seed for the fuzz row (r10: fresh seeds "
        "continue the cumulative set, e.g. --seeds 5 --seed-base 5 "
        "runs seeds 5-9)",
    )
    ap.add_argument(
        "--skip", default="",
        help="oracle-feasibility exclusions passed through to the sf1 "
        "row's selfcheck --skip (skipped queries are counted, never "
        "silently passed)",
    )
    args = ap.parse_args()

    from tools.extreme_ts_sweep import build_dataset as build_extremets
    from tools.nonfinite_sweep import build_dataset as _build_nonfinite
    from tools.ragged_dim_sweep import build_dataset as _build_ragged
    from tools.payload_sweeps import (
        build_combined,
        build_dupkeys,
        build_empty,
        build_extremeints,
        build_extremekeys,
        build_extrememoney,
        build_hostile,
        build_nulls,
        build_skew,
    )

    rows = {
        "pristine": lambda: run_selfcheck(args.sf),
        "extremets": lambda: corpus_row(build_extremets, args.sf),
        "extremekeys": lambda: corpus_row(build_extremekeys, args.sf),
        "nulls": lambda: corpus_row(build_nulls, args.sf),
        "hostile": lambda: corpus_row(build_hostile, args.sf),
        "dupkeys": lambda: corpus_row(build_dupkeys, args.sf),
        # full oracle gate on ALL-EMPTY tables (r7 upgrade from the
        # crash-only sweep): found the Spark-vs-ANSI ROLLUP/CUBE/
        # GROUPING SETS empty-input divergence (oracles now mirror
        # Spark's zero-row semantics with HAVING COUNT(*) > 0)
        "empty": lambda: corpus_row(build_empty, args.sf),
        # pathological key skew with UNIQUE primary keys (r7 upgrade
        # from crash-only): one dominant group everywhere + massive
        # value ties — full parity is the bar, and it exercises every
        # oracle's tie-break totality at once
        "skew": lambda: corpus_row(build_skew, args.sf),
        "rowperm": lambda: corpus_row(build_rowperm, args.sf),
        # ALL compatible hazards at once (r7 second wave): extreme ids,
        # NULL payloads, hostile text, one-group skew, non-finite
        # floats, ragged dims, malformed JSON, extreme ts — the
        # interaction domain; keys stay unique so full parity is the bar
        "combined": lambda: corpus_row(build_combined, args.sf),
        # hostile FINANCIAL values (r7 second wave): zero/negative
        # amounts, discounts outside [0,1], DECIMAL(18,6)-rail and
        # over-rail magnitudes, sub-cent dust, NaN/Inf — the dsum/davg
        # fold contract exercised on the money columns it was written
        # for; keys/dates/text pristine
        "extrememoney": lambda: corpus_row(build_extrememoney, args.sf),
        # hostile INTEGER payloads (r7 seventh wave): negative/zero/
        # int32-rail/near-int64 counted quantities — DIV-vs-floor on
        # negatives, hostile bin indexes, length bands
        "extremeints": lambda: corpus_row(build_extremeints, args.sf),
        # non-finite floats through the FULL oracle gate (r7 upgrade
        # from crash-only): NULL vector elements (how pandas->parquet
        # writes NaN dims), +-Inf elements, +-Inf/1e308 event values.
        # Found 16 divergences on first run — null-element-skipping
        # DuckDB list aggregates vs the engine's NULL-poisoning folds,
        # DuckDB TRY_CAST(NaN AS DECIMAL) raising, int64-saturating
        # JVM double->long casts — all mirrored; see ROBUSTNESS.md r7.
        "nonfinite": lambda: corpus_row(_build_nonfinite, args.sf),
        # ragged vector dims + malformed events.props JSON through the
        # full gate (r7 upgrade from crash-only): found the
        # json_extract_string-raises-on-malformed-JSON class — all 11
        # oracle sites now json_valid-guarded (Spark's get_json_object
        # NULLs instead)
        "ragged": lambda: corpus_row(_build_ragged, args.sf),
        # a narrower master with an odd shuffle-partition count: no
        # result may lean on the task or partition layout
        "local4": lambda: run_selfcheck(
            args.sf,
            conf=["spark.master=local[4]", "spark.sql.shuffle.partitions=7"],
        ),
        "nobcast": lambda: run_selfcheck(
            args.sf,
            conf=[
                "spark.sql.autoBroadcastJoinThreshold=-1",
                "spark.sql.adaptive.enabled=false",
            ],
        ),
        "nocodegen": lambda: run_selfcheck(
            args.sf, conf=["spark.sql.codegen.factoryMode=NO_CODEGEN"]
        ),
        # a session the engine did not build, as the correctness driver
        # hands it over: Spark's stock shuffle partitions, broadcast
        # threshold, codec and driver memory, and a non-UTC session TZ.
        # ensure_session_conf must heal it (UTC, right-sized partitions)
        # so every query still matches the oracle value for value
        "stock": lambda: run_selfcheck(
            args.sf,
            conf=[
                "spark.sql.shuffle.partitions=200",
                "spark.sql.autoBroadcastJoinThreshold=10485760",
                "spark.sql.parquet.compression.codec=snappy",
                "spark.driver.memory=1g",
                "spark.sql.session.timeZone=America/New_York",
            ],
        ),
        # scale-up parity (r7, opt-in: ~20 min): the full oracle gate at
        # 10x the usual compare scale — catches divergences whose
        # trigger value never occurs at sf0.01 (found the
        # embedding_random_projection -0.0 rounding class)
        "sf01": lambda: run_selfcheck("/root/testdata/sf0.1"),
        # opt-in: the extreme-money corpus built from sf0.1 — the gate
        # that found the conversion-tie class and the all-hostile-
        # customer rank crashes (ROBUSTNESS.md sixth wave), ~12 min
        "moneysf01": lambda: corpus_row(
            build_extrememoney, "/root/testdata/sf0.1"
        ),
        # opt-in (r8, VERDICT r7 item 5): the full oracle gate at the
        # synthetic sf1 (tools/scale_probe.py synthesis: 50k docs / 6M
        # lineitem — 100x the driver's compare scale). Builds the
        # dataset on first use; LONG (~1-3 h: the DuckDB oracle side
        # dominates). r9: dedup_semantic_pipeline's oracle is now the
        # seeded bounded-slice closure (~110 s at sf1), so the row runs
        # with ZERO exclusions; the 4 h subprocess timeout + --skip
        # pass-through exist so a future oracle blowup fails LOUD
        # (exit 124 row) instead of hanging the matrix / filling the
        # disk (ADVICE r8; see also the sf1-oracle-blowup note in
        # ROBUSTNESS.md — monitor `du -sh .tmp` on first runs).
        "sf1": lambda: run_selfcheck(
            _sf1_dir(), skip=args.skip, timeout_s=4 * 3600
        ),
        # opt-in (r9, VERDICT r8 item 1): the seeded random-corpus
        # fuzzer — tools/fuzz_corpus.py samples the r5-r8 hazard axes
        # per seed and runs the full oracle gate over each of
        # --seeds fresh corpora (~4-6 min/seed). Keys stay unique, so
        # full parity (269/0/5) is the bar for every seed.
        "fuzz": lambda: _fuzz_row(args.sf, args.seeds, args.seed_base),
    }
    default_rows = [r for r in rows if r not in ("sf01", "sf1", "fuzz")]
    picked = [r for r in args.rows.split(",") if r] or default_rows
    unknown = [r for r in picked if r not in rows]
    if unknown:
        ap.error(f"unknown rows: {unknown}; valid: {list(rows)}")

    results: dict[str, dict] = {}
    for name in picked:
        print(f"== {name} ...", flush=True)
        r = rows[name]()
        results[name] = r
        print(
            f"== {name}: {r['pass']}/{r['fail']}/{r['rows_only']}"
            + (f"/{r['contract']}c" if r.get("contract") else "")
            + f" ({r['sec']}s)"
            + (f" failures={r['failures']}" if r["failures"] else ""),
            flush=True,
        )

    print("\n| corpus / regime | result (pass/fail/rows-only/contract) |")
    print("|---|---|")
    for name, r in results.items():
        print(
            f"| {name} | {r['pass']} / {r['fail']} / {r['rows_only']}"
            f" / {r.get('contract') or 0} |"
        )
    if args.out:
        Path(args.out).write_text(json.dumps(results, indent=1) + "\n")
        print(f"wrote {args.out}")
    # The keyed-entity family fails TYPED (KeyContractError at query
    # entry, operators/contracts.py) on duplicate primary keys — on the
    # dupkeys corpus exactly these 16 queries must land in `contracts`;
    # a FAIL anywhere, or a typed contract outside dupkeys, or a
    # dupkeys contract set differing from the declared class, is a
    # regression (r8: closes the former free-floating 260/7/5 row).
    contract = {
        # the 7 formerly-diverging oracle queries ...
        "embedding_pq_assign", "knn_classify", "dedup_ngram_jaccard",
        "dedup_clusters", "graph_triangles", "graph_pagerank",
        "degree_distribution",
        # ... plus the 4 seeded ops of the same keyed-entity family
        # (rows-only, so their dup-key divergence was invisible to the
        # oracle — gated for consistency: self-defending everywhere)
        "dedup_minhash", "dedup_simhash", "sim_ann_lsh", "sim_ann_ivf",
        # ... and the r8 hash-graded exact configurations of the two
        # ANN ops (same neighbor-identity semantics, same gate)
        "sim_ann_lsh_exact", "sim_ann_ivf_exact",
        # ... their recall metrics, which load the same gated table
        "sim_ann_lsh_recall", "sim_ann_ivf_recall",
        # ... and directed containment, keyed on doc_id like the
        # jaccard family
        "dedup_containment",
    }
    bad = []
    for name, r in results.items():
        if r["fail"] is None:
            bad.append(f"{name}: selfcheck did not complete: {r['tail']!r}")
            continue
        if r["fail"]:
            bad.append(f"{name}: {r['fail']} failures {r['failures']}")
        if name == "dupkeys":
            if set(r["contracts"]) != contract:
                bad.append(
                    "dupkeys: typed-contract set mismatch: "
                    f"got {sorted(r['contracts'])}"
                )
        elif r.get("contract"):
            bad.append(f"{name}: unexpected typed contracts {r['contracts']}")
    for b in bad:
        print("REGRESSION:", b)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

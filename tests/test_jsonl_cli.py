"""JSONL source semantics + end-to-end CLI subprocess test —
mirrors spec/bin_job_spec.rb (exit codes, stderr routing, multi-line
output parity, corrupt-line tolerance)."""

from __future__ import annotations

import hashlib
import json
import subprocess
import sys
from pathlib import Path

from pyspark.sql import functions as F

from llm_batch_processor_spark.job.cli import _spread
from llm_batch_processor_spark.sources.jsonl import read_records

REPO = str(Path(__file__).resolve().parent.parent)


def test_read_records_contract(spark, tmp_path):
    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": "a", "texts": {"input": "hi"}, "images": ["x"]}\n'
        '{"id": "b"}\n'
        "\n"
        '{"id": "c", "texts": invalid}\n',
        encoding="utf-8",
    )
    good, corrupt = read_records(spark, str(p))
    g = {r["id"]: r for r in good.collect()}
    assert set(g) == {"a", "b"}
    assert g["a"]["texts"] == {"input": "hi"} and g["a"]["images"] == ["x"]
    # missing texts -> {}, missing images -> [] (job_processor.rb:45-46)
    assert g["b"]["texts"] == {} and g["b"]["images"] == []
    bad = corrupt.collect()
    assert len(bad) == 1 and "invalid" in bad[0]["raw"]


def _write_records(path, ids):
    path.write_text(
        "".join(json.dumps({"id": i, "texts": {"input": i}}) + "\n" for i in ids),
        encoding="utf-8",
    )


def test_spread_one_split_input_over_every_slot(spark, count_jobs, tmp_path):
    # one file is one scan split: the spread round-robins it over every
    # task slot, and deciding so fires no Spark job
    p = tmp_path / "in.jsonl"
    ids = [f"r{i:02d}" for i in range(24)]
    _write_records(p, ids)
    good, _ = read_records(spark, str(p))
    slots = spark.sparkContext.defaultParallelism
    assert good.rdd.getNumPartitions() == 1 < slots
    spread, jobs = count_jobs(lambda: _spread(good))
    assert jobs == 0
    parts = spread.select(F.spark_partition_id().alias("p")).distinct().collect()
    assert sorted(r["p"] for r in parts) == list(range(slots))
    assert sorted(r["id"] for r in spread.collect()) == ids


def test_spread_leaves_input_with_enough_splits_unshuffled(spark, tmp_path):
    slots = spark.sparkContext.defaultParallelism
    for f in range(slots):
        _write_records(tmp_path / f"part-{f}.jsonl", [f"f{f}-{i}" for i in range(3)])
    good, _ = read_records(spark, str(tmp_path))
    assert good.rdd.getNumPartitions() >= slots
    spread = _spread(good)
    assert spread.rdd.getNumPartitions() == good.rdd.getNumPartitions()
    assert "Exchange" not in spread._jdf.queryExecution().executedPlan().toString()


def test_cli_end_to_end(tmp_path):
    tmpl = tmp_path / "t.j2"
    tmpl.write_text("Q: {{ texts['input'] }}", encoding="utf-8")
    job = tmp_path / "job.yml"
    job.write_text(
        f"id: cli-test\nerb_filepath: {tmpl}\nbackend_endpoint: mock://x\n"
        "model: m\noutput_label: answer\nconcurrency: 2\n",
        encoding="utf-8",
    )
    stdin = (
        '{"id": "1", "texts": {"input": "hello"}}\n'
        '{"id": "2", "texts": {"input": "world"}}\n'
        "not json at all\n"
    )
    proc = subprocess.run(
        [sys.executable, "-m", "llm_batch_processor_spark.job.cli", str(job),
         "--backend", "mock", "--master", "local[2]"],
        input=stdin, capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    # per-record problems never abort: exit 0 (spec/bin_job_spec.rb:128-153)
    assert proc.returncode == 0, proc.stderr[-2000:]
    out_lines = [l for l in proc.stdout.splitlines() if l.strip()]
    recs = {json.loads(l)["id"]: json.loads(l) for l in out_lines}
    assert set(recs) == {"1", "2"}
    digest = hashlib.md5(b"Q: hello").hexdigest()[:8]
    assert recs["1"]["texts"]["answer"] == f"MOCK {digest}"
    assert recs["1"]["texts"]["input"] == "hello"
    assert "malformed JSON line" in proc.stderr


def test_cli_stdout_preserves_input_order(tmp_path):
    # the reference's sequential loop emits output lines in INPUT order
    # (spec/bin_job_spec.rb:98-107: lines[0] is record 1, lines[1] is
    # record 2) — the CLI's stdout mode must sort by input position even
    # though the map itself runs partition-parallel
    tmpl = tmp_path / "t.j2"
    tmpl.write_text("Q: {{ texts['input'] }}", encoding="utf-8")
    job = tmp_path / "job.yml"
    job.write_text(
        f"id: order-test\nerb_filepath: {tmpl}\nbackend_endpoint: mock://x\n"
        "model: m\noutput_label: answer\n",
        encoding="utf-8",
    )
    n = 40
    stdin = "".join(
        json.dumps({"id": f"r{i:03d}", "texts": {"input": f"msg {i}"}}) + "\n"
        for i in range(n)
    )
    proc = subprocess.run(
        [sys.executable, "-m", "llm_batch_processor_spark.job.cli", str(job),
         "--backend", "mock", "--master", "local[8]"],
        input=stdin, capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = [json.loads(l)["id"] for l in proc.stdout.splitlines() if l.strip()]
    assert got == [f"r{i:03d}" for i in range(n)]


def test_cli_bad_args_and_missing_file(tmp_path):
    r1 = subprocess.run(
        [sys.executable, "-m", "llm_batch_processor_spark.job.cli"],
        capture_output=True, text=True, cwd=REPO, timeout=60,
    )
    assert r1.returncode == 1 and "Usage" in (r1.stderr + r1.stdout)
    r2 = subprocess.run(
        [sys.executable, "-m", "llm_batch_processor_spark.job.cli", "/no/such.yml"],
        capture_output=True, text=True, cwd=REPO, timeout=60,
    )
    assert r2.returncode == 1 and "not found" in r2.stderr

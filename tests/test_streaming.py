"""Structured Streaming smoke tests: the LLM job under readStream
(file-source micro-batches, availableNow), watermarked tumbling
windows, and the applyInPandasWithState sessionizer.

The reference's "stream" is blocking stdin (lib/job_processor.rb:16);
these pin that the SAME operators run incrementally with checkpointed
state and that late data beyond the watermark is bounded out.
"""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from llm_batch_processor_spark.job.backend import MockChatBackend
from llm_batch_processor_spark.job.spec import JobSpec
from llm_batch_processor_spark.streaming.job import run_stream_job
from llm_batch_processor_spark.streaming.stateful import sessionize_stateful
from llm_batch_processor_spark.streaming.windows import tumbling_counts_stream

EVENT_SCHEMA = StructType(
    [
        StructField("ts", TimestampType()),
        StructField("user_id", StringType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def _await(query, timeout_s: int = 120) -> None:
    assert query.awaitTermination(timeout_s), "stream did not finish in time"


def test_stream_job_matches_batch_and_routes_errors(spark, tmp_path):
    inp, out, errs, ckpt = (
        tmp_path / "in",
        tmp_path / "out",
        tmp_path / "errs",
        tmp_path / "ckpt",
    )
    inp.mkdir()
    recs = [{"id": f"r{i}", "texts": {"input": f"msg {i}"}} for i in range(6)]
    (inp / "a.jsonl").write_text(
        "\n".join(json.dumps(r) for r in recs[:3]) + "\n{not json}\n"
    )
    (inp / "b.jsonl").write_text(
        "\n".join(json.dumps(r) for r in recs[3:]) + "\n\n"  # blank: silent skip
    )

    spec = JobSpec.from_dict(
        dict(
            id="s",
            erb_source="Say: {{ texts['input'] }}",
            backend_endpoint="mock://x",
            model="m1",
            output_label="resp",
        )
    )
    q = run_stream_job(
        spark,
        spec,
        str(inp),
        str(out),
        str(ckpt),
        MockChatBackend(),
        error_path=str(errs),
        max_files_per_trigger=1,  # force 2 micro-batches
    )
    _await(q)

    got = {
        r["id"]: r["texts"]["resp"]
        for r in spark.read.json(str(out)).collect()
    }
    # every good record enriched, exactly once (checkpointed, no dupes)
    import hashlib

    want = {
        r["id"]: "MOCK " + hashlib.md5(f"Say: {r['texts']['input']}".encode()).hexdigest()[:8]
        for r in recs
    }
    assert got == want
    # corrupt line landed in the dead-letter sink; job did not die (A2/A3)
    err_lines = [json.loads(r["value"]) for r in spark.read.text(str(errs)).collect()]
    assert any("corrupt record" in e["error"] for e in err_lines)


def test_stream_job_lands_every_line_exactly_once(spark, tmp_path):
    """Backend failures and corrupt lines in the same micro-batches: the
    error sink holds one row per failing record and one per corrupt
    line, and the ok sink holds every other record."""
    inp, out, errs, ckpt = (
        tmp_path / "in",
        tmp_path / "out",
        tmp_path / "errs",
        tmp_path / "ckpt",
    )
    inp.mkdir()
    good = [f"g{i}" for i in range(5)]
    failing = ["f0", "f1", "f2"]

    def rec(i, text):
        return json.dumps({"id": i, "texts": {"input": text}})

    (inp / "a.jsonl").write_text(
        "\n".join([rec("g0", "a"), rec("f0", "FAILME x"), "{bad one", rec("g1", "b")])
        + "\n\n"
    )
    (inp / "b.jsonl").write_text(
        "\n".join(
            [rec("f1", "FAILME y"), rec("g2", "c"), '{"id": "bad two"', rec("g3", "d"),
             rec("f2", "FAILME z"), rec("g4", "e"), "[1, 2]"]
        )
        + "\n"
    )
    spec = JobSpec.from_dict(
        dict(
            id="once",
            erb_source="Say: {{ texts['input'] }}",
            backend_endpoint="mock://x",
            model="m1",
            output_label="resp",
            max_retries=0,
        )
    )
    q = run_stream_job(
        spark,
        spec,
        str(inp),
        str(out),
        str(ckpt),
        MockChatBackend(fail_marker="FAILME"),
        error_path=str(errs),
        max_files_per_trigger=1,
    )
    _await(q)

    ok_ids = [r["id"] for r in spark.read.json(str(out)).collect()]
    assert sorted(ok_ids) == good
    err_rows = [json.loads(r["value"]) for r in spark.read.text(str(errs)).collect()]
    failed = sorted(e["id"] for e in err_rows if "id" in e)
    assert failed == failing
    assert all("RuntimeError" in e["error"] for e in err_rows if "id" in e)
    corrupt = sorted(e["error"] for e in err_rows if "id" not in e)
    assert corrupt == [
        'corrupt record: [1, 2]',
        'corrupt record: {"id": "bad two"',
        "corrupt record: {bad one",
    ]


def _write_events(path, rows):
    path.mkdir(exist_ok=True)
    name = f"{len(list(path.iterdir())):03d}.json"
    (path / name).write_text(
        "\n".join(
            json.dumps(
                {"ts": ts, "user_id": u, "event_type": et, "value": v}
            )
            for ts, u, et, v in rows
        )
    )
    time.sleep(1.1)  # file-source ordering is by mod time; keep it strict


def test_tumbling_stream_emits_closed_windows_and_drops_late(spark, tmp_path):
    src, ckpt = tmp_path / "events", tmp_path / "ckpt"
    # batch 1: two 10-min windows starting 00:00 and 00:10
    _write_events(
        src,
        [
            ("2026-01-01 00:01:00", "u1", "click", 1.0),
            ("2026-01-01 00:05:00", "u2", "click", 1.0),
            ("2026-01-01 00:11:00", "u1", "view", 1.0),
        ],
    )
    # batch 2: advances the watermark far past both batch-1 windows
    _write_events(src, [("2026-01-01 06:00:00", "u3", "click", 1.0)])
    # batch 3: the advanced watermark takes effect (Spark applies the
    # updated watermark to the batch AFTER the one that moved max event
    # time); both batch-1 windows are emitted here
    _write_events(src, [("2026-01-01 06:30:00", "u3", "click", 1.0)])
    # batch 4: a late event for the (already emitted) 00:00 window, now
    # beyond the in-effect watermark -> must be DROPPED, not re-emitted
    _write_events(src, [("2026-01-01 00:02:00", "u9", "click", 1.0)])

    events = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    counts = tumbling_counts_stream(events, "10 minutes", "30 minutes")
    q = (
        counts.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = {
        (str(r["win_start"]), r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    # both batch-1 windows were closed by the watermark jump and emitted
    # exactly once, WITHOUT the late u9 event
    assert got[("2026-01-01 00:00:00", "click")] == 2
    assert got[("2026-01-01 00:10:00", "view")] == 1
    # the 06:00 window is still open (nothing after it) -> not emitted
    assert not any(k[0].startswith("2026-01-01 06") for k in got)


def test_sliding_stream_lands_events_in_overlapping_windows(spark, tmp_path):
    from llm_batch_processor_spark.streaming.windows import (
        sliding_counts_stream,
    )

    src, ckpt = tmp_path / "events", tmp_path / "ckpt"
    # one event at 00:15 -> two 20-min/10-min-slide windows:
    # [00:00,00:20) and [00:10,00:30)
    _write_events(src, [("2026-01-01 00:15:00", "u1", "click", 1.0)])
    # watermark jump closes both
    _write_events(src, [("2026-01-01 06:00:00", "u3", "view", 1.0)])
    _write_events(src, [("2026-01-01 06:30:00", "u3", "view", 1.0)])

    events = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    counts = sliding_counts_stream(events, "20 minutes", "10 minutes", "30 minutes")
    q = (
        counts.writeStream.format("memory")
        .queryName("sliding_test")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = {
        (str(r["win_start"]), r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM sliding_test").collect()
    }
    # the single click appears in BOTH overlapping closed windows —
    # the bounded width/slide fan-out the batch twin documents
    assert got[("2026-01-01 00:00:00", "click")] == 1
    assert got[("2026-01-01 00:10:00", "click")] == 1


def test_stateful_sessionizer_gap_close_and_timeout(spark, tmp_path):
    src, ckpt = tmp_path / "events", tmp_path / "ckpt"
    # batch 1: one session for u1 (2 events, 10 min apart)
    _write_events(
        src,
        [
            ("2026-01-01 00:00:00", "u1", "click", 1.0),
            ("2026-01-01 00:10:00", "u1", "click", 2.0),
        ],
    )
    # batch 2: u1 event 2h later -> gap-closes session 1 in-stream;
    # far-future u2 event pushes the watermark past session 2's timeout
    _write_events(
        src,
        [
            ("2026-01-01 02:10:00", "u1", "click", 4.0),
            ("2026-01-01 08:00:00", "u2", "click", 1.0),
        ],
    )
    # batch 3: lets the state-store fire session 2's event-time timeout
    _write_events(src, [("2026-01-01 09:00:00", "u2", "click", 1.0)])

    events = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    sessions = sessionize_stateful(events, gap_seconds=1800, watermark="30 minutes")
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    rows = spark.sql(
        "SELECT * FROM sessions_test WHERE user_id = 'u1' ORDER BY sess_start"
    ).collect()
    # session 1: closed by the in-stream gap (batch 2)
    assert len(rows) >= 1
    s1 = rows[0]
    assert str(s1["sess_start"]) == "2026-01-01 00:00:00"
    assert str(s1["sess_end"]) == "2026-01-01 00:10:00"
    assert s1["n_events"] == 2 and s1["value_sum"] == pytest.approx(3.0)
    if len(rows) > 1:  # session 2 emitted via event-time timeout in batch 3
        s2 = rows[1]
        assert str(s2["sess_start"]) == "2026-01-01 02:10:00"
        assert s2["n_events"] == 1 and s2["value_sum"] == pytest.approx(4.0)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    from llm_batch_processor_spark.streaming.dedup import dedup_stream

    src, ckpt = tmp_path / "events", tmp_path / "ckpt"
    # batch 1: e1 twice (in-batch dup) + e2
    _write_events(
        src,
        [
            ("2026-01-01 00:01:00", "e1", "click", 1.0),
            ("2026-01-01 00:01:00", "e1", "click", 1.0),
            ("2026-01-01 00:02:00", "e2", "click", 1.0),
        ],
    )
    # batch 2: e1 again (cross-batch dup within watermark) + e3
    _write_events(
        src,
        [
            ("2026-01-01 00:03:00", "e1", "click", 1.0),
            ("2026-01-01 00:04:00", "e3", "click", 1.0),
        ],
    )

    events = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    # user_id doubles as the record key in this fixture schema
    deduped = dedup_stream(events, ["user_id"], watermark="30 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = [r["user_id"] for r in spark.sql("SELECT user_id FROM dedup_test").collect()]
    assert sorted(got) == ["e1", "e2", "e3"]  # each key exactly once


def test_streaming_dedup_against_static_corpus(spark, tmp_path):
    # stream-static anti-join: zero streaming state, the seen-set lives
    # in a batch digest table (streaming twin of dedup_incremental)
    from llm_batch_processor_spark.streaming.dedup import dedup_stream_against_corpus

    src, ckpt = tmp_path / "docs", tmp_path / "ckpt2"
    src.mkdir()
    schema = StructType(
        [StructField("id", StringType()), StructField("text", StringType())]
    )
    rows = [
        {"id": "n1", "text": "fresh content one"},
        {"id": "n2", "text": "already seen content"},
        {"id": "n3", "text": "fresh content two"},
    ]
    (src / "batch.jsonl").write_text("\n".join(json.dumps(r) for r in rows))

    seen = spark.createDataFrame(
        [("already seen content",), ("some other corpus doc",)], "text STRING"
    ).select(F.md5("text").alias("h"))

    stream = spark.readStream.schema(schema).json(str(src))
    fresh = dedup_stream_against_corpus(stream, seen, content_col="text")
    q = (
        fresh.writeStream.format("memory")
        .queryName("corpus_dedup_test")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = sorted(
        r["id"] for r in spark.sql("SELECT id FROM corpus_dedup_test").collect()
    )
    assert got == ["n1", "n3"]  # the already-seen record never reaches the sink


CHANGE_SCHEMA = StructType(
    [
        StructField("ts", TimestampType()),
        StructField("doc_id", StringType()),
        StructField("op", StringType()),
        StructField("payload", StringType()),
    ]
)


def _write_changes(src, rows):
    src.mkdir(parents=True, exist_ok=True)
    path = src / f"c{int(time.time_ns())}.jsonl"
    path.write_text(
        "\n".join(
            json.dumps({"ts": ts, "doc_id": k, "op": op, "payload": p})
            for ts, k, op, p in rows
        )
    )


def test_streaming_cdc_merge_folds_batches(spark, tmp_path):
    from llm_batch_processor_spark.streaming.merge import (
        read_snapshot,
        start_merge_stream,
    )

    src, ckpt, snap = tmp_path / "chg", tmp_path / "ckpt", tmp_path / "snap"
    # batch 1: insert a and b; in-batch conflict on c (later U wins)
    _write_changes(
        src,
        [
            ("2026-01-01 00:00:01", "a", "I", "a-v1"),
            ("2026-01-01 00:00:02", "b", "I", "b-v1"),
            ("2026-01-01 00:00:03", "c", "I", "c-v1"),
            ("2026-01-01 00:00:04", "c", "U", "c-v2"),
        ],
    )
    # batch 2: update a, delete b, replayed delete+insert tie on d at
    # the same timestamp (delete must win)
    _write_changes(
        src,
        [
            ("2026-01-01 00:01:01", "a", "U", "a-v2"),
            ("2026-01-01 00:01:02", "b", "D", ""),
            ("2026-01-01 00:01:03", "d", "I", "d-v1"),
            ("2026-01-01 00:01:03", "d", "D", ""),
        ],
    )
    changes = (
        spark.readStream.schema(CHANGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = start_merge_stream(
        changes,
        str(snap),
        key_col="doc_id",
        ts_col="ts",
        checkpoint_dir=str(ckpt),
    )
    _await(q)
    # event-time precedence makes the result independent of micro-batch
    # arrival order (the two change files may share an mtime, so the
    # file source is free to deliver them in either order)
    got = {
        r["doc_id"]: r["payload"]
        for r in read_snapshot(spark, str(snap)).collect()
    }
    assert got == {"a": "a-v2", "c": "c-v2"}
    # deletes persist as tombstones guarding their event time
    raw = {
        r["doc_id"]: r["op"]
        for r in spark.read.parquet(str(snap)).collect()
    }
    assert raw["b"] == "D" and raw["d"] == "D"


def test_stateful_throttle_anchors_on_emitted(spark, tmp_path):
    from llm_batch_processor_spark.streaming.stateful import throttle_stateful

    src, ckpt = tmp_path / "events", tmp_path / "ckpt"
    # burst at 0s,2s,4s,6s: throttle(5s) emits 0s and 6s-2s?? no —
    # anchored on EMITTED: 0s emits, 2s/4s blocked (<5s since 0s),
    # 6s emits (>=5s since 0s). A lag()-window debounce would instead
    # drop 6s (gap from 4s is 2s) — the semantics windows can't express.
    _write_events(
        src,
        [
            ("2026-01-01 00:00:00", "u1", "click", 1.0),
            ("2026-01-01 00:00:02", "u1", "click", 2.0),
            ("2026-01-01 00:00:04", "u1", "click", 3.0),
            ("2026-01-01 00:00:06", "u1", "click", 4.0),
        ],
    )
    # second batch far later: state timed out, emits again
    _write_events(src, [("2026-01-01 02:00:00", "u1", "click", 9.0)])

    events = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        throttle_stateful(events, interval_seconds=5)
        .writeStream.format("memory")
        .queryName("throttle_test")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = sorted(
        r["value"]
        for r in spark.sql("SELECT value FROM throttle_test").collect()
    )
    assert got == [1.0, 4.0, 9.0]


def test_cdc_resolve_and_merge_units(spark):
    """Batch-level semantics of the CDC merge, isolated from streaming."""
    from llm_batch_processor_spark.streaming.merge import (
        merge_snapshot,
        resolve_batch,
    )

    changes = spark.createDataFrame(
        [
            ("k1", "I", 1, "v1"),
            ("k1", "U", 3, "v3"),
            ("k1", "U", 2, "v2"),  # older update loses
            ("k2", "I", 5, "x1"),
            ("k2", "D", 5, ""),  # same-ts delete beats upsert
        ],
        "doc_id string, op string, ts long, payload string",
    )
    resolved = {
        r["doc_id"]: (r["op"], r["payload"])
        for r in resolve_batch(changes, "doc_id", "ts").collect()
    }
    assert resolved == {"k1": ("U", "v3"), "k2": ("D", "")}

    snap = spark.createDataFrame(
        [("k1", "U", 0, "old"), ("k3", "U", 0, "keep")],
        "doc_id string, op string, ts long, payload string",
    )
    merged = merge_snapshot(
        snap, resolve_batch(changes, "doc_id", "ts"), "doc_id"
    )
    live = {
        r["doc_id"]: r["payload"]
        for r in merged.filter("op != 'D'").collect()
    }
    assert live == {"k1": "v3", "k3": "keep"}  # k2 inserted-then-deleted
    # k2's delete persists as a tombstone carrying its event time
    assert {
        r["doc_id"] for r in merged.filter("op = 'D'").collect()
    } == {"k2"}


def test_cdc_merge_event_time_precedence_across_batches(spark):
    """A later micro-batch carrying OLDER changes must not overwrite
    newer snapshot state, and a stale upsert must not resurrect a
    newer delete (ADVICE r03: precedence is event time, not batch
    arrival order)."""
    from llm_batch_processor_spark.streaming.merge import (
        merge_snapshot,
        resolve_batch,
    )

    snap = spark.createDataFrame(
        [("k1", "U", 10, "new"), ("k2", "D", 10, "")],
        "doc_id string, op string, ts long, payload string",
    )
    late = spark.createDataFrame(
        [("k1", "U", 5, "stale"), ("k2", "I", 5, "zombie"), ("k2", "U", 10, "tie")],
        "doc_id string, op string, ts long, payload string",
    )
    merged = {
        r["doc_id"]: (r["op"], r["ts"], r["payload"])
        for r in merge_snapshot(
            snap, resolve_batch(late, "doc_id", "ts"), "doc_id"
        ).collect()
    }
    assert merged["k1"] == ("U", 10, "new")  # stale upsert lost
    assert merged["k2"][0] == "D"  # tombstone survives tie + zombie


def test_stream_static_enrich_broadcasts_dim_and_keeps_unmatched(
    spark, tmp_path
):
    from llm_batch_processor_spark.streaming.joins import (
        enrich_stream_static,
    )

    src, ckpt = tmp_path / "events", tmp_path / "ckpt"
    _write_events(
        src,
        [
            ("2026-01-01 00:00:00", "u1", "click", 1.0),
            ("2026-01-01 00:01:00", "u2", "view", 2.0),
            ("2026-01-01 00:02:00", "u9", "click", 3.0),  # no dim row
        ],
    )
    dim = spark.createDataFrame(
        [("u1", "gold"), ("u2", "silver")], ["user_id", "segment"]
    )
    events = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        enrich_stream_static(events, dim)
        .writeStream.format("memory")
        .queryName("enrich_test")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = {
        r["user_id"]: r["segment"]
        for r in spark.sql("SELECT * FROM enrich_test").collect()
    }
    # matched events carry the dim attribute; unmatched kept with NULL
    assert got == {"u1": "gold", "u2": "silver", "u9": None}


def test_stream_stream_interval_join_attributes_within_gap(spark, tmp_path):
    from llm_batch_processor_spark.streaming.joins import (
        interval_join_stream,
    )

    csrc, psrc, ckpt = tmp_path / "clicks", tmp_path / "purch", tmp_path / "ck"
    _write_events(
        csrc,
        [
            ("2026-01-01 00:00:00", "u1", "click", 1.0),
            ("2026-01-01 00:30:00", "u1", "click", 2.0),  # > gap before buy
            ("2026-01-01 00:55:00", "u2", "click", 3.0),  # other user
        ],
    )
    _write_events(
        psrc,
        [
            ("2026-01-01 00:05:00", "u1", "purchase", 10.0),
            ("2026-01-01 01:00:00", "u1", "purchase", 20.0),
        ],
    )
    clicks = spark.readStream.schema(EVENT_SCHEMA).json(str(csrc))
    purchases = spark.readStream.schema(EVENT_SCHEMA).json(str(psrc))
    q = (
        interval_join_stream(clicks, purchases, "10 minutes", "2 hours")
        .writeStream.format("memory")
        .queryName("ij_test")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = {
        (r["user_id"], str(r["c_ts"]), str(r["p_ts"]))
        for r in spark.sql("SELECT * FROM ij_test").collect()
    }
    # only the click within 10 min BEFORE the same user's purchase joins:
    # u1 00:00 click -> 00:05 purchase. The 00:30 click is 30 min before
    # the 01:00 purchase (outside gap), u2's click is another user.
    assert got == {
        ("u1", "2026-01-01 00:00:00", "2026-01-01 00:05:00")
    }


def test_exactly_once_sink_idempotent_under_replay(spark, tmp_path):
    import shutil

    from llm_batch_processor_spark.streaming.job import run_stream_job

    inp, out, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    inp.mkdir()
    recs = [{"id": f"r{i}", "texts": {"input": f"msg {i}"}} for i in range(4)]
    (inp / "a.jsonl").write_text("\n".join(json.dumps(r) for r in recs))

    spec = JobSpec.from_dict(
        dict(
            id="xo",
            erb_source="Say: {{ texts['input'] }}",
            backend_endpoint="mock://x",
            model="m1",
            output_label="resp",
        )
    )

    def run():
        q = run_stream_job(
            spark,
            spec,
            str(inp),
            str(out),
            str(ckpt),
            MockChatBackend(),
            available_now=True,
            exactly_once=True,
        )
        _await(q)

    run()
    first = spark.read.json(str(out)).collect()
    assert len(first) == 4

    # simulate a lost checkpoint: the source replays from scratch and
    # foreachBatch re-runs the SAME batch ids. The batch_id-partitioned
    # dynamic overwrite must replace, not append.
    shutil.rmtree(ckpt)
    run()
    replayed = spark.read.json(str(out)).collect()
    assert len(replayed) == 4, "replay duplicated rows — sink not idempotent"
    assert {r["id"] for r in replayed} == {"r0", "r1", "r2", "r3"}


def test_stream_llm_backpressure_bounded_inflight_and_retry_budget(
    spark, tmp_path
):
    """VERDICT r7 item 7: the streaming llm_map under a FLAKY real-HTTP
    stub backend (tests/test_stub_http_backend.py server) must
    (a) bound in-flight requests to the spec's concurrency — the
    backpressure knob a rate-limited 100 TB endpoint needs (observed
    server-side: max simultaneous requests), (b) honor the bounded
    retry budget per record across micro-batch processing (transient
    500s recover, permanent 500s consume exactly max_retries+1
    attempts then dead-letter), and (c) finish with every record
    accounted for exactly once."""
    import threading
    from http.server import ThreadingHTTPServer

    from test_stub_http_backend import _State, _make_handler, _ok, _user_prompt

    from llm_batch_processor_spark.job.backend import OpenAIChatBackend

    state = _State()
    server = ThreadingHTTPServer(("127.0.0.1", 0), _make_handler(state))
    threading.Thread(target=server.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{server.server_address[1]}"
    try:

        def script(body, n_prior):
            p = _user_prompt(body)
            if "dead" in p:
                return (500, {"error": "always down"}, 0.02)
            if "flaky" in p and n_prior == 0:
                return (500, {"error": "transient"}, 0.02)
            # the delay forces request overlap so max_inflight actually
            # measures the pool's parallelism, not serial accidents
            return (200, _ok(f"OK {p}"), 0.15)

        state.reset(script)

        inp, out, errs, ckpt = (
            tmp_path / "in", tmp_path / "out",
            tmp_path / "errs", tmp_path / "ckpt",
        )
        inp.mkdir()
        recs = [{"id": f"r{i}", "texts": {"input": f"msg {i}"}} for i in range(10)]
        recs.append({"id": "flaky1", "texts": {"input": "flaky one"}})
        recs.append({"id": "dead1", "texts": {"input": "dead letter"}})
        # ONE file -> one micro-batch, one scan partition: the only
        # parallelism is the inference pool itself
        (inp / "a.jsonl").write_text("\n".join(json.dumps(r) for r in recs) + "\n")

        spec = JobSpec.from_dict(
            dict(
                id="bp",
                erb_source="Say: {{ texts['input'] }}",
                backend_endpoint=base,
                model="m1",
                output_label="resp",
                concurrency=3,   # the rate limit under test
                max_retries=2,
                request_timeout=10.0,
            )
        )
        q = run_stream_job(
            spark, spec, str(inp), str(out), str(ckpt),
            OpenAIChatBackend(base), error_path=str(errs),
        )
        _await(q)

        ok_rows = {r["id"]: r["texts"]["resp"] for r in spark.read.json(str(out)).collect()}
        err_rows = [
            json.loads(r["value"]) for r in spark.read.text(str(errs)).collect()
        ]
        # (c) exactly-once accounting: 11 ok (10 normal + recovered
        # flaky), 1 dead-lettered
        assert len(ok_rows) == 11 and ok_rows["flaky1"] == "OK Say: flaky one"
        assert [e["id"] for e in err_rows] == ["dead1"]
        assert "500" in err_rows[0]["error"]
        # (b) retry budget: permanent-500 record = 1 + max_retries
        # attempts; flaky = 2; normals = 1 each
        by_prompt = {}
        for r in state.snapshot():
            by_prompt[r["prompt"]] = by_prompt.get(r["prompt"], 0) + 1
        assert by_prompt["Say: dead letter"] == 3
        assert by_prompt["Say: flaky one"] == 2
        assert all(
            n == 1 for p, n in by_prompt.items()
            if "dead" not in p and "flaky" not in p
        )
        # (a) bounded in-flight: never above the concurrency knob, and
        # the pool did actually overlap requests (the 0.15 s service
        # time makes serial execution impossible to confuse for it)
        assert state.max_inflight <= spec.concurrency
        assert state.max_inflight >= 2
    finally:
        server.shutdown()
        server.server_close()

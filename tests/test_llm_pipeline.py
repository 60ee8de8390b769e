"""llm_map pipeline golden tests with deterministic mock backends —
mirrors spec/job_processor_spec.rb (enrich contract, mocked client),
spec/system_prompt_spec.rb (blank-skip), spec/image_processing_spec.rb
(multimodal assembly), spec/json_mode_spec.rb (response_format attach),
spec/bin_job_spec.rb:128-137 (per-record error routing)."""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import functions as F

from llm_batch_processor_spark.job.backend import (
    IntrospectingBackend,
    MockChatBackend,
)
from llm_batch_processor_spark.job.pipeline import RECORD_SCHEMA, infer_once, llm_map
from llm_batch_processor_spark.job.spec import JobSpec
from llm_batch_processor_spark.sources.jsonl import parse_record_lines


def _spec(**over):
    base = dict(
        id="t", erb_source="Say: {{ texts['input'] }}", backend_endpoint="mock://x",
        model="m1", output_label="resp",
    )
    base.update(over)
    return JobSpec.from_dict(base)


def _records(spark, rows):
    return spark.createDataFrame(rows, RECORD_SCHEMA)


def test_enrich_contract_and_golden_mock(spark):
    rows = [("a", {"input": "hello", "keep": "v"}, []), ("b", {"input": "世界"}, None)]
    res = llm_map(_records(spark, rows), _spec(), MockChatBackend())
    out = {r["id"]: r for r in res.ok().collect()}
    assert set(out) == {"a", "b"}
    # output = input texts + one new key (job_processor.rb:43-52)
    assert set(out["a"]["texts"]) == {"input", "keep", "resp"}
    assert out["a"]["texts"]["keep"] == "v"
    digest = hashlib.md5("Say: hello".encode()).hexdigest()[:8]
    # think block stripped (A9) + golden mock value
    assert out["a"]["texts"]["resp"] == f"MOCK {digest}"
    digest_b = hashlib.md5("Say: 世界".encode()).hexdigest()[:8]
    assert out["b"]["texts"]["resp"] == f"MOCK {digest_b}"
    assert out["b"]["images"] == []


def test_existing_output_label_is_overwritten_not_fatal(spark):
    # the reference OVERWRITES an existing output_label key
    # (job_processor.rb:50, Hash#merge last-wins); a bare map_concat
    # under mapKeyDedupPolicy=EXCEPTION would abort the whole job on
    # such a record instead
    rows = [("a", {"input": "hello", "resp": "stale value"}, [])]
    res = llm_map(_records(spark, rows), _spec(), MockChatBackend())
    out = res.ok().collect()
    assert len(out) == 1
    texts = out[0]["texts"]
    digest = hashlib.md5("Say: hello".encode()).hexdigest()[:8]
    assert texts["resp"] == f"MOCK {digest}"  # overwritten, not duplicated
    assert sorted(texts) == ["input", "resp"]


def test_error_routing_keeps_job_alive(spark):
    rows = [("good", {"input": "fine"}, []), ("bad", {"input": "BOOM now"}, [])]
    res = llm_map(
        _records(spark, rows), _spec(max_retries=0),
        MockChatBackend(fail_marker="BOOM"),
    )
    ok = res.ok().collect()
    errs = res.errors().collect()
    assert [r["id"] for r in ok] == ["good"]
    assert len(errs) == 1 and errs[0]["id"] == "bad"
    assert "RuntimeError" in errs[0]["error"]
    # failed record keeps its original texts, no enrichment key
    assert "resp" not in errs[0]["texts"]


def test_system_prompt_attached_and_blank_skipped(spark):
    rows = [("a", {"input": "x", "sys": "be brief"}, []), ("b", {"input": "y"}, [])]
    spec = _spec(system_erb_source="{{ texts['sys'] }}")
    res = llm_map(_records(spark, rows), spec, IntrospectingBackend())
    out = {r["id"]: json.loads(r["texts"]["resp"]) for r in res.ok().collect()}
    assert out["a"]["roles"] == ["system", "user"]
    # blank-rendered system prompt is dropped (job_processor.rb:142)
    assert out["b"]["roles"] == ["user"]


def test_multimodal_content_assembly(spark):
    rows = [("img", {"input": "look"}, ["QUJD", "REVG"]), ("plain", {"input": "z"}, [])]
    spec = _spec(use_images=True)
    res = llm_map(_records(spark, rows), spec, IntrospectingBackend())
    out = {r["id"]: json.loads(r["texts"]["resp"]) for r in res.ok().collect()}
    # text part + 2 image parts (job_processor.rb:212-236)
    assert out["img"]["content_kind"] == "parts" and out["img"]["n_parts"] == 3
    assert out["plain"]["content_kind"] == "str"
    # images pass through unchanged
    imgs = {r["id"]: r["images"] for r in res.ok().collect()}
    assert imgs["img"] == ["QUJD", "REVG"]


def test_response_format_and_params_forwarded(spark):
    rows = [("a", {"input": "x"}, [])]
    spec = _spec(json_mode=True, params={"temperature": 0.3, "max_tokens": 100})
    res = llm_map(_records(spark, rows), spec, IntrospectingBackend())
    seen = json.loads(res.ok().first()["texts"]["resp"])
    assert seen["has_rf"] is True
    assert seen["params"] == {"temperature": 0.3, "max_tokens": 100}
    assert seen["model"] == "m1"


def test_render_error_routed_not_fatal(spark):
    rows = [("a", {"input": "ok"}, [])]
    spec = _spec(erb_source="{{ texts['input'].nonexistent_method() }}")
    res = llm_map(_records(spark, rows), spec, MockChatBackend())
    errs = res.errors().collect()
    assert len(errs) == 1 and "render error" in errs[0]["error"]


def test_quality_gate_queries_survive_punctuation(spark, tmp_path):
    """Regression: pyspark's regexp_extract_all defaults the group
    index to 1; with the group-less punctuation pattern that throws at
    the FIRST document containing punctuation. The synthetic corpus is
    punctuation-free, so the sf1 probe (token-suffixed docs) was the
    first data to detonate it — pin the fix (explicit idx=0) on a
    punctuation-laced corpus here."""
    from llm_batch_processor_spark.queries import all_queries

    rows = [
        (0, "clean words only here ten tokens minimum reached now yes", "en", "web", 57),
        (1, "punct! heavy? doc: with, lots; of~ marks# and$ stuff%", "en", "web", 53),
        (2, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))", "en", "web", 39),
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    qs = all_queries()
    got_qf = {
        (r["lang"], r["kept"]): r["n_docs"]
        for r in qs["quality_filter"].fn(spark, str(tmp_path)).collect()
    }
    # doc 0: 10 tokens, no punct -> kept; doc 1: >30% punct -> dropped;
    # doc 2: <10 tokens -> dropped
    assert got_qf == {("en", True): 1, ("en", False): 2}
    got_pc = qs["pipeline_curate"].fn(spark, str(tmp_path)).collect()
    assert sum(r["n_docs"] for r in got_pc) == 1


def test_infer_once_routes_every_line_once_and_caches_for_the_block(spark):
    """One table holds every non-blank line's outcome: parsed records
    that succeed in ok(), backend failures and corrupt lines in errors(),
    each exactly once; the table is cached only inside the block."""
    lines = [
        json.dumps({"id": "g1", "texts": {"input": "one"}}),
        json.dumps({"id": "f1", "texts": {"input": "FAILME two"}}),
        "{not json",
        "   ",
        json.dumps({"id": "g2", "texts": {"input": "three"}}),
        '["an", "array"]',
        "",
    ]
    good, corrupt = parse_record_lines(
        spark.createDataFrame([(l,) for l in lines], "value string")
    )
    with infer_once(
        good, corrupt, _spec(max_retries=0), MockChatBackend(fail_marker="FAILME")
    ) as out:
        lvl = out.df.storageLevel
        assert lvl.useMemory or lvl.useDisk
        ok = out.ok()
        assert "error" not in ok.columns and "raw" not in ok.columns
        ok_rows = ok.collect()
        err_rows = out.errors().collect()
    lvl = out.df.storageLevel
    assert not (lvl.useMemory or lvl.useDisk)

    assert sorted(r["id"] for r in ok_rows) == ["g1", "g2"]
    assert all("resp" in r["texts"] for r in ok_rows)
    failed = [r for r in err_rows if r["raw"] is None]
    assert [r["id"] for r in failed] == ["f1"]
    assert "RuntimeError" in failed[0]["error"]
    bad = sorted((r for r in err_rows if r["raw"] is not None), key=lambda r: r["raw"])
    assert [r["raw"] for r in bad] == ['["an", "array"]', "{not json"]
    for r in bad:
        assert r["id"] is None
        assert r["error"] == "corrupt record: " + r["raw"]
    # 5 non-blank lines, each in exactly one sink
    assert len(ok_rows) + len(err_rows) == 5

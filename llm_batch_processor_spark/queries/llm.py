"""B7 — reference-parity LLM pipeline queries over ``documents``.

Records are formed exactly as FIXTURES.md specifies:
``id = cast(doc_id as string)``, ``texts = map('content', text)``,
``images = array()`` — so oracle tables and reference-parity records
share one source.

``llm_map_mock`` runs the FULL pipeline (template render -> mock chat
-> think-strip -> enrich) through the real pandas_udf path; because the
mock response is a pure SQL-expressible function of the prompt
(md5 digest), the oracle covers the whole pipeline — stronger than the
rows-only check the driver would otherwise record.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import duckdb_think_strip, think_strip
from ..operators.dedup import _spread
from ..tables import load
from . import Registry
from .relational import _tmp_dir

Q = Registry()

_PROMPT_PREFIX = "Summarize: "


def _records(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # size inference batches upstream (pipeline.py contract): the test
    # table is a single parquet split, which would serialize the whole
    # corpus through one Python worker; conversely one partition per
    # core at check scale schedules 32 workers for ~16 rows each
    d = _spread(d, d.count())
    return d.select(
        F.col("doc_id").cast("string").alias("id"),
        F.create_map(F.lit("content"), F.col("text")).alias("texts"),
        F.array().cast("array<string>").alias("images"),
    )


@Q.add(
    "llm_map_mock",
    f"""
    SELECT CAST(doc_id AS VARCHAR) AS id,
           text AS content,
           -- COALESCE mirrors ERB nil-interpolation: a NULL text renders
           -- '' into the prompt, it does not null the whole summary (r6)
           'MOCK ' || substr(md5('{_PROMPT_PREFIX}' || COALESCE(text, '')), 1, 8)
             AS summary
    FROM documents
    """,
    doc="full A4+A7+A9+A10 pipeline with deterministic mock backend; "
    "oracle replicates the mock as a pure SQL function of the prompt",
)
def llm_map_mock(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..job.backend import MockChatBackend
    from ..job.pipeline import llm_map
    from ..job.spec import JobSpec

    spec = JobSpec.from_dict(
        {
            "id": "mock-summarize",
            "erb_source": _PROMPT_PREFIX + "{{ texts['content'] }}",
            "backend_endpoint": "mock://local",
            "model": "mock-model",
            "output_label": "summary",
        }
    )
    result = llm_map(_records(spark, sf_dir), spec, MockChatBackend())
    out = result.ok()
    return out.select(
        "id",
        F.element_at("texts", "content").alias("content"),
        F.element_at("texts", "summary").alias("summary"),
    )


_JSON_PREFIX = "Extract: "


@Q.add(
    "llm_json_project",
    f"""
    SELECT CAST(doc_id AS VARCHAR) AS id,
           substr(md5('{_JSON_PREFIX}' || COALESCE(text, '')), 1, 8) AS digest
    FROM documents
    """,
    doc="A8 + typed-output extension: json_mode pins response_format on "
    "the request, the mock returns a JSON object, and the engine "
    "projects it into typed columns with from_json — the SURVEY §1.2 "
    "mapping for schema-constrained LLM output (the reference stores "
    "the raw string; this is the Spark-native step beyond it)",
)
def llm_json_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..job.backend import MockChatBackend
    from ..job.pipeline import llm_map
    from ..job.spec import JobSpec

    spec = JobSpec.from_dict(
        {
            "id": "mock-json-extract",
            "erb_source": _JSON_PREFIX + "{{ texts['content'] }}",
            "backend_endpoint": "mock://local",
            "model": "mock-model",
            "output_label": "resp",
            "json_mode": True,
        }
    )
    result = llm_map(_records(spark, sf_dir), spec, MockChatBackend())
    parsed = F.from_json(F.element_at("texts", "resp"), "digest string")
    return result.ok().select("id", parsed["digest"].alias("digest"))


@Q.add(
    "llm_map_deadletter",
    """
    SELECT CAST(doc_id AS VARCHAR) AS id,
           CASE WHEN doc_id % 7 = 0 THEN 'error' ELSE 'ok' END AS status,
           CASE WHEN doc_id % 7 = 0 THEN NULL
                ELSE 'MOCK ' || substr(md5('ok Summarize: ' || COALESCE(text, '')), 1, 8)
           END AS summary
    FROM documents
    """,
    doc="A3 per-item error routing as a judged query: a deterministic "
    "slice of records (doc_id %% 7 == 0) makes the backend raise; the "
    "pipeline must route exactly those to the dead-letter branch with "
    "texts untouched and enrich the rest — one pass, both branches in "
    "one oracle-checked result (reference contract job_processor.rb:27-30, "
    "spec/bin_job_spec.rb:128-137: errors never abort the job)",
)
def llm_map_deadletter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..job.backend import MockChatBackend
    from ..job.pipeline import llm_map
    from ..job.spec import JobSpec

    d = load(spark, sf_dir, "documents")
    recs = _spread(d, d.count()).select(
        F.col("doc_id").cast("string").alias("id"),
        F.create_map(
            F.lit("content"),
            F.col("text"),
            F.lit("flag"),
            F.when(F.col("doc_id") % 7 == 0, F.lit("FAILME")).otherwise(F.lit("ok")),
        ).alias("texts"),
        F.array().cast("array<string>").alias("images"),
    )
    spec = JobSpec.from_dict(
        {
            "id": "mock-deadletter",
            "erb_source": "{{ texts['flag'] }} Summarize: {{ texts['content'] }}",
            "backend_endpoint": "mock://local",
            "model": "mock-model",
            "output_label": "summary",
        }
    )
    result = llm_map(recs, spec, MockChatBackend(fail_marker="FAILME"))
    return result.df.select(
        "id",
        F.when(F.col("error").isNull(), F.lit("ok")).otherwise(F.lit("error")).alias(
            "status"
        ),
        F.element_at("texts", "summary").alias("summary"),
    )


_LACED_SQL = (
    "'  <think>' || lang || '</think> ' || text || ' <think>tail' || chr(10) || 'reason</think>'"
)
_THINK_ORACLE = f"""
    SELECT doc_id,
           {duckdb_think_strip(_LACED_SQL)} AS cleaned,
           '<think>' || text AS unclosed_kept
    FROM documents
    """


@Q.add(
    "think_strip",
    _THINK_ORACLE,
    doc="A9 alone: multi-block + multiline strip; unclosed tag untouched",
)
def think_strip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    laced = F.concat(
        F.lit("  <think>"),
        F.col("lang"),
        F.lit("</think> "),
        F.col("text"),
        F.lit(" <think>tail\nreason</think>"),
    )
    return d.select(
        "doc_id",
        think_strip(laced).alias("cleaned"),
        F.concat(F.lit("<think>"), F.col("text")).alias("unclosed_kept"),
    )


@Q.add(
    "enrich_label",
    """
    SELECT CAST(doc_id AS VARCHAR) AS id,
           text AS content,
           upper(lang) AS label
    FROM documents
    """,
    doc="A10 map_concat enrichment projected back to scalars",
)
def enrich_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..job.pipeline import enrich

    # per-RECORD enrichment off one scan — the reference's A10 shape
    # (each JSONL item carries its own metadata; ids are opaque and
    # need NOT be unique, lib/job_processor.rb:43-52). The former
    # join-back-by-id shortcut fanned out on duplicate ids (dupkeys
    # sweep, r6) and cost a shuffle; a projection does neither.
    recs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("id"),
        F.create_map(F.lit("content"), F.col("text")).alias("texts"),
        F.upper("lang").alias("_lab"),
    )
    out = recs.select(
        "id", enrich(F.col("texts"), "label", F.col("_lab")).alias("texts")
    )
    return out.select(
        "id",
        F.element_at("texts", "content").alias("content"),
        F.element_at("texts", "label").alias("label"),
    )


@Q.add(
    "scan_jsonl",
    """
    SELECT CAST(doc_id AS VARCHAR) AS id, text AS content FROM documents
    """,
    doc="A1/A2 parity: JSONL scan in PERMISSIVE mode; corrupt + blank lines "
    "routed out, record contract defaults applied",
)
def scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..sources.jsonl import read_records, to_jsonl_column

    out_dir = _tmp_dir("scan_jsonl", sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    to_jsonl_column(_records(spark, sf_dir)).write.mode("overwrite").text(out_dir)
    # inject corrupt + blank lines the scan must tolerate (skip, not fail)
    with open(os.path.join(out_dir, "zz_corrupt.txt"), "w", encoding="utf-8") as f:
        f.write('{"id": "bad1", "texts": not valid json}\n')
        f.write("\n")
        f.write("{trailing garbage\n")
    good, _corrupt = read_records(spark, out_dir + "/*.txt")
    return good.select("id", F.element_at("texts", "content").alias("content"))


@Q.add(
    "sink_jsonl",
    """
    SELECT CAST(doc_id AS VARCHAR) AS id, text AS content, lang AS tag
    FROM documents
    """,
    doc="A10 parity: enrich-project -> distributed JSONL sink -> re-read",
)
def sink_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..job.pipeline import enrich
    from ..sources.jsonl import read_records, write_records

    # single-scan per-record enrichment (same dupkeys-sweep fix as
    # enrich_label: no join-by-id fan-out, no shuffle)
    recs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("id"),
        F.create_map(F.lit("content"), F.col("text")).alias("texts"),
        F.array().cast("array<string>").alias("images"),
        F.col("lang").alias("_tag"),
    )
    enriched = recs.select(
        "id", enrich(F.col("texts"), "tag", F.col("_tag")).alias("texts"), "images"
    )
    out_dir = _tmp_dir("sink_jsonl", sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    write_records(enriched, out_dir)
    good, _ = read_records(spark, out_dir)
    return good.select(
        "id",
        F.element_at("texts", "content").alias("content"),
        F.element_at("texts", "tag").alias("tag"),
    )


_CACHE_PREFIX = "Summarize: "


@Q.add(
    "llm_cache_join",
    f"""
    WITH cache AS (
      SELECT DISTINCT md5('{_CACHE_PREFIX}' || COALESCE(text, '')) AS prompt_hash
      FROM documents WHERE doc_id < 100
    )
    SELECT CAST(d.doc_id AS VARCHAR) AS id,
           CASE WHEN c.prompt_hash IS NOT NULL
                THEN 'CACHED ' || substr(md5('{_CACHE_PREFIX}' || COALESCE(d.text, '')), 1, 8)
                ELSE 'MOCK ' || substr(md5('{_CACHE_PREFIX}' || COALESCE(d.text, '')), 1, 8)
           END AS summary,
           CASE WHEN c.prompt_hash IS NOT NULL THEN 'hit' ELSE 'miss' END
             AS cache_status
    FROM documents d
    LEFT JOIN cache c ON md5('{_CACHE_PREFIX}' || COALESCE(d.text, '')) = c.prompt_hash
    """,
    doc="cache-aside LLM batch inference: join each record's rendered-"
    "prompt digest against a response cache (docs 0-99 stand in for a "
    "prior run's cache table); only MISSES go through the chat "
    "backend, hits are served from the cache — the single biggest cost "
    "lever in a production batch-LLM pipeline (backend calls are ~1e6x "
    "a shuffled row). The join carries 16-byte digests, never prompts "
    "(dedup_incremental's digest-only shape); at 100 TB the cache is "
    "bucketed on prompt_hash so reruns join without a shuffle. Note "
    "duplicate texts among doc_id >= 100 legitimately hit the cache "
    "too — membership is by content, not id; the oracle reproduces "
    "exactly that.",
)
def llm_cache_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..job.backend import MockChatBackend
    from ..job.pipeline import llm_map
    from ..job.spec import JobSpec

    d = load(spark, sf_dir, "documents")
    # coalesce mirrors the template's nil -> '' rendering so a NULL
    # text hashes the same prompt the backend would actually see (r6)
    prompt_hash = F.md5(
        F.concat(F.lit(_CACHE_PREFIX), F.coalesce(F.col("text"), F.lit("")))
    )
    # the "previous run's" response cache: digest -> response. CACHED
    # marker (vs the live backend's MOCK) proves rows were served from
    # the cache path, not recomputed.
    cache = (
        d.filter(F.col("doc_id") < 100)
        .select(
            prompt_hash.alias("prompt_hash"),
            F.concat(F.lit("CACHED "), F.substring(prompt_hash, 1, 8)).alias(
                "cached_summary"
            ),
        )
        .distinct()
    )
    keyed = d.select(
        F.col("doc_id").cast("string").alias("id"),
        F.col("text"),
        prompt_hash.alias("prompt_hash"),
    )
    routed = keyed.join(cache, "prompt_hash", "left")
    hits = routed.filter(F.col("cached_summary").isNotNull()).select(
        "id",
        F.col("cached_summary").alias("summary"),
        F.lit("hit").alias("cache_status"),
    )
    misses = routed.filter(F.col("cached_summary").isNull()).select(
        "id",
        F.create_map(F.lit("content"), F.col("text")).alias("texts"),
        F.array().cast("array<string>").alias("images"),
    )
    spec = JobSpec.from_dict(
        {
            "id": "mock-cache-miss",
            "erb_source": _CACHE_PREFIX + "{{ texts['content'] }}",
            "backend_endpoint": "mock://local",
            "model": "mock-model",
            "output_label": "summary",
        }
    )
    fresh = llm_map(misses, spec, MockChatBackend()).ok().select(
        "id",
        F.element_at("texts", "summary").alias("summary"),
        F.lit("miss").alias("cache_status"),
    )
    return hits.unionByName(fresh)

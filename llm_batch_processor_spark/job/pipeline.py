"""The LLM batch-map pipeline as one declarative DataFrame plan.

Reference dataflow (lib/job_processor.rb:15-32):
    stdin JSONL -> parse -> per-record (render ERB -> chat -> think-strip
    -> enrich) -> stdout JSONL, errors to stderr, record skipped.

Spark-first re-expression:
    records(id, texts map, images array)
      -> ONE Arrow-batched pandas_udf doing render + chat with bounded
         per-batch concurrency, returning struct(result, error)   [A4-A8]
      -> think-strip via built-in regexp_replace + regex trim      [A9]
      -> enrich via map_concat(texts, map(output_label, response)) [A10]
      -> ok()/errors() split (dead-letter routing)                 [A3]
Both drivers (CLI, streaming job) run this as one ``infer_once`` pass.

Only the render+chat kernel is Python (it is inherently so — it calls
an external HTTP service); everything before and after stays in
whole-stage codegen. The UDF is marked nondeterministic so Catalyst
never re-executes or reorders it across the error split.

At 100 TB the bottleneck is the LLM service, not Spark: throughput =
(#executors x concurrency) in-flight requests, and each Arrow batch
bounds memory. Repartition upstream to size batches; a dead LLM
endpoint fails fast per batch after bounded retries.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StringType, StructField, StructType

from ..functions.text import think_strip
from .backend import ChatBackend
from .spec import JobSpec
from .templates import RowTemplate

RECORD_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("texts", MapType(StringType(), StringType())),
        StructField("images", ArrayType(StringType())),
    ]
)

_RESULT_SCHEMA = StructType(
    [StructField("result", StringType()), StructField("error", StringType())]
)


def _as_dict(v: Any) -> dict:
    if v is None:
        return {}
    if isinstance(v, dict):
        return v
    # Arrow MapType arrives in pandas as list[(k, v)]
    return dict(v)


def _as_list(v: Any) -> list:
    if v is None:
        return []
    return list(v)


def build_message_content(prompt: str, images: list[str], use_images: bool) -> Any:
    """Reference A6 (lib/job_processor.rb:212-236): multimodal content parts
    when use_images and the record carries images; plain string otherwise."""
    if use_images and images:
        parts: list[dict[str, Any]] = [{"type": "text", "text": prompt}]
        parts.extend(
            {
                "type": "image_url",
                "image_url": {"url": f"data:image/jpeg;base64,{img}"},
            }
            for img in images
        )
        return parts
    return prompt


def _call_one(
    backend: ChatBackend,
    spec_model: str,
    params: dict,
    response_format: dict | None,
    timeout: float,
    max_retries: int,
    messages: list[dict],
) -> str:
    import time as _time

    last: Exception | None = None
    for attempt in range(max_retries + 1):
        try:
            return backend.chat(messages, spec_model, params, response_format, timeout)
        except Exception as e:  # bounded retry then raise (caught into error column)
            last = e
            # honor a 429's Retry-After hint before the next attempt
            # (RateLimitedError.retry_after; 0.0 for every other error
            # class keeps the fast-retry behavior). Capped at the
            # request timeout so one hostile header can't park a
            # worker thread, and skipped after the LAST attempt — the
            # record is headed to the dead-letter branch either way.
            ra = min(getattr(e, "retry_after", 0.0) or 0.0, timeout)
            if ra > 0 and attempt < max_retries:
                _time.sleep(ra)
    raise last  # type: ignore[misc]


@dataclass
class LLMMapResult:
    """The enriched output plus its dead-letter branch."""

    # id, texts (enriched), images, error; infer_once adds raw (the
    # corrupt input line, null on every parsed record)
    df: DataFrame

    def ok(self) -> DataFrame:
        return self.df.filter(F.col("error").isNull()).drop("error", "raw")

    def errors(self) -> DataFrame:
        return self.df.filter(F.col("error").isNotNull())


def llm_map(records: DataFrame, spec: JobSpec, backend: ChatBackend) -> LLMMapResult:
    """Run the full A4→A10 pipeline over a records DataFrame.

    ``records`` needs columns ``id: string``, ``texts: map<string,string>``
    (nullable), ``images: array<string>`` (nullable).
    """
    user_src = spec.user_template_source()
    system_src = spec.system_template_source()
    response_format = spec.response_format()
    model, params = spec.model, dict(spec.params)
    timeout, conc, retries = spec.request_timeout, spec.concurrency, spec.max_retries
    use_images = spec.use_images

    @F.pandas_udf(_RESULT_SCHEMA)
    def infer(texts_s: pd.Series, images_s: pd.Series) -> pd.DataFrame:
        user_t = RowTemplate(user_src)
        system_t = RowTemplate(system_src) if system_src else None

        jobs = []
        for texts_raw, images_raw in zip(texts_s, images_s):
            texts, images = _as_dict(texts_raw), _as_list(images_raw)
            try:
                prompt = user_t.render(texts, images)
                messages: list[dict] = []
                if system_t is not None:
                    sys_prompt = system_t.render(texts, images)
                    # blank system prompts are dropped (job_processor.rb:142)
                    if sys_prompt and sys_prompt.strip():
                        messages.append({"role": "system", "content": sys_prompt})
                messages.append(
                    {
                        "role": "user",
                        "content": build_message_content(prompt, images, use_images),
                    }
                )
                jobs.append(messages)
            except Exception as e:
                jobs.append(e)

        def run(j):
            if isinstance(j, Exception):
                return (None, f"render error: {j}")
            try:
                return (
                    _call_one(backend, model, params, response_format, timeout, retries, j),
                    None,
                )
            except Exception as e:
                return (None, f"{type(e).__name__}: {e}")

        if conc > 1 and len(jobs) > 1:
            with ThreadPoolExecutor(max_workers=conc) as pool:
                out = list(pool.map(run, jobs))
        else:
            out = [run(j) for j in jobs]
        return pd.DataFrame(out, columns=["result", "error"])

    infer_nd = infer.asNondeterministic()

    texts_col = F.coalesce(
        F.col("texts"), F.create_map().cast("map<string,string>")
    )
    images_col = F.coalesce(F.col("images"), F.array().cast("array<string>"))

    # passthrough columns (e.g. the source's input-order column) ride
    # along unchanged — the reference copies the whole record through
    passthrough = [c for c in records.columns if c not in ("id", "texts", "images")]
    enriched = (
        records.withColumn("__r", infer_nd(texts_col, images_col))
        .withColumn("__resp", think_strip(F.col("__r.result")))
        .select(
            F.col("id"),
            F.when(
                F.col("__r.error").isNull(),
                enrich(texts_col, spec.output_label, F.col("__resp")),
            )
            .otherwise(texts_col)
            .alias("texts"),
            images_col.alias("images"),
            F.col("__r.error").alias("error"),
            *passthrough,
        )
    )
    return LLMMapResult(df=enriched)


@contextmanager
def infer_once(
    good: DataFrame, corrupt: DataFrame, spec: JobSpec, backend: ChatBackend
) -> Iterator[LLMMapResult]:
    """Every input line's outcome in one table, cached for the block.

    ``(good, corrupt)`` is ``parse_record_lines``' pair; corrupt lines
    join llm_map's output as error rows (``id`` null, ``raw`` kept), so
    each line lands in exactly one of ``ok()`` / ``errors()``. Cached
    because each sink would otherwise re-execute the nondeterministic
    inference UDF (2x real LLM calls, and a transiently failing backend
    could drop a record from BOTH sinks or emit it twice)."""
    corrupt_rows = corrupt.select(
        F.concat(F.lit("corrupt record: "), "raw").alias("error"), "raw"
    )
    df = (
        llm_map(good, spec, backend)
        .df.unionByName(corrupt_rows, allowMissingColumns=True)
        .cache()
    )
    try:
        yield LLMMapResult(df)
    finally:
        df.unpersist()


def enrich(texts: Column, label: str, value: Column) -> Column:
    """Reference A10's kernel: texts + {label: value}.

    The reference OVERWRITES an existing label (job_processor.rb:50 —
    Ruby Hash#merge semantics, last wins); a bare map_concat would
    instead abort the whole job with DUPLICATED_MAP_KEY under Spark's
    default mapKeyDedupPolicy=EXCEPTION, so the old key is dropped
    before concatenation."""
    return F.map_concat(
        F.map_filter(texts, lambda k, _: k != F.lit(label)),
        F.create_map(F.lit(label), value),
    )

"""The reference pipeline (A4-A10) as a Structured Streaming job.

``llm_map`` is already stream-safe: pandas_udf + map_concat +
regexp_replace are all stateless row transforms, so the identical plan
runs under readStream. This module adds the query wiring: file source,
exactly-once JSONL file sink, checkpointing, and dead-letter routing via
``foreachBatch`` (a streaming query has one sink; foreachBatch lets one
micro-batch fan out to main + error sinks transactionally per batch).

The stream carries RAW lines and parses inside each micro-batch so both
failure classes reach the dead-letter sink, matching the reference's
stderr routing (corrupt JSON: bin_job_spec.rb:140-153; per-record API
errors: :128-137) — the job never dies on data.

Continuous parity note: the reference emits each record as soon as it is
processed (stdout flush per line). The streaming job emits per
micro-batch — same incremental contract, batched for throughput.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..job.backend import ChatBackend
from ..job.pipeline import LLMMapResult, llm_map
from ..job.spec import JobSpec
from ..sources.jsonl import parse_record_lines


def run_stream_job(
    spark: SparkSession,
    spec: JobSpec,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    backend: ChatBackend,
    error_path: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    exactly_once: bool = False,
) -> StreamingQuery:
    """Run the LLM map over a JSONL directory stream.

    ``available_now=True`` processes everything currently in the
    directory then stops (the batch-parity mode used by tests);
    ``False`` runs until ``query.stop()``.

    ``exactly_once=True`` makes the file sinks IDEMPOTENT under
    micro-batch replay: output lands partitioned by ``batch_id`` with
    dynamic partition overwrite, so reprocessing a batch (failure
    between sink write and checkpoint commit, or a lost checkpoint)
    REPLACES that batch's partition instead of appending duplicates —
    foreachBatch's at-least-once contract upgraded to exactly-once by
    keying the write on the deterministic batch id. The default
    (append) matches the reference's stdout semantics where replays
    re-emit.
    """
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    lines = reader.load(input_path)

    def write_batch(batch_df, batch_id: int) -> None:
        good, corrupt = parse_record_lines(batch_df)
        result = llm_map(good, spec, backend)
        out = LLMMapResult(result.df.cache())  # one inference pass, two sinks
        try:
            good_out = out.ok()
            if exactly_once:
                (
                    good_out.withColumn("batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("batch_id")
                    .json(output_path)
                )
            else:
                good_out.write.mode("append").json(output_path)
            if error_path is not None:
                infer_errs = out.errors().select(
                    F.to_json(F.struct("id", "error")).alias("value")
                )
                corrupt_errs = corrupt.select(
                    F.to_json(
                        F.struct(
                            F.lit(None).cast("string").alias("id"),
                            F.concat(F.lit("corrupt record: "), F.col("raw")).alias(
                                "error"
                            ),
                        )
                    ).alias("value")
                )
                errs = infer_errs.unionAll(corrupt_errs)
                if exactly_once:
                    (
                        errs.withColumn("batch_id", F.lit(batch_id))
                        .write.mode("overwrite")
                        .option("partitionOverwriteMode", "dynamic")
                        .partitionBy("batch_id")
                        .text(error_path)
                    )
                else:
                    errs.write.mode("append").text(error_path)
        finally:
            out.df.unpersist()

    writer = (
        lines.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

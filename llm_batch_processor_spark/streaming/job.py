"""The reference pipeline (A4-A10) as a Structured Streaming job.

``llm_map`` is already stream-safe: pandas_udf + map_concat +
regexp_replace are all stateless row transforms, so the identical plan
runs under readStream. This module adds the query wiring: file source,
exactly-once JSONL file sink, checkpointing, and ``foreachBatch`` (a
streaming query has one sink; foreachBatch lets one micro-batch fan out
to main + error sinks per batch).

The stream carries RAW lines; each micro-batch runs the same
``pipeline.infer_once`` pass as the CLI, whose one table holds both
failure classes, so both reach the dead-letter sink, matching the
reference's stderr routing (corrupt JSON: bin_job_spec.rb:140-153;
per-record API errors: :128-137) — the job never dies on data.

Continuous parity note: the reference emits each record as soon as it is
processed (stdout flush per line). The streaming job emits per
micro-batch — same incremental contract, batched for throughput.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..job.backend import ChatBackend
from ..job.pipeline import infer_once
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
        def write(df):
            if exactly_once:
                return (
                    df.withColumn("batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("batch_id")
                )
            return df.write.mode("append")

        with infer_once(*parse_record_lines(batch_df), spec, backend) as out:
            write(out.ok()).json(output_path)
            if error_path is not None:
                errs = out.errors().select(F.to_json(F.struct("id", "error")).alias("value"))
                write(errs).text(error_path)

    writer = (
        lines.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

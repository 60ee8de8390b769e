"""Structured Streaming surface.

The reference's "stream" is a blocking stdin loop
(lib/job_processor.rb:16): records flow one-at-a-time, results are
emitted incrementally, and the process runs until EOF. Structured
Streaming is the Spark-native generalization: the SAME DataFrame plan
(source -> llm_map -> sink) runs incrementally over an unbounded
source with exactly-once file sinks and checkpointed state.

Modules:
- ``job``     — the A4-A10 LLM map as a streaming job (file in/out)
- ``windows`` — watermarked tumbling + session windows over events
- ``stateful``— custom stateful sessionizer via applyInPandasWithState
- ``dedup``   — exact dedup with watermark-bounded state
"""

from .dedup import dedup_stream, dedup_stream_against_corpus
from .job import run_stream_job
from .windows import session_counts_stream, tumbling_counts_stream

__all__ = [
    "run_stream_job",
    "tumbling_counts_stream",
    "session_counts_stream",
    "dedup_stream",
    "dedup_stream_against_corpus",
]

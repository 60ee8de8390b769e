"""Physical-plan introspection.

``introspect`` reads the formatted Catalyst plan back out of a DataFrame
so tests can PIN the execution strategy (filters pushed to parquet,
columns pruned, small dims broadcast, aggregates partial) instead of
hoping for it — at 100 TB the plan IS the product.
"""

from .introspect import (
    broadcast_hint_count,
    broadcast_join_count,
    formatted_plan,
    has_take_ordered,
    partition_filters,
    pushed_filters,
    read_schemas,
    shuffle_count,
    single_partition_window_count,
    whole_stage_codegen_count,
)

__all__ = [
    "formatted_plan",
    "partition_filters",
    "pushed_filters",
    "read_schemas",
    "shuffle_count",
    "broadcast_hint_count",
    "broadcast_join_count",
    "has_take_ordered",
    "single_partition_window_count",
    "whole_stage_codegen_count",
]

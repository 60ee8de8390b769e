"""Read the physical plan back out of a DataFrame, as data.

Wraps ``queryExecution.explainString`` so tests can make assertions
about HOW a query runs: a filter that doesn't reach the parquet scan or
a dim join that doesn't broadcast is a performance bug even when the
rows come back right.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The `explain("formatted")` text (executedPlan, AQE initial)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All parquet PushedFilters entries, flattened."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df)):
        body = m.group(1).strip()
        if body:
            out.extend(s.strip() for s in body.split(","))
    return out


def partition_filters(df: DataFrame) -> list[str]:
    """All PartitionFilters entries across file scans — non-empty when a
    predicate on a hive-partition column prunes directories at planning
    time (the scan never lists the excluded partitions)."""
    out: list[str] = []
    for m in re.finditer(r"PartitionFilters: \[([^\]]*)\]", formatted_plan(df)):
        body = m.group(1).strip()
        if body:
            out.extend(s.strip() for s in body.split(","))
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema strings for every file scan (column-pruning check)."""
    return [
        m.group(1).strip()
        for m in re.finditer(r"ReadSchema: (.+)", formatted_plan(df))
    ]


def shuffle_count(df: DataFrame) -> int:
    """Number of Exchange (shuffle) operators in the initial plan.
    Broadcast exchanges are excluded — they ship a dim, not the data.
    Formatted plans render operators as ``(N) Exchange`` headers."""
    plan = formatted_plan(df)
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def broadcast_join_count(df: DataFrame) -> int:
    """Broadcast joins in the plan. Counts only the numbered operator
    detail headers — the formatted explain renders every operator twice
    (once in the tree, once as a ``(N) Op`` detail section), so a bare
    substring count would double each join."""
    return len(
        re.findall(
            r"\(\d+\) (?:BroadcastHashJoin|BroadcastNestedLoopJoin)\b",
            formatted_plan(df),
        )
    )


def broadcast_hint_count(df: DataFrame) -> int:
    """Author-FORCED broadcasts: ResolvedHint nodes in the analyzed
    logical plan. Distinct from ``broadcast_join_count`` — Catalyst also
    broadcasts sides that merely happen to be under the size threshold
    at the current scale factor, which is a runtime choice, not a
    declared one. A hint on a table that grows with data size is a
    broadcast OOM at scale even though small-sf plans look identical."""
    analyzed = df._jdf.queryExecution().analyzed().toString()  # type: ignore[attr-defined]
    return len(re.findall(r"ResolvedHint.*broadcast", analyzed, re.IGNORECASE))


def has_take_ordered(df: DataFrame) -> bool:
    """True when ORDER BY + LIMIT fused into TakeOrderedAndProject
    (no global sort — each partition keeps k, driver merges)."""
    return "TakeOrderedAndProject" in formatted_plan(df)


def single_partition_window_count(df: DataFrame) -> int:
    """Window operators with NO partition spec — each forces an
    ``Exchange SinglePartition`` under it, i.e. the whole input streams
    through one task. Fine only when the input frame is BOUNDED by
    construction (the engine's only uses: 32-row bin-offset scans in
    ``global_cumsum``, day-grain/vocab-bounded rollups — see the
    ``tests/test_plans.py`` allowlist); on a data-proportional input it
    is the canonical 100 TB scale-killer. Detection: the formatted
    plan's ``(N) Window`` detail section renders
    ``Arguments: [exprs], [partition], [order]`` — the partition group
    is ABSENT for unpartitioned windows. Either trailing group may be
    omitted when empty, so group COUNT alone is ambiguous at 2:
    ``[exprs], [order]`` (unpartitioned, sorted) and
    ``[exprs], [partition]`` (partitioned, unsorted) both render two
    groups — but order-spec entries always carry a sort direction
    (``ASC``/``DESC``), partition expressions never do. Bracket groups
    are parsed at depth 0 because window expressions nest brackets
    freely."""

    def top_level_groups(args: str) -> list[str]:
        depth = 0
        groups: list[str] = []
        buf: list[str] = []
        for ch in args:
            if ch == "[":
                if depth == 0:
                    buf = []
                depth += 1
                if depth == 1:
                    continue
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append("".join(buf))
                    continue
            if depth >= 1:
                buf.append(ch)
        return groups

    def is_order_spec(group: str) -> bool:
        return bool(re.search(r"\b(?:ASC|DESC) NULLS (?:FIRST|LAST)", group))

    plan = formatted_plan(df)
    n = 0
    for m in re.finditer(
        r"\(\d+\) (?:Window|WindowInPandas)\n"
        r"(?:[^\n]*\n)*?Arguments: ([^\n]*)",
        plan,
    ):
        groups = top_level_groups(m.group(1))
        if len(groups) >= 3:
            continue  # [exprs], [partition], [order]
        if len(groups) == 2 and not is_order_spec(groups[1]):
            continue  # [exprs], [partition] — partitioned, unsorted
        n += 1
    return n


def whole_stage_codegen_count(df: DataFrame) -> int:
    """Number of WholeStageCodegen spans (wider = more fused JVM work).
    Formatted plans mark members with ``[codegen id : N]``."""
    return len(set(re.findall(r"codegen id : (\d+)", formatted_plan(df))))

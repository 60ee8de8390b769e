"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``llm_batch_processor_spark/``; this module is
a thin adapter over its query registry.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from llm_batch_processor_spark.queries import QueryDef, all_queries  # noqa: E402


def _driver_row_rounds() -> dict[str, int]:
    """query name -> newest round with a committed CORRECTNESS row.
    Reads ``CORRECTNESS_r*.json`` next to this file (sorted names =
    chronological rounds); missing/unreadable artifacts are skipped, so
    a checkout without artifacts keeps registration order.
    """
    rounds: dict[str, int] = {}
    for art in sorted(Path(_REPO).glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", art.name)
        if not m:
            continue
        try:
            names = json.loads(art.read_text())
        except (OSError, ValueError):
            continue
        for name in names:
            rounds[name] = max(rounds.get(name, 0), int(m.group(1)))
    return rounds


def _check_order() -> dict[str, QueryDef]:
    """The registry in correctness-check order. Each round's gate
    records only the first ~50 ``queries()`` entries, so never-checked
    queries lead, then checked ones stalest-newest-row first (spare
    slots refresh the oldest green rows); registration order breaks
    ties.
    """
    qs = all_queries()
    rows = _driver_row_rounds()
    return {name: qs[name] for name in sorted(qs, key=lambda n: rows.get(n, 0))}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-style pricing summary) on sf0.001."""
    q = all_queries()["agg_group"]
    return q.fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: qd.fn for name, qd in _check_order().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-ANSI equivalents; omitted keys -> rows-only check."""
    return {
        name: qd.oracle
        for name, qd in _check_order().items()
        if qd.oracle is not None
    }

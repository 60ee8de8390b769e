"""Declared query inventory (SURVEY.md §2 Part B) + DuckDB oracles.

Each query is a :class:`QueryDef`: a PySpark builder ``fn(spark, sf_dir)
-> DataFrame`` plus (when SQL-expressible) the equivalent DuckDB SQL the
driver runs side-by-side. Column names/aliases MUST match between the
two — the driver sorts columns by name before value-hashing.

Determinism rules applied throughout (see SURVEY.md §7-M1):
- money/量 sums go through DECIMAL casts so the sum is exact and
  order-independent, then back to DOUBLE — identical bits both engines;
- averages are exact-decimal-sum / count (single double division);
- every top-k / window ordering is fully tie-broken;
- epoch math is integer (floor) on both sides, never float seconds;
- raw timestamps are returned as DATE / epoch-second BIGINT, not
  TIMESTAMP, to sidestep precision/tz canonicalization drift.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None -> driver does rows-only check
    doc: str = ""


class Registry(dict):
    def add(self, name: str, oracle: str | None, doc: str = ""):
        def deco(fn):
            self[name] = QueryDef(name=name, fn=fn, oracle=oracle, doc=doc)
            return fn

        return deco


def all_queries() -> dict[str, QueryDef]:
    """Aggregate every query module's registry in registration order
    (``relational``, ``llm``, ``pipeline_ext``)."""
    from . import llm, pipeline_ext, relational

    merged: dict[str, QueryDef] = {}
    for mod in (relational, llm, pipeline_ext):
        merged.update(mod.Q)
    return merged

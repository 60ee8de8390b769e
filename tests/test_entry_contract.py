"""Driver-contract smoke tests: entry() runs, queries()/oracle_sql() agree."""

from __future__ import annotations

import __spark_entry__ as E
from tests.conftest import SF_SMOKE


def test_entry_returns_rows(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    cols = set(df.columns)
    assert {"l_returnflag", "l_linestatus", "sum_qty", "count_order"} <= cols


def test_oracle_keys_subset_of_queries():
    qs = E.queries()
    orc = E.oracle_sql()
    assert set(orc) <= set(qs)
    assert len(qs) >= 35
    for name, sql in orc.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_library_registry_order_and_entry_key_set():
    """The library emits registration order; only ``__spark_entry__``
    reorders (from the CORRECTNESS artifacts), never adding or
    dropping a key."""
    from llm_batch_processor_spark.queries import (
        all_queries,
        llm,
        pipeline_ext,
        relational,
    )

    registered = [*relational.Q, *llm.Q, *pipeline_ext.Q]
    assert list(all_queries()) == registered
    assert set(E.queries()) == set(registered)


def test_every_query_runs_at_smoke_sf(spark):
    # schema resolution + a cheap limit-collect for every registered query
    for name, fn in E.queries().items():
        df = fn(spark, SF_SMOKE)
        assert df.columns, name
        df.limit(5).collect()


def test_selfcheck_canon_digest_properties():
    """The large-output multiset digest must be order-insensitive,
    value-sensitive, and consistent with the small-path canon
    semantics for dtype mismatches."""
    import pandas as pd
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from tools.selfcheck import canon_digest

    a = pd.DataFrame({"x": [1, 2, 3], "y": [1.5, float("nan"), -2.0]})
    perm = a.iloc[[2, 0, 1]].reset_index(drop=True)
    assert canon_digest(a) == canon_digest(perm)
    changed = a.copy()
    changed.loc[1, "x"] = 99
    assert canon_digest(a) != canon_digest(changed)
    # column-order insensitivity (columns are sorted by name)
    swapped = a[["y", "x"]]
    assert canon_digest(a) == canon_digest(swapped)
    # int64 vs float64 diverge, same as '3' vs '3.0' in the sorted path
    floated = a.copy()
    floated["x"] = floated["x"].astype("float64")
    assert canon_digest(a) != canon_digest(floated)
    # object/string columns go through canon_cell
    s1 = pd.DataFrame({"s": ["a", None, "b"]})
    s2 = pd.DataFrame({"s": ["b", "a", None]})
    assert canon_digest(s1) == canon_digest(s2)
    assert canon_digest(pd.DataFrame({"s": []})) == (0, 0, 0)

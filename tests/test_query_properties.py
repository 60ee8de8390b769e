"""Property tests for registered queries: semantics the DuckDB oracle
equivalence cannot express on its own (cross-formulation equality,
monotonicity, conservation laws), for the query families with no
per-operator test file of their own.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from tests.conftest import run_query as _run


def test_survival_km_curve_is_monotone_from_one(spark):
    rows = sorted(
        _run(spark, "survival_km").collect(), key=lambda r: r["dur_d"]
    )
    assert rows, "KM output empty"
    s = [r["survival"] for r in rows]
    assert all(0.0 <= x <= 1.0 for x in s)
    assert all(a >= b for a, b in zip(s, s[1:])), "S(t) must be non-increasing"
    # at-risk must be a strictly decreasing suffix count
    ar = [r["at_risk"] for r in rows]
    assert all(a > b for a, b in zip(ar, ar[1:]))


def test_attribution_linear_conserves_credit(spark):
    # fixed-point credit: every converting user contributes
    # n_touches * (1e6 DIV n_touches) — within 1e6 of 1e6 per user,
    # and the channel totals must sum to exactly that grand total
    out = _run(spark, "attribution_linear").collect()
    total_fp = sum(r["credit_fp"] for r in out)
    n_users = (
        _run(spark, "attribution_linear")
        .agg(F.sum("n_users"))
        .collect()[0][0]
    )
    assert n_users > 0
    # each user's credit is <= 1e6 and > 1e6 - n_touches (floor loss)
    assert total_fp <= 1_000_000 * sum(r["n_users"] for r in out)


def test_partial_agg_merge_equals_direct_aggregation(spark):
    from llm_batch_processor_spark.tables import load

    merged = {
        r["o_orderpriority"]: (r["n_orders"], r["total_price"])
        for r in _run(spark, "partial_agg_merge").collect()
    }
    direct = {
        r["o_orderpriority"]: (r["n"], r["t"])
        for r in load(spark, SF_SMOKE, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
            ).alias("t"),
        )
        .collect()
    }
    assert merged == direct, "shard-merged stats must equal direct aggregation"


def test_equidepth_buckets_are_balanced_and_ordered(spark):
    rows = sorted(
        _run(spark, "histogram_equidepth").collect(), key=lambda r: r["bucket"]
    )
    assert [r["bucket"] for r in rows] == list(range(10))
    counts = [r["n_rows"] for r in rows]
    assert max(counts) - min(counts) <= 1, "equi-depth must balance to +/-1"
    for a, b in zip(rows, rows[1:]):
        assert a["hi"] <= b["lo"], "bucket value ranges must be ordered"


def test_zorder_clusters_bound_both_dimension_spans(spark):
    rows = _run(spark, "zorder_cluster").collect()
    assert rows
    # 16-bit z, cluster = zv DIV 1024 -> within a cluster the top 3
    # bit-pairs are fixed, so each dimension varies in <= 32 of 256
    assert all(r["x_span"] <= 32 and r["y_span"] <= 32 for r in rows)

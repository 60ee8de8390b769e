"""Round-10 fix pins.

Divergence class found by fuzz seeds 8/9 (user/type skew): a
degenerate A/B split where EVERY user converts (or none does) makes
the pooled p-hat exactly 0 or 1, so SE_pooled is exactly 0.0 —
Spark's ANSI division raised DIVIDE_BY_ZERO where DuckDB's IEEE
double division yields NaN. Both engines now guard se = 0 to a NULL
z (the z-test is undefined at a degenerate split)."""

import datetime

from pyspark.sql import functions as F  # noqa: F401


def _degenerate_events(spark, tmp_path, n_users=4, purchases_per_user=20):
    """Every user has >= 14 purchase events -> pooled conversion = 1."""
    rows = []
    t0 = datetime.datetime(2024, 1, 1)
    eid = 0
    for u in range(n_users):
        for k in range(purchases_per_user):
            rows.append(
                (
                    eid,
                    u,
                    "purchase",
                    t0 + datetime.timedelta(minutes=eid),
                    1.0,
                    "{}",
                )
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id LONG, user_id LONG, event_type STRING, "
        "ts TIMESTAMP_NTZ, value DOUBLE, props STRING",
    )
    out = str(tmp_path / "events.parquet")
    df.write.mode("overwrite").parquet(out)
    return str(tmp_path)


def test_ab_test_degenerate_split_yields_null_z(spark, tmp_path):
    from llm_batch_processor_spark.queries import all_queries

    sf_dir = _degenerate_events(spark, tmp_path)
    rows = all_queries()["ab_test_proportions"].fn(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    # both variants exist and fully convert -> p0 = p1 = 1.0, z NULL
    assert r["c0"] == r["n0"] and r["c1"] == r["n1"]
    assert r["p0"] == 1.0 and r["p1"] == 1.0
    assert r["z"] is None


def test_ab_test_oracle_agrees_on_degenerate_split(spark, tmp_path):
    """The DuckDB oracle must produce the identical NULL-z row."""
    import duckdb
    import math

    import __spark_entry__ as entry

    sf_dir = _degenerate_events(spark, tmp_path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet/*.parquet')"
    )
    pdf = con.execute(entry.oracle_sql()["ab_test_proportions"]).df()
    assert len(pdf) == 1
    z = pdf["z"].iloc[0]
    assert z is None or (isinstance(z, float) and math.isnan(z))
    assert float(pdf["p0"].iloc[0]) == 1.0
    assert float(pdf["p1"].iloc[0]) == 1.0


def test_cc_bcast_gate_shut_labels_identical(spark):
    """VERDICT r9 item 3: both sides of the label-map broadcast gate
    (broadcast map-join vs shuffle join in the contraction) must label
    identically. Force the SHUFFLE path by shutting the bytes gate and
    pin equality with the default (broadcast) path on a graph with
    chains + a clique (contraction worst cases)."""
    import random

    from llm_batch_processor_spark.operators import dedup

    rng = random.Random(10)
    edges = [(i, i + 1) for i in range(0, 30, 3)]  # short chains
    edges += [(100 + a, 100 + b) for a in range(6) for b in range(a)]
    edges += sorted({(rng.randrange(200), rng.randrange(200)) for _ in range(40)})
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id_a LONG, id_b LONG")

    def labels(gate):
        saved = dedup._CC_BCAST_MAX_BYTES
        dedup._CC_BCAST_MAX_BYTES = gate
        try:
            return {
                (r["id"], r["cluster_id"])
                for r in dedup.connected_components(
                    pairs, driver_edge_limit=0
                ).collect()
            }
        finally:
            dedup._CC_BCAST_MAX_BYTES = saved

    bcast = labels(1 << 60)
    shuffled = labels(0)
    assert bcast == shuffled
    # and both agree with the driver union-find path
    exact = {
        (r["id"], r["cluster_id"])
        for r in dedup.connected_components(pairs).collect()
    }
    assert bcast == exact


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

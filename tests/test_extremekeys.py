"""Round-6 extreme-key sweep pins: ids at the int64 rails and
negative ids flow through key arithmetic without ANSI overflow, with
order semantics identical to the DuckDB oracle encodings."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from tests.conftest import run_query as _run

I64MAX = 9223372036854775807


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, f"text {n} alpha beta", "en", "src0", 20) for n, i in enumerate(ids)],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )


def test_sample_negatives_rail_and_negative_ids(spark, tmp_path):
    """The Knuth mix must be total: ids near int64 max and negative
    ids produce in-range negatives (the pmod residue indexes the
    dense id domain) instead of ARITHMETIC_OVERFLOW."""
    ids = [0, 1, 2, 3, 4, I64MAX - 1, I64MAX, -5, -6, -7]
    sf = str(tmp_path / "sf")
    _docs(spark, ids).coalesce(1).write.parquet(sf + "/documents.parquet")

    from llm_batch_processor_spark.queries.pipeline_ext import sample_negatives

    out = sample_negatives(spark, sf).collect()
    # totality is the contract under hostile ids: no ANSI overflow,
    # and every emitted negative exists in the corpus (join-proven).
    # Completeness (4 draws per doc) holds only on the documented
    # dense 0..N-1 fixture domain — with sparse extreme ids a draw
    # may miss, identically in the oracle.
    assert all(r["neg_id"] in set(ids) for r in out)
    assert all(0 <= r["neg_idx"] < 4 for r in out)


def test_sample_negatives_dense_ids_unchanged(spark, tmp_path):
    """On the fixtures' dense 0..N-1 ids the decimal-widened mix must
    reproduce the pre-r6 integer arithmetic bit-for-bit."""
    n = 50
    sf = str(tmp_path / "sf")
    _docs(spark, list(range(n))).coalesce(1).write.parquet(
        sf + "/documents.parquet"
    )
    from llm_batch_processor_spark.queries.pipeline_ext import sample_negatives

    got = {
        (r["doc_id"], r["neg_idx"]): r["neg_id"]
        for r in sample_negatives(spark, sf).collect()
    }
    for d in range(n):
        for j in range(4):
            raw = (d * 2654435761 + j * 40503 + 17) % n
            want = (raw + 1) % n if raw == d else raw
            assert got[(d, j)] == want


def test_schema_merge_split_is_exhaustive_on_negative_keys(spark):
    """% 2 != 0 (not == 1): a negative odd key yields -1 under
    Spark's sign-keeping %, and the old == 1 predicate silently
    dropped those rows from the merged dataset."""
    o = spark.createDataFrame(
        [(2, 10.0), (3, 20.0), (-3, 30.0), (-4, 40.0), (I64MAX, 50.0)],
        "o_orderkey LONG, o_totalprice DOUBLE",
    )
    odd = o.filter(F.col("o_orderkey") % 2 != 0)
    even = o.filter(F.col("o_orderkey") % 2 == 0)
    assert odd.count() + even.count() == o.count()
    assert {r["o_orderkey"] for r in odd.collect()} == {3, -3, I64MAX}


def test_table_diff_added_keys_total_at_rail(spark, tmp_path):
    """The synthetic-added key shift is +10000000 below the rail
    (pre-r6 values) and wraps into the 2^62 band at it, never
    overflowing."""
    keys = [103, 206, I64MAX - 103 + 1]  # last: %103==0 by luck? ensure below
    # construct a key that is %103 == 0 AND above the +1e7 rail:
    rail_key = (I64MAX // 103) * 103  # largest multiple of 103 <= I64MAX
    assert rail_key > I64MAX - 10000000
    o = spark.createDataFrame(
        [(103, 1.0), (206, 2.0), (rail_key, 3.0)],
        "o_orderkey LONG, o_totalprice DOUBLE",
    )
    sf = str(tmp_path / "sf")
    o.coalesce(1).write.parquet(sf + "/orders.parquet")
    from llm_batch_processor_spark.queries.relational import table_diff

    rows = {r["class"]: r for r in table_diff(spark, sf).collect()}
    added = rows["added"]
    # both small keys shift by +1e7; the rail key lands in the 2^62 band
    assert added["n"] == 3
    assert added["min_key"] == 103 + 10000000
    assert 4611686018427387904 <= added["max_key"] < 4611686018427387904 + 10000001


def test_table_diff_classes_partition_the_keyspace(spark):
    from llm_batch_processor_spark.tables import load

    rows = {r["class"]: r["n"] for r in _run(spark, "table_diff").collect()}
    n_orders = load(spark, SF_SMOKE, "orders").count()
    n_added = rows.get("added", 0)
    # every original key is exactly one of removed/changed/unchanged
    assert (
        rows.get("removed", 0) + rows.get("changed", 0) + rows.get("unchanged", 0)
        == n_orders
    )
    assert n_added >= 0

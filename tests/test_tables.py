"""tables.load's schema memo, pinned on recorded Spark jobs rather than
wall time: a warm load fires no job, a rewrite at the same path infers
again, and the events normalization is the same cold and warm."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from llm_batch_processor_spark.tables import load
from tests.conftest import SF_SMOKE as SF


def _fresh_copy(tmp_path, name: str) -> str:
    """A copy of one testdata table at a path the memo has not seen."""
    shutil.copy(f"{SF}/{name}.parquet", tmp_path / f"{name}.parquet")
    return str(tmp_path)


def test_warm_load_fires_no_spark_job(spark, count_jobs, tmp_path):
    sf = _fresh_copy(tmp_path, "orders")
    cold, cold_jobs = count_jobs(lambda: load(spark, sf, "orders"))
    warm, warm_jobs = count_jobs(lambda: load(spark, sf, "orders"))
    # the cold load's schema inference shows, so a 0 below is real
    assert cold_jobs >= 1
    assert warm_jobs == 0
    assert warm.schema == cold.schema
    # a keyed load checks its key once per snapshot, then is job-free too
    sf = _fresh_copy(tmp_path, "documents")
    _, cold_jobs = count_jobs(lambda: load(spark, sf, "documents", unique=("doc_id",)))
    _, warm_jobs = count_jobs(lambda: load(spark, sf, "documents", unique=("doc_id",)))
    assert cold_jobs >= 1
    assert warm_jobs == 0


def test_rewrite_at_same_path_infers_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = load(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.orderBy("a").collect()] == [(1, "x"), (2, "y")]


def test_rewrite_of_directory_dataset_infers_again(spark, tmp_path):
    part = tmp_path / "t.parquet" / "part-00000.parquet"
    part.parent.mkdir()
    pq.write_table(pa.table({"a": [1]}), part)
    assert load(spark, str(tmp_path), "t").columns == ["a"]
    part.unlink()
    pq.write_table(pa.table({"a": [1], "c": [2.5]}), part.with_name("part-00001.parquet"))
    assert load(spark, str(tmp_path), "t").dtypes == [("a", "bigint"), ("c", "double")]


def test_events_same_columns_and_types_cold_and_warm(spark, count_jobs, tmp_path):
    sf = _fresh_copy(tmp_path, "events")
    cold = load(spark, sf, "events")
    warm, warm_jobs = count_jobs(lambda: load(spark, sf, "events"))
    assert warm_jobs == 0
    assert cold.columns == [
        "event_id", "ts", "ts_ns", "user_id", "event_type", "value", "props"
    ]
    assert dict(cold.dtypes)["ts"] == "timestamp_ntz"
    assert dict(cold.dtypes)["ts_ns"] == "bigint"
    assert warm.dtypes == cold.dtypes
    assert warm.exceptAll(cold).count() == 0 and cold.exceptAll(warm).count() == 0

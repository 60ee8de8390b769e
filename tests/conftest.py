from __future__ import annotations

import itertools
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"


def run_query(spark, name):
    """The registered query ``name`` built over the smoke-scale tables."""
    from llm_batch_processor_spark.queries import all_queries

    return all_queries()[name].fn(spark, SF_SMOKE)


@pytest.fixture(scope="session")
def spark():
    from llm_batch_processor_spark.session import get_spark, stop_spark

    spark = get_spark(
        app_name="pytest",
        master="local[8]",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    yield spark
    stop_spark(spark)


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` under a fresh Spark job group and
    returns ``(result, number of jobs it fired)``, as the status store
    recorded them once the listener bus has drained."""
    sc = spark.sparkContext
    seq = itertools.count()

    def run(fn):
        group = f"pytest-jobs-{next(seq)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run

"""ensure_session_conf is the contract that keeps the engine correct
inside a session it does NOT own (the correctness driver hands us its
own SparkSession with stock confs). Pin the self-healing behavior."""

from __future__ import annotations

from llm_batch_processor_spark.session import ensure_session_conf


def test_stock_shuffle_partitions_are_rightsized(spark):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "200")  # Spark stock default
        ensure_session_conf(spark)
        expected = 2 * spark.sparkContext.defaultParallelism
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(expected)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_explicit_shuffle_partitions_are_respected(spark):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "37")
        ensure_session_conf(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "37"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_correctness_and_perf_confs_applied(spark):
    ensure_session_conf(spark)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert spark.conf.get("spark.sql.execution.pythonUDTF.arrow.enabled") == "true"


def test_explicit_aqe_opt_out_survives_heal_and_load(spark):
    """A caller's AQE opt-out holds through ensure_session_conf and a
    table load (the healer forces only confs whose Spark default differs
    from the engine's value), while the session TZ stays forced to UTC."""
    from conftest import SF_SMOKE

    from llm_batch_processor_spark.tables import load

    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        ensure_session_conf(spark)
        load(spark, SF_SMOKE, "region")
        assert spark.conf.get(key) == "false"
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set(key, old)


def test_python_workers_import_package_from_any_cwd(tmp_path):
    """A driver that puts the checkout on ``sys.path`` and runs from
    another directory must still find the package in its pandas UDF
    workers: get_spark ships the package root on the workers'
    PYTHONPATH instead of leaving it to their working directory."""
    import os
    import subprocess
    import sys
    import textwrap
    from pathlib import Path

    repo = str(Path(__file__).resolve().parent.parent)
    script = tmp_path / "driver.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {repo!r})
            import pandas as pd
            from pyspark.sql import functions as F
            from llm_batch_processor_spark.session import get_spark

            def package_name(s: pd.Series) -> pd.Series:
                import llm_batch_processor_spark as pkg
                return s.map(lambda _: pkg.__name__)

            spark = get_spark(app_name="cwd-probe", master="local[1]",
                              shuffle_partitions=1)
            package_name = F.pandas_udf(package_name, "string")
            row = spark.range(1).select(package_name(F.col("id").cast("string")))
            print("UDF:", row.first()[0])
            spark.stop()
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "UDF: llm_batch_processor_spark" in out.stdout

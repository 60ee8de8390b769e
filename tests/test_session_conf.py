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
    """Every conf the healer forces is set back to the engine's value
    after a caller moved it away."""
    moved = {
        "spark.sql.session.timeZone": ("America/New_York", "UTC"),
        "spark.sql.legacy.parquet.nanosAsLong": ("false", "true"),
        "spark.sql.execution.arrow.pyspark.enabled": ("false", "true"),
        "spark.sql.execution.pythonUDTF.arrow.enabled": ("false", "true"),
    }
    old = {k: spark.conf.get(k) for k in moved}
    try:
        for k, (hostile, _) in moved.items():
            spark.conf.set(k, hostile)
        ensure_session_conf(spark)
        assert {k: spark.conf.get(k) for k in moved} == {
            k: healed for k, (_, healed) in moved.items()
        }
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_get_spark_reuse_keeps_explicit_shuffle_partitions(spark):
    """get_spark on a live session returns it with the caller's
    shuffle-partition count intact: getOrCreate re-applies every
    runtime-settable builder option, so get_spark sets no count of its
    own and leaves sizing to ensure_session_conf."""
    from llm_batch_processor_spark.session import get_spark

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "37")
        assert get_spark(app_name="reuse") is spark
        assert spark.conf.get(key) == "37"
    finally:
        spark.conf.set(key, old)


def test_get_spark_reuse_keeps_explicit_builder_confs(spark):
    """get_spark on a live session keeps a broadcast threshold and a
    parquet codec the caller set on it: the engine's builder defaults
    apply only when the call creates the session, since getOrCreate
    would re-apply them to the session it returns."""
    from llm_batch_processor_spark.session import get_spark

    moved = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.parquet.compression.codec": "snappy",
    }
    old = {k: spark.conf.get(k) for k in moved}
    try:
        for k, v in moved.items():
            spark.conf.set(k, v)
        assert get_spark(app_name="reuse") is spark
        assert {k: spark.conf.get(k) for k in moved} == moved
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


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
            from llm_batch_processor_spark.session import get_spark, stop_spark

            def package_name(s: pd.Series) -> pd.Series:
                import llm_batch_processor_spark as pkg
                return s.map(lambda _: pkg.__name__)

            spark = get_spark(app_name="cwd-probe", master="local[1]",
                              extra_conf={{"spark.sql.shuffle.partitions": "1"}})
            package_name = F.pandas_udf(package_name, "string")
            row = spark.range(1).select(package_name(F.col("id").cast("string")))
            print("UDF:", row.first()[0])
            stop_spark(spark)
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


def test_stop_spark_keeps_accumulators_and_stderr_clean(tmp_path):
    """stop_spark ends a session whose Python UDF fed an accumulator, a
    second session in the same process counts from a clean start, and
    a JVM that exits right after the stop, inside the accumulator
    server's poll window, prints no socketserver traceback to stderr."""
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
            import time
            sys.path.insert(0, {repo!r})
            from pyspark import SparkContext
            from pyspark.sql import functions as F
            from llm_batch_processor_spark.session import get_spark, stop_spark

            def counted_job():
                spark = get_spark(app_name="stop-probe", master="local[2]",
                                  extra_conf={{"spark.sql.shuffle.partitions": "2"}})
                acc = spark.sparkContext.accumulator(0)

                def bump(x):
                    acc.add(1)
                    return x

                bump = F.udf(bump, "long")
                spark.range(100).select(bump("id")).write.format("noop").mode("overwrite").save()
                print("total:", acc.value, flush=True)
                return spark

            stop_spark(counted_job())
            stop_spark(counted_job())
            # end the JVM at once, as a process exit would
            gateway = SparkContext._gateway
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            time.sleep(1.5)
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
    assert out.stdout.splitlines() == ["total: 100", "total: 100"]
    assert "Exception occurred during processing of request" not in out.stderr

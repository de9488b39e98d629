"""Session-wide settings of ``session.get_spark``."""

from __future__ import annotations

import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F


def test_call_site_capture_off(spark):
    """Column ops do not capture their Python call site (about 10 py4j
    round trips per op when on)."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_ansi_error_keeps_its_exception_class(spark):
    """Without call-site capture an ANSI runtime error still raises its
    Spark exception class with its error condition."""
    with pytest.raises(ArithmeticException) as err:
        spark.range(1).select(F.lit(1) / F.col("id")).collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"


def test_workers_import_the_package_from_any_working_directory(tmp_path):
    """A driver that imports the package through ``sys.path`` alone, from
    another working directory and without ``PYTHONPATH``, runs Python-worker
    stages: the package's parent directory is on the workers' path, ahead
    of the caller's own ``spark.executorEnv.PYTHONPATH``."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    extra = str(tmp_path / "extra")
    script = f"""
import os, sys
sys.path.insert(0, {root!r})
from analysis_of_flight_delay_data_by_mapreduce_spark.session import get_spark
from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
    attach_synthetic_png, decode_images)
s = get_spark("worker-path", master="local[1]", shuffle_partitions=1,
              extra_conf={{"spark.executorEnv.PYTHONPATH": {extra!r}}})
ids = s.range(8).withColumnRenamed("id", "doc_id")
print("ROWS", decode_images(attach_synthetic_png(ids, "doc_id")).count())
assert s.conf.get("spark.executorEnv.PYTHONPATH") == {root!r} + os.pathsep + {extra!r}
s.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "1"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "ROWS 8" in out.stdout, out.stderr[-3000:]
    assert out.returncode == 0, out.stderr[-3000:]

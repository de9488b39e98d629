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

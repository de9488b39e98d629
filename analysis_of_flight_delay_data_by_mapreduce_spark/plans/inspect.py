"""Physical-plan introspection helpers.

The engine's scale story rests on specific physical-plan shapes (SURVEY §4):
filters and column pruning reaching the Parquet scan, partial aggregation
before every shuffle, dimension joins broadcast, top-k as
TakeOrderedAndProject. ``plan_text`` makes those properties assertable in
tests and auditable by humans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_text(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as text (same output as ``df.explain(mode)``)."""
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)

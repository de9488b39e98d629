"""Bucketed tables: co-located joins without a shuffle (100 TB posture).

A fact-to-fact join (lineitem ⋈ orders) shuffles both sides every query.
Writing both tables bucketed (and sorted) by the join key moves that
shuffle to write time, once: subsequent joins read co-located buckets and
plan as a sort-merge join with NO Exchange on either side — at scale, the
single biggest recurring-shuffle eliminator for star-schema fact joins.

Uses ``bucketBy``+``sortBy``+``saveAsTable`` (bucket metadata lives in the
session catalog; a production deployment uses a shared metastore).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame

__all__ = ["write_bucketed"]


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 8,
) -> None:
    """Persist ``df`` as a managed table bucketed and sorted by ``key``.

    Idempotent in local mode: drops any catalog entry AND a stale warehouse
    location left by a previous session (the in-memory catalog forgets
    tables across sessions but the files remain; a production deployment
    with a shared metastore doesn't hit this).
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    loc = os.path.join(wh.removeprefix("file:"), table.lower())
    if loc and os.path.exists(loc):
        shutil.rmtree(loc)
    df.write.mode("overwrite").bucketBy(n_buckets, key).sortBy(key).saveAsTable(table)


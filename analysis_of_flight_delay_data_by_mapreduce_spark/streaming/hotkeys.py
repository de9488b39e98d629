"""Streaming face of CMS-guided hot-key detection: each micro-batch's
distinct keys are probed against a FROZEN history grid (the
``orders_hot_custkeys_cms_check`` pattern made continuous) and the
flagged keys land in an epoch-partitioned alert sink — the online
counterpart of deriving the salting list before a big join.

The per-key decision (``est >= threshold`` against the frozen grid) is
independent of which micro-batch carried the key, so any batch split
yields the same union of flagged keys (the parity contract the tests
pin); ``est >= true`` makes the alerts false-negative-free with respect
to the history. The epoch-partitioned idempotent sink
(``streaming.sinks._drain_epochs``) keeps epoch replay from duplicating
alerts.

At 100 TB the grid is ~KBs (broadcast into every batch) and each batch
pays one distinct + one grid join — the alert stream is ready before
the day's join jobs need their skew lists. Refresh the grid by
``cms_merge``-ing the new day's grid in (linearity), not by rescanning
history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sinks import _drain_epochs, _upsert_epoch

__all__ = ["run_hot_key_alert_stream"]


def run_hot_key_alert_stream(
    stream_df: DataFrame,
    key_col: str,
    grid_path: str,
    threshold: int,
    out_path: str,
    checkpoint: str,
    depth: int = 4,
    width: int = 1024,
):
    """Drive hot-key alerting over a keyed stream: per micro-batch,
    probe the batch's distinct keys against the history CMS grid at
    ``grid_path`` and upsert keys with ``est >= threshold`` (candidates
    ⊇ truly-hot — the sketch cannot miss one) into the
    epoch-partitioned alert table. Epoch contract:
    :func:`~.sinks._drain_epochs`."""
    from ..operators.sketch import cms_estimate

    def _epoch(batch_df: DataFrame, epoch_id: int) -> None:
        grid = batch_df.sparkSession.read.parquet(grid_path)
        probe = batch_df.select(F.col(key_col).alias("__k")).distinct()
        hot = (
            cms_estimate(grid, probe, "__k", depth, width)
            .filter(F.col("est") >= threshold)
            .select(F.col("__k").alias(key_col), "est")
        )
        _upsert_epoch(hot, epoch_id, out_path)

    return _drain_epochs(stream_df, checkpoint, _epoch)

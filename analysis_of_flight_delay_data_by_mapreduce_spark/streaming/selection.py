"""Streaming face of DSIR data selection: score each micro-batch of
documents against the twin-trained hashed-n-gram models and keep only
the target-like ones — the continuous-ingest counterpart of
``operators.selection.dsir_select`` (a web-crawl firehose filtered down
to pretraining-quality documents as it lands).

Scoring is per-document against FROZEN literals (the trained
log-ratios), so the decision for a document never depends on which
micro-batch carried it — any batch split yields the same union of
selected rows (the parity contract the tests pin). The
epoch-partitioned idempotent sink (``streaming.sinks._drain_epochs``)
keeps epoch replay from duplicating selections."""

from __future__ import annotations

from pyspark.sql import DataFrame

from .sinks import _drain_epochs, _upsert_epoch

__all__ = ["run_dsir_select_stream"]


def run_dsir_select_stream(
    stream_docs: DataFrame,
    logratios: list[int],
    min_score: int,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Drive DSIR selection over a document stream: each micro-batch is
    scored against the frozen trained literals and the selected rows
    written to an ``epoch``-partitioned parquet sink. Epoch contract:
    :func:`~.sinks._drain_epochs`."""
    from ..operators.selection import dsir_select

    def _epoch(batch_df: DataFrame, epoch_id: int) -> None:
        # dsir_select is batch-shaped for foreachBatch: the score filter
        # sits above a per-batch aggregate, so the score is evaluated
        # once (the fold face would score every row twice under a
        # pushed-down filter — see operators.selection.dsir_scores_agg)
        out = dsir_select(batch_df, id_col, text_col, logratios, min_score)
        _upsert_epoch(out, epoch_id, out_path)

    return _drain_epochs(stream_docs, checkpoint, _epoch)

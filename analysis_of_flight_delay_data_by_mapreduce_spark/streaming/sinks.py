"""Streaming sinks: exactly-once-per-partition lake writes, and the one
epoch driver every streaming face runs on.

Structured Streaming's file sink is append-only; aggregation streams
need upsert semantics. The canonical pattern is ``foreachBatch`` +
idempotent partition overwrite (``sources.sinks.upsert_partitions``):
each micro-batch replaces exactly the hive partitions it contains, so a
replayed epoch (driver retry, checkpoint recovery) rewrites the same
partitions with the same data instead of duplicating. Update output mode
emits each group's complete current value, and the partition layout is
the group key — together that makes the write idempotent at partition
granularity without a table format. (Layering Delta/Iceberg MERGE swaps
into the same foreachBatch slot.) :func:`_drain_epochs` is that pattern,
shared by every streaming driver in this package.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sources.sinks import upsert_partitions

__all__ = [
    "stream_daily_type_counts_upsert",
    "stream_daily_quantile_grid_upsert",
    "stream_daily_cms_upsert",
]


def _drain_epochs(
    stream: DataFrame,
    checkpoint: str,
    write_batch: Callable[[DataFrame, int], None],
) -> StreamingQuery:
    """Start ``stream`` as a ``foreachBatch`` query that calls
    ``write_batch(batch_df, epoch_id)`` once per non-empty micro-batch,
    and return the started query.

    Contract: ``foreachBatch`` is AT-LEAST-once — a crash after the
    write but before the checkpoint commit replays the epoch with the
    same rows and the same ``epoch_id``. ``write_batch`` must therefore
    be an idempotent epoch sink: it overwrites exactly what the epoch
    owns (an aggregation-keyed or ``epoch``-keyed partition, a
    key-replaced cluster), so a replay rewrites the same data instead of
    duplicating it — exactly-once at the sink. An empty micro-batch
    writes nothing (an empty write could leave a schema-less directory
    that the next epoch's read cannot infer). ``update`` output mode
    emits each group's current value for an aggregating stream and is
    append for any other. ``availableNow`` drains the backlog and stops
    (bounded replay); a continuous deployment drops the trigger.
    """

    def _epoch(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            write_batch(batch_df, epoch_id)

    return (
        stream.writeStream.outputMode("update")
        .foreachBatch(_epoch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _upsert_epoch(out: DataFrame, epoch_id: int, path: str) -> None:
    """Write one epoch's rows to the ``epoch``-partitioned sink at
    ``path``, replacing only that epoch's partition."""
    upsert_partitions(out.withColumn("epoch", F.lit(epoch_id)), path, ["epoch"])


def stream_daily_type_counts_upsert(
    events: DataFrame,
    path: str,
    checkpoint: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    watermark: str = "1 day",
) -> None:
    """Maintain a (day, event_type)-partitioned parquet rollup of event
    counts from a stream, exactly-once per partition.

    Blocks until the ``availableNow`` run drains (test/batch-parity
    harness shape; a production job would omit the trigger and run
    continuously). State is bounded by the watermark; the sink partition
    key equals the aggregation key, which is what makes the dynamic
    partition overwrite idempotent under replay.
    """
    agg = (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, "1 day").alias("__w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.to_date(F.col("__w.start")).alias("day"), key_col, "n"
        )
    )

    _drain_epochs(
        agg, checkpoint, lambda b, _e: upsert_partitions(b, path, ["day", key_col])
    ).awaitTermination()


def stream_daily_quantile_grid_upsert(
    events: DataFrame,
    path: str,
    checkpoint: str,
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "1 day",
) -> None:
    """Maintain a day-partitioned mergeable QUANTILE-SKETCH grid from an
    event stream, exactly-once per partition — the streaming face of
    ``operators.sketch.qsketch_build`` (values are rounded to integer
    cents first, the engine's exact-money pattern).

    Each micro-batch updates only the (day, shift, sub) cells it touched
    (update mode + watermark keeps state bounded); the sink partition key
    equals the FULL aggregation key, so the dynamic partition overwrite
    is idempotent under epoch replay — the same contract as
    ``stream_daily_type_counts_upsert``. One parquet directory per grid
    cell per day is bounded by the grid (≤ ~1k cells/day), not the data;
    a table-format MERGE collapses the layout when available. Any
    window's quantile question is then answered by ``qsketch_merge`` +
    ``qsketch_quantiles`` over the day grids — no raw-event rescan.
    """
    from ..operators.sketch import with_qsketch_bucket

    cents = F.round(F.col(value_col) * 100, 0).cast("bigint")
    bucketed = with_qsketch_bucket(
        events.withColumn("__cents", cents), "__cents"
    )
    agg = (
        bucketed.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, "1 day").alias("__w"), "shift", "sub")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.to_date(F.col("__w.start")).alias("day"), "shift", "sub", "cnt")
    )

    _drain_epochs(
        agg,
        checkpoint,
        lambda b, _e: upsert_partitions(b, path, ["day", "shift", "sub"]),
    ).awaitTermination()


def stream_daily_cms_upsert(
    docs: DataFrame,
    path: str,
    checkpoint: str,
    ts_col: str = "ts",
    text_col: str = "text",
    depth: int = 4,
    width: int = 1024,
    watermark: str = "1 day",
) -> None:
    """Maintain a day-partitioned COUNT-MIN grid over a token stream,
    exactly-once per partition — the streaming face of
    ``operators.sketch.cms_build``, completing the mergeable-sketch
    streaming trio next to the count and quantile-grid sinks.

    Each micro-batch updates only the (day, seed, cell) cells its tokens
    touched (update mode + watermark keeps state bounded at ≤
    depth·width live cells per open day); the sink partition key equals
    the FULL aggregation key, so the dynamic partition overwrite is
    idempotent under epoch replay. The directory count is bounded by the
    grid (≤ depth·width per day), not the data — a table-format MERGE
    collapses the layout when available. Any window's term-frequency
    question is then ``cms_merge`` + ``cms_estimate`` over the day grids
    — no raw-token rescan, the same 100 TB rollup pattern as the batch
    tier.
    """
    from ..functions import word_tokens
    from ..operators.sketch import _cell

    # one generator per select clause: tokens first, then the seed family
    toks = docs.select(
        F.col(ts_col),
        F.explode(word_tokens(F.col(text_col))).alias("__tok"),
    ).select(
        ts_col,
        "__tok",
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("seed"),
    )
    agg = (
        toks.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(ts_col, "1 day").alias("__w"),
            "seed",
            _cell(F.col("seed"), F.col("__tok"), width).alias("cell"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.to_date(F.col("__w.start")).alias("day"), "seed", "cell", "cnt"
        )
    )

    _drain_epochs(
        agg,
        checkpoint,
        lambda b, _e: upsert_partitions(b, path, ["day", "seed", "cell"]),
    ).awaitTermination()

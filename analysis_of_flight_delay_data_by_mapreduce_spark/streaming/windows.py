"""Structured Streaming variants of the aggregation layer.

The reference is batch-only (SURVEY §2.4); this module is the additive
streaming tier. The transforms take plain DataFrames, so the SAME function
serves batch (``spark.read``) and streaming (``spark.readStream``) inputs —
the design constraint from SURVEY §7.3. Late data is handled with
watermarks; state is bounded (windowed aggs, session windows), never
driver-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.readers import read_table_stream

__all__ = [
    "windowed_event_counts",
    "sliding_event_counts",
    "sessionized_counts",
    "read_events_stream",
    "run_stream_to_memory",
    "dedup_events_stream",
]


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "event_type",
    watermark: str | None = "30 minutes",
) -> DataFrame:
    """Tumbling-window counts + cent-exact value sums per event type.

    Works on batch and streaming frames alike; the watermark (streaming
    only) bounds state so late rows older than the threshold are dropped
    instead of growing state forever.
    Output: ``window_start, event_type, n, value_cents``.
    """
    if events.isStreaming and watermark:
        events = events.withWatermark(ts_col, watermark)
    return (
        events.groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("value_cents"),
        )
        .select(F.col("w.start").alias("window_start"), key_col, "n", "value_cents")
    )


def sliding_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    ts_col: str = "ts",
    key_col: str = "event_type",
    watermark: str | None = "30 minutes",
) -> DataFrame:
    """Sliding-window counts: each event lands in ``window/slide`` windows.
    Same batch/stream duality as ``windowed_event_counts``.
    Output: ``window_start, event_type, n``."""
    if events.isStreaming and watermark:
        events = events.withWatermark(ts_col, watermark)
    return (
        events.groupBy(
            F.window(F.col(ts_col), window, slide).alias("w"), F.col(key_col)
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), key_col, "n")
    )


def sessionized_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-user session windows (gap-based). ``session_window`` is the
    native stateful operator — no custom state store code needed.
    Output: ``user_id, session_start, session_end, n``."""
    if events.isStreaming:
        events = events.withWatermark(ts_col, watermark)
    return (
        events.groupBy(F.session_window(F.col(ts_col), gap).alias("s"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            key_col,
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n",
        )
    )


def read_events_stream(spark, sf_dir: str) -> DataFrame:
    """The events table as a bounded stream (file source; real deployments
    swap in Kafka with the same downstream plan), typed by its declared
    schema exactly as ``sources.read_parquet_table`` types the batch face:
    ``ts`` arrives as TZ-aware TIMESTAMP, which watermarks require."""
    return read_table_stream(spark, sf_dir, "events")


def run_stream_to_memory(agg: DataFrame, name: str, mode: str = "complete"):
    """Drive a (bounded) streaming aggregate to completion into an
    in-memory sink; returns the finished StreamingQuery. Test harness path."""
    q = (
        agg.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def dedup_events_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: first arrival per key wins; duplicate
    arrivals inside the watermark horizon are dropped and state for keys
    older than the watermark is evicted (bounded state — the streaming
    face of ``operators.dedup.exact_dedup``). On a batch frame this
    degrades to plain ``dropDuplicates`` (all-time dedup), which is the
    parity contract the test pins for data with no cross-horizon dupes."""
    keys = keys or ["event_id"]
    if events.isStreaming:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            keys
        )
    return events.dropDuplicates(keys)

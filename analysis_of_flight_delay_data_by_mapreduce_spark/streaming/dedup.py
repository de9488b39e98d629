"""Streaming incremental dedup: a document stream anti-joined against a
static historical fingerprint index.

The batch face is ``plans.synthetic.dedup_incremental``'s exact stage;
this is its continuous-ingest version: each micro-batch keeps only the
documents whose canonical fingerprint (``operators.text.fingerprint``)
is absent from the historical index, then collapses duplicates WITHIN
the stream. Structured Streaming does not support stream-static
``left_anti``, so the anti join is the canonical ``left_outer`` +
``IS NULL`` rewrite — stateless per micro-batch, the static side joined
fresh each epoch exactly like ``joins.enrich_with_dim``. At 100 TB the
index side is the big stable relation: materialize it bucketed by ``fp``
(``operators.bucketing``) and every epoch's join reuses that layout
shuffle-free, which is what keeps per-epoch cost O(increment).

In-stream dedup uses ``dropDuplicates`` on the fingerprint; bounded
replays (``availableNow``) bound its state. A continuous deployment
should instead carry an event-time column and use
``windows.dedup_events_stream``'s ``dropDuplicatesWithinWatermark``
shape so fingerprint state ages out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.text import fingerprint
from ..sources.readers import read_table_stream

__all__ = [
    "read_documents_stream",
    "dedup_stream_against_index",
    "dedup_stream_against_index_minhash",
    "run_minhash_dedup_stream",
    "dedup_stream_against_index_semantic",
    "run_semantic_dedup_stream",
    "dedup_stream_stateful",
]


def read_documents_stream(spark, sf_dir: str) -> DataFrame:
    """The documents table as a bounded file-source stream, typed by its
    declared schema (same recipe as ``windows.read_events_stream``; real
    deployments swap in Kafka/landing-dir sources)."""
    return read_table_stream(spark, sf_dir, "documents")


def dedup_stream_against_index(
    new_docs: DataFrame,
    index_docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Keep only stream documents that are exact-new versus the historical
    corpus: fingerprint each arrival, drop it if the fingerprint exists in
    ``index_docs`` (static), then keep one arrival per fingerprint within
    the stream. Works identically on a batch ``new_docs`` frame (no
    streaming branch — the plan is batch/stream agnostic), which is the
    parity contract the test pins.
    Output: the surviving ``new_docs`` rows plus their ``fp`` column.
    """
    fps = fingerprint(new_docs, text_col)
    seen = (
        fingerprint(index_docs, text_col)
        .select("fp")
        .distinct()
        .withColumn("__seen", F.lit(1))
    )
    fresh = (
        fps.join(seen, "fp", "left_outer")
        .filter(F.col("__seen").isNull())
        .drop("__seen")
    )
    return fresh.dropDuplicates(["fp"])


def dedup_stream_against_index_minhash(
    new_docs: DataFrame,
    index_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    mode: str = "word",
) -> DataFrame:
    """NEAR-dup variant of the incremental stream dedup (VERDICT r4 item
    5): survivors are the ``new_docs`` rows with no verified MinHash-LSH
    match (exact Jaccard ≥ ``threshold``) in the static historical
    corpus — ``operators.dedup.minhash_matches_between``'s band-bucket
    join per micro-batch.

    The plan needs aggregations on the increment side (signature mins,
    band buckets), which Structured Streaming cannot run ahead of a join
    in append mode — so this stage is BATCH-shaped and runs inside
    ``foreachBatch`` (see :func:`run_minhash_dedup_stream`), the standard
    recipe for composite per-epoch logic. Per-epoch cost scales with the
    increment: at 100 TB the history's signatures/band index are content
    hashes — materialize them once, partitioned by (band, bucket), and
    every epoch joins against that layout instead of re-hashing history
    (the same pre-materialized-index posture as the exact-fp variant).
    Decisions are per-document against the static index, so any
    micro-batch split yields the same union of survivors as one batch —
    the parity contract the tests pin.
    """
    from ..operators.dedup import minhash_matches_between

    hits = (
        minhash_matches_between(
            new_docs,
            index_docs,
            id_col,
            text_col,
            num_hashes=num_hashes,
            bands=bands,
            shingle_k=shingle_k,
            mode=mode,
            verify_jaccard=threshold,
        )
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return new_docs.join(hits, id_col, "left_anti")


def run_minhash_dedup_stream(
    stream_docs: DataFrame,
    index_docs: DataFrame,
    out_path: str,
    checkpoint: str,
    **kwargs,
):
    """Drive the near-dup incremental dedup over a document stream:
    every micro-batch is filtered against the static index and the
    survivors written to an ``epoch``-partitioned parquet sink via
    idempotent partition overwrite. ``availableNow`` drains the backlog
    and stops (bounded replay). foreachBatch alone is AT-LEAST-once — a
    crash after the write but before the checkpoint commit replays the
    epoch — so a blind append would duplicate survivors, defeating the
    dedup; partitioning by the epoch id and overwriting exactly that
    partition (``sources.sinks.upsert_partitions``) makes the replay
    rewrite the same partition with the same rows: exactly-once at the
    sink, same recipe as ``streaming.sinks``."""
    from ..sources.sinks import upsert_partitions

    def _epoch(batch_df: DataFrame, epoch_id: int) -> None:
        out = dedup_stream_against_index_minhash(batch_df, index_docs, **kwargs)
        upsert_partitions(out.withColumn("epoch", F.lit(epoch_id)), out_path, ["epoch"])

    return (
        stream_docs.writeStream.foreachBatch(_epoch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def dedup_stream_against_index_semantic(
    new_docs: DataFrame,
    index_docs: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
) -> DataFrame:
    """SEMANTIC variant of the incremental stream dedup, completing the
    exact-fingerprint / MinHash-LSH / embedding triad: survivors are the
    ``new_docs`` rows with no same-cluster corpus neighbor at cosine ≥
    ``threshold`` (``operators.dedup.semantic_matches_between``).

    Batch-shaped for ``foreachBatch`` like the MinHash face (the
    assignment is a stateless vectorized projection, but the survivors
    anti-join needs batch semantics). The corpus side's cluster
    assignment is content-derived — materialize it once, partitioned by
    cluster, and each epoch joins that layout. Per-document decisions
    against the static index ⇒ any micro-batch split yields the same
    union of survivors (the parity contract the tests pin).
    """
    from ..operators.dedup import semantic_matches_between

    hits = (
        semantic_matches_between(
            new_docs, index_docs, id_col, vec_col, centroids, threshold
        )
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return new_docs.join(hits, id_col, "left_anti")


def run_semantic_dedup_stream(
    stream_docs: DataFrame,
    index_docs: DataFrame,
    centroids: list[list[float]],
    out_path: str,
    checkpoint: str,
    **kwargs,
):
    """Drive the semantic incremental dedup over an embedding stream —
    same foreachBatch/availableNow contract and epoch-partitioned
    idempotent sink as :func:`run_minhash_dedup_stream` (blind append
    would be at-least-once under epoch replay)."""
    from ..sources.sinks import upsert_partitions

    def _epoch(batch_df: DataFrame, epoch_id: int) -> None:
        out = dedup_stream_against_index_semantic(
            batch_df, index_docs, centroids, **kwargs
        )
        upsert_partitions(out.withColumn("epoch", F.lit(epoch_id)), out_path, ["epoch"])

    return (
        stream_docs.writeStream.foreachBatch(_epoch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def dedup_stream_stateful(docs: DataFrame, id_col: str, fp_col: str) -> DataFrame:
    """Exact streaming dedup held entirely in the state store: the first
    micro-batch in which a fingerprint appears emits ONE survivor (the
    smallest ``id_col`` within that batch — deterministic under any
    within-batch ordering); every later sighting emits nothing.

    The low-latency counterpart of ``dedup_stream_against_index``: no
    static index table, no per-batch join — just a hash shuffle on the
    fingerprint and an O(1) state lookup per group. State is one byte
    per distinct fingerprint and is never evicted (``NoTimeout``):
    right for bounded keyspaces (per-day partitions, rolling streams
    restarted per window); for an unbounded corpus use the bucketed
    static-index face, whose history lives in storage, not memory.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    types = {f.name: f.dataType.simpleString() for f in docs.schema.fields}
    out_schema = f"{fp_col} {types[fp_col]}, {id_col} {types[id_col]}"

    def first_seen(key, batches, state: GroupState):
        if state.exists:
            for _ in batches:  # drain; later sightings emit nothing
                pass
            return
        best = None
        for pdf in batches:
            if len(pdf):
                m = pdf[id_col].min()
                best = m if best is None else min(best, m)
        if best is None:
            return
        state.update((1,))
        yield pd.DataFrame([{fp_col: key[0], id_col: best}])

    return (
        docs.select(fp_col, id_col)
        .groupBy(fp_col)
        .applyInPandasWithState(
            first_seen,
            outputStructType=out_schema,
            stateStructType="seen byte",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

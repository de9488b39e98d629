"""Streaming maintenance of the IVF-PQ vector index.

The production shape this covers: embeddings arrive continuously (new
documents embedded, old documents re-embedded) and the ANN index must
absorb them WITHOUT a rebuild. Each micro-batch is assigned to the
frozen coarse centroids, PQ-encoded against the frozen codebooks, and
key-replacingly merged into only the cluster partitions it touches —
``operators.similarity.upsert_ivfpq_table`` run per epoch by
``streaming.sinks._drain_epochs``. The upsert is key-replacing by
``id_col`` and rewrites whole cluster partitions, so a replayed epoch
rewrites the same partitions with the same content: no duplicate ids.

Quantizer lifecycle at 100 TB: the centroids/codebooks describe the
DISTRIBUTION, not the rows — increments reuse them; retrain only on
measured drift, which is a rebuild, not an upsert (see
``upsert_ann_table``'s maintenance recipe). Per-epoch cost scales with
the batch's cluster spread, never with the index size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .sinks import _drain_epochs


def run_ann_ingest_stream(
    stream_vecs: DataFrame,
    path: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Drain a stream of ``(id, vector)`` rows into a
    ``build_ivfpq_table``-layout index at ``path``: every micro-batch is
    encoded against the frozen quantizers and merged via the
    key-replacing touched-cluster upsert. A re-embedded id supersedes
    its old row even when the new vector lands in a DIFFERENT coarse
    cluster (the stale row is located and relocated — the
    ``_upsert_by_cluster`` contract). The first non-empty epoch against
    an empty ``path`` bootstraps the index. Epoch contract:
    :func:`~.sinks._drain_epochs`."""
    from ..operators.similarity import upsert_ivfpq_table

    return _drain_epochs(
        stream_vecs,
        checkpoint,
        lambda b, _e: upsert_ivfpq_table(
            b, path, centroids, codebooks, id_col=id_col, vec_col=vec_col
        ),
    )

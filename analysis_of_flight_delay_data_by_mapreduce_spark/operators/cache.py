"""Scoped caching: persist() with deterministic release.

Operators persist intermediates that feed both construction-time actions
(fixpoint probes, stats samples) and the lazily-consumed result, so they
cannot unpersist before returning. Left alone, those blocks accumulate
across a long driver session running many registry queries back-to-back
and pressure executor storage memory.

``scoped_persist`` records every such DataFrame under the currently
building query's scope; ``release_stale`` (called by the query registry
before each query builds) unpersists blocks belonging to a DIFFERENT
scope. The driver consumes one query fully before building the next, so
at most one query's blocks are ever live — while repeated builds of the
SAME query (bench warmup/timing iterations) keep their blocks, letting
Spark's canonical-plan cache lookup reuse them instead of recomputing.

``localCheckpoint`` blocks (graph.py's closure rounds) are not tracked
here: once a round's DataFrame is unreferenced, Spark's ContextCleaner
unpersists the checkpointed RDD after GC — bounded by design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["scoped_persist", "release_stale", "set_scope"]

_LIVE: list[tuple[str, DataFrame]] = []
_SCOPE: str = ""


def set_scope(name: str) -> None:
    """Tag subsequent scoped_persist calls as belonging to query ``name``."""
    global _SCOPE
    _SCOPE = name


def scoped_persist(df: DataFrame) -> DataFrame:
    """persist() at the default storage level that registers the
    DataFrame for release when a different registry query builds.

    A frame whose plan is already cached (a rebuild of the same query:
    ``storageLevel`` is looked up by canonical plan) is returned as is —
    neither persisted nor registered again, so repeated builds keep one
    registry entry per cached plan."""
    level = df.storageLevel
    if level.useMemory or level.useDisk:
        return df
    df = df.persist()
    _LIVE.append((_SCOPE, df))
    return df


def release_stale(keep_scope: str | None = None) -> None:
    """Unpersist every DataFrame cached under a scope other than
    ``keep_scope`` (None releases everything)."""
    kept = []
    for scope, df in _LIVE:
        if keep_scope is not None and scope == keep_scope:
            kept.append((scope, df))
            continue
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    _LIVE[:] = kept

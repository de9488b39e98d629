"""Streaming face of A-ES weighted sampling: maintain the exact
weighted-without-replacement top-k per group over a document stream
with BOUNDED state — the continuous-ingest counterpart of
``operators.selection.weighted_sample_topk`` (a rolling, length-weighted
eval/inspection sample that is always the sample of everything ingested
so far).

Why this streams exactly: the A-ES key is a pure per-row function
(md5-derived u, ``ln(u)/w`` micro-quantized), so the union's top-k is
computable from any partition of the stream into batches —
``merge(topk(state), topk(batch)) == topk(state ∪ batch)``
(:func:`~analysis_of_flight_delay_data_by_mapreduce_spark.operators.selection.weighted_sample_merge`,
driver-witnessed by the ``docs_weighted_sample_merge_check`` oracle
face). State is ``groups × k`` rows — never data-sized.

State layout (ADVICE r8): ``state_path/run=<n>/epoch=<m>``. A *run* is
one streaming-query lifetime, identified by the query's checkpoint UUID
(``<checkpoint>/metadata``) and fenced to a monotonically increasing
integer via marker files under ``state_path/_runs/``. Restarting with
the SAME checkpoint resumes the same run (epoch ids continue, replays
aligned); restarting with a FRESH checkpoint opens a NEW run whose
epoch ids start at 0 — its state is rebuilt from the re-read backlog
and stale higher-numbered epochs from the previous run can never
shadow it (``latest_sample_state`` reads only the newest run). All
path probing goes through the Hadoop FileSystem API — the same FS the
epoch writes use — so the module behaves identically on local paths,
HDFS, or object stores (``os.listdir`` would silently see nothing on a
non-local scheme and degrade the rolling sample to the last batch).

Epoch replay (foreachBatch is at-least-once): each epoch writes the
FULL merged selection under its run's ``epoch=E``, computed from the
latest state in the SAME run with epoch < E — so replaying E reads the
same predecessor it read the first time and overwrites ``epoch=E``
with identical rows (the merge also collapses duplicate ids, so even a
state that somehow already contains the batch's rows merges to the
same top-k). A crashed partial ``epoch=E`` write is simply overwritten
on replay and never read as a predecessor by E itself. One tiny
directory per epoch (bounded by ``groups × k`` rows each); an
``availableNow`` drain is bounded by the backlog, and a real
deployment compacts old epochs or swaps in a table-format MERGE.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sinks import _drain_epochs

__all__ = [
    "compact_sample_state",
    "latest_sample_state",
    "run_weighted_sample_stream",
]

_RUNS_DIR = "_runs"  # "_"-prefixed: invisible to Spark's parquet discovery


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path`` — the SAME filesystem the
    epoch writes resolve, so probes agree with writes on every scheme
    (the repo convention, as in ``operators.similarity._upsert_by_cluster``)."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, hpath


def _list_names(spark: SparkSession, path: str) -> list[str]:
    fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(hpath)]


def _read_small_text(spark: SparkSession, path: str) -> str | None:
    fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        return None
    jvm = spark.sparkContext._jvm
    stream = fs.open(hpath)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _write_small_text(spark: SparkSession, path: str, text: str) -> None:
    fs, hpath = _fs(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text, "utf-8"))
    finally:
        out.close()


def _delete(spark: SparkSession, path: str) -> None:
    fs, hpath = _fs(spark, path)
    fs.delete(hpath, True)


def _numbered(names: list[str], prefix: str) -> list[int]:
    out = []
    for name in names:
        m = re.fullmatch(rf"{prefix}=(\d+)", name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _runs_on_disk(spark: SparkSession, state_path: str) -> list[int]:
    return _numbered(_list_names(spark, state_path), "run")


def _epochs_on_disk(spark: SparkSession, state_path: str, run: int) -> list[int]:
    return _numbered(_list_names(spark, f"{state_path}/run={run}"), "epoch")


def _query_run_uuid(spark: SparkSession, checkpoint: str) -> str:
    """The streaming query's stable UUID from ``<checkpoint>/metadata``
    (written at query start, constant across restarts of the SAME
    checkpoint, fresh for a new checkpoint) — the identity that defines
    a run."""
    txt = _read_small_text(spark, checkpoint.rstrip("/") + "/metadata")
    if txt is None:
        raise FileNotFoundError(
            f"streaming checkpoint metadata not found under {checkpoint!r}; "
            "the run fence needs the query UUID the checkpoint records"
        )
    return json.loads(txt)["id"]


def _resolve_run(spark: SparkSession, state_path: str, run_uuid: str) -> int:
    """Fence ``run_uuid`` to an increasing run integer: reuse the marker
    under ``state_path/_runs/<uuid>`` when this query has written here
    before (same-checkpoint restart → same run, replays aligned),
    otherwise allocate ``max(existing)+1`` and record it. Markers are
    never deleted, so a compacted-away run's integer cannot be reused by
    a zombie resume of its old checkpoint."""
    marker = f"{state_path}/{_RUNS_DIR}/{run_uuid}"
    existing = _read_small_text(spark, marker)
    if existing is not None:
        return int(existing.strip())
    taken = [-1]
    for name in _list_names(spark, f"{state_path}/{_RUNS_DIR}"):
        peer = _read_small_text(spark, f"{state_path}/{_RUNS_DIR}/{name}")
        if peer is not None and peer.strip().isdigit():
            taken.append(int(peer.strip()))
    run = max(taken) + 1
    _write_small_text(spark, marker, str(run))
    return run


def latest_sample_state(
    spark: SparkSession,
    state_path: str,
    before: int | None = None,
    run: int | None = None,
) -> DataFrame | None:
    """The most recent epoch's selection. With ``run=None`` (the read
    face), the newest run that has at least one epoch wins — stale
    epochs left by a PREVIOUS run can never shadow the current one.
    With ``run`` given (the epoch handler), only that run's epochs are
    considered, optionally restricted to epochs strictly below
    ``before`` — what a replayed epoch must read so it sees the same
    predecessor it saw the first time. Reads the one epoch subdirectory
    directly — ``groups × k`` rows, no partition discovery over the
    history."""
    if run is None:
        candidates = reversed(_runs_on_disk(spark, state_path))
    else:
        candidates = [run]
    for r in candidates:
        epochs = _epochs_on_disk(spark, state_path, r)
        if before is not None:
            epochs = [e for e in epochs if e < before]
        if epochs:
            return spark.read.parquet(f"{state_path}/run={r}/epoch={epochs[-1]}")
    return None


def compact_sample_state(
    spark: SparkSession, state_path: str, keep_last: int = 2
) -> list[str]:
    """Drop superseded state: every run older than the newest run that
    has epochs (independent lifetimes — a new run rebuilt its state
    from the re-read backlog), and within that newest run all but the
    newest ``keep_last`` epoch directories (each epoch's selection is
    COMPLETE — it already merged its predecessor — so older epochs are
    pure history, not state). ``keep_last`` must be >= 2: keeping the
    newest epoch's predecessor is what makes an at-least-once replay of
    the newest epoch after a compaction read the same predecessor it
    read the first time (keep_last=1 would silently rebuild that epoch
    from its batch alone, discarding all accumulated history). Returns
    the removed directories relative to ``state_path``. Run between
    drains, not concurrently with an active stream."""
    if keep_last < 2:
        raise ValueError(
            f"keep_last must be >= 2 to preserve replay safety (got {keep_last})"
        )
    runs_with_epochs = [
        r
        for r in _runs_on_disk(spark, state_path)
        if _epochs_on_disk(spark, state_path, r)
    ]
    if not runs_with_epochs:
        return []
    newest = runs_with_epochs[-1]
    removed = []
    for r in _runs_on_disk(spark, state_path):
        if r < newest:
            _delete(spark, f"{state_path}/run={r}")
            removed.append(f"run={r}")
    epochs = _epochs_on_disk(spark, state_path, newest)
    for e in epochs[:-keep_last] if keep_last < len(epochs) else []:
        _delete(spark, f"{state_path}/run={newest}/epoch={e}")
        removed.append(f"run={newest}/epoch={e}")
    return removed


def run_weighted_sample_stream(
    stream_docs: DataFrame,
    group_cols: list[str],
    id_col: str,
    weight_col: str,
    k: int,
    state_path: str,
    checkpoint: str,
):
    """Drive the rolling weighted sample over a stream: per micro-batch,
    select the batch's per-group top-k (bounded), merge with the
    previous epoch's state in the SAME run (bounded), write the merged
    selection under ``run=<fence>/epoch=<id>`` via idempotent partition
    overwrite. After the drain, ``latest_sample_state(spark,
    state_path)`` IS the exact A-ES selection over everything this run
    ingested — equal to the batch operator on the union (parity pinned
    in ``tests/test_streaming.py``). Epoch contract:
    :func:`~.sinks._drain_epochs`."""
    from ..operators.selection import weighted_sample_merge, weighted_sample_topk
    from ..sources.sinks import upsert_partitions

    cols = list(group_cols) + [id_col, weight_col]
    run_cache: list[int] = []

    def _epoch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if not run_cache:
            run_cache.append(
                _resolve_run(spark, state_path, _query_run_uuid(spark, checkpoint))
            )
        run = run_cache[0]
        parts = [
            weighted_sample_topk(
                batch_df.select(*cols), group_cols, id_col, weight_col, k
            )
        ]
        prev = latest_sample_state(spark, state_path, before=epoch_id, run=run)
        if prev is not None:
            parts.append(prev.select(*parts[0].columns))
        merged = weighted_sample_merge(parts, group_cols, id_col, k)
        upsert_partitions(
            merged.withColumn("run", F.lit(run)).withColumn(
                "epoch", F.lit(epoch_id)
            ),
            state_path,
            ["run", "epoch"],
        )

    return _drain_epochs(stream_docs, checkpoint, _epoch)

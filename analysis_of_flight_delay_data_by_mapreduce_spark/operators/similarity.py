"""Similarity search over embedding columns (extension tier).

Two paths, per the brute-force-baseline / scale-path pattern:

- **cosine_topk** — exact brute force: broadcast the query vector as a
  literal, score every row with a Catalyst higher-order-function cosine
  (JVM, no UDF), ``ORDER BY score DESC LIMIT k``. Spark plans the limit as
  ``TakeOrderedAndProject`` — per-partition top-k heaps then a driver merge
  of k·partitions rows, NOT a global sort. This is the right exact answer
  at any scale when you need it.
- **cosine_topk_lsh** — the approximate scale path: random-hyperplane
  sign-bit buckets (multi-probe: the query's bucket plus all buckets at
  hamming distance ≤ ``probe_radius``), exact cosine only within probed
  buckets. At 100 TB the bucketed table is written partitioned by bucket so
  a query prunes to a handful of partitions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import cosine_similarity

__all__ = [
    "random_hyperplanes",
    "cosine_scores",
    "cosine_topk",
    "bucketize_hyperplane",
    "bucketize_hyperplane_tables",
    "cosine_topk_lsh",
    "train_ivf_centroids",
    "train_ivf_centroids_parquet",
    "assign_ivf_cluster",
    "ivf_probes",
    "cosine_topk_ivf",
    "cosine_topk_ivf_parquet",
    "build_ann_table",
    "upsert_ann_table",
    "query_ann_table",
    "label_pca_summary",
    "label_pca_summary_parquet",
    "train_pq_codebooks",
    "train_pq_codebooks_parquet",
    "pq_encode",
    "pq_adc_topk",
    "build_ivfpq_table",
    "query_ivfpq_table",
    "upsert_ivfpq_table",
]


def random_hyperplanes(n_bits: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for sign-bit LSH (fixed seed so
    bucket assignments are reproducible across runs and engines)."""


    rng = np.random.RandomState(seed)
    return rng.randn(n_bits, dim).tolist()


def _query_lit(query_vec: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in query_vec])


def cosine_scores(
    df: DataFrame, vec_col: str, query_vec: list[float], out: str = "score"
) -> DataFrame:
    """Exact cosine similarity of every row's ``vec_col`` vs the query."""
    return df.withColumn(out, cosine_similarity(F.col(vec_col), _query_lit(query_vec)))


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
    out: str = "score",
    round_to: int | None = None,
) -> DataFrame:
    """Exact brute-force top-k by cosine similarity (ties broken by id so
    results are deterministic). Plans as TakeOrderedAndProject: no global
    sort, no full shuffle. ``round_to`` rounds before ordering (see
    ``cosine_topk_lsh``)."""
    scored = cosine_scores(df, vec_col, query_vec, out)
    if round_to is not None:
        scored = scored.withColumn(out, F.round(F.col(out), round_to))
    return (
        scored.select(id_col, out)
        .orderBy(F.col(out).desc(), F.col(id_col).asc())
        .limit(k)
    )


def bucketize_hyperplane(
    df: DataFrame, vec_col: str, hyperplanes: list[list[float]], out: str = "bucket"
) -> DataFrame:
    """Sign-bit LSH bucket id for each vector (one bit per hyperplane):
    the one-table case of ``bucketize_hyperplane_tables``."""
    tables = bucketize_hyperplane_tables(df, vec_col, hyperplanes, 1, out)
    return tables.withColumn(out, F.col(out)[0])


def bucketize_hyperplane_tables(
    df: DataFrame,
    vec_col: str,
    hyperplanes: list[list[float]],
    n_tables: int,
    out: str = "buckets",
) -> DataFrame:
    """Multi-table sign-bit LSH: split ``hyperplanes`` into ``n_tables``
    equal groups and emit one bucket id per table (``array<long>``).

    Implemented as a vectorized pandas UDF: one numpy matmul per Arrow
    batch computes ALL tables' bits at once, hyperplanes captured once in
    the closure (broadcast with the task). This is the deliberate
    exception to the no-UDF rule — inlining ``bits × dim`` literal
    doubles into a Catalyst expression tree makes planning+Janino compile
    dominate (measured ~17 s at 8×64; at a realistic 16×768 it is
    pathological), while the matmul is microseconds per batch. Per-row
    parallel, zero shuffle.
    """
    H = np.asarray(hyperplanes, dtype="float64")  # (tables*bits, dim)
    total_bits = H.shape[0]
    if total_bits % n_tables:
        raise ValueError(f"{total_bits} hyperplanes not divisible by {n_tables}")
    b = total_bits // n_tables
    weights = (1 << np.arange(b, dtype="int64")).astype("int64")

    @F.pandas_udf("array<long>")
    def _buckets(s: pd.Series) -> pd.Series:
        M = np.stack(s.to_numpy())  # (batch, dim)
        bits = (M.astype("float64") @ H.T) >= 0.0  # (batch, tables*b)
        per_table = bits.reshape(len(M), n_tables, b) @ weights  # (batch, tables)
        return pd.Series(list(per_table.astype("int64")))

    return df.withColumn(out, _buckets(F.col(vec_col)))


def _hamming_neighbors(bucket: int, bits: int, radius: int) -> list[int]:
    """All bucket ids within hamming distance ``radius`` (multi-probe set)."""
    out = {bucket}
    frontier = {bucket}
    for _ in range(radius):
        nxt = set()
        for b in frontier:
            for i in range(bits):
                nxt.add(b ^ (1 << i))
        out |= nxt
        frontier = nxt
    return sorted(out)


def cosine_topk_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    hyperplanes: list[list[float]],
    k: int = 10,
    probe_radius: int = 1,
    out: str = "score",
    round_to: int | None = None,
) -> DataFrame:
    """Approximate top-k: prune to LSH buckets near the query's bucket, then
    exact cosine within the candidates.

    The bucket filter is a literal IN-list → pushed down to the scan
    (partition pruning when the table is written partitioned by bucket).
    Recall improves with ``probe_radius`` at linear candidate cost.

    ``round_to`` rounds the score BEFORE the top-k ordering — pass it when
    the result must hash-match an independent engine (ties then break on
    ``id_col`` identically everywhere instead of on sub-ulp double noise).
    """


    q = np.asarray(query_vec, dtype="float64")
    q_bucket = 0
    for i, hp in enumerate(hyperplanes):
        if float(np.dot(q, np.asarray(hp, dtype="float64"))) >= 0:
            q_bucket |= 1 << i
    probes = _hamming_neighbors(q_bucket, len(hyperplanes), probe_radius)

    bucketed = bucketize_hyperplane(df, vec_col, hyperplanes)
    cands = bucketed.filter(F.col("bucket").isin(probes))
    scored = cosine_scores(cands, vec_col, query_vec, out)
    if round_to is not None:
        scored = scored.withColumn(out, F.round(F.col(out), round_to))
    return (
        scored.select(id_col, out)
        .orderBy(F.col(out).desc(), F.col(id_col).asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse k-means centroids + cluster-pruned search.
# ---------------------------------------------------------------------------


def _kmeans(X: np.ndarray, n_clusters: int, iters: int, seed: int) -> np.ndarray:
    """Seeded Lloyd k-means on a driver-side float64 sample — the shared
    training core for both the Spark-sampled and the pyarrow-sampled
    trainers (bit-identical for identical input)."""
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=min(n_clusters, len(X)), replace=False)].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C


def _sample_vectors(
    df: DataFrame, vec_col: str, sample_rows: int, id_col: str | None
) -> np.ndarray:
    """The Spark trainers' bounded driver-side sample as float64 rows.
    With ``id_col``: the ``sample_rows`` SMALLEST ids
    (``TakeOrderedAndProject`` — one distributed bottom-k,
    layout-independent, and IDENTICAL to the selection
    :func:`_sample_vectors_parquet` makes). Without it: a plain
    ``limit`` — partition-order dependent across cluster layouts, fine
    for throwaway indexes only."""
    sel = df.select(*([id_col] if id_col else []), vec_col)
    if id_col:
        sel = sel.orderBy(F.col(id_col).asc()).limit(sample_rows).select(vec_col)
    else:
        sel = sel.limit(sample_rows)
    return np.asarray([list(r[0]) for r in sel.collect()], dtype="float64")


def _sample_vectors_parquet(
    parquet_path: str, vec_col: str, id_col: str, sample_rows: int
) -> np.ndarray:
    """Engine-independent twin of :func:`_sample_vectors` with ``id_col``:
    the vectors of the ``sample_rows`` smallest ids, in id order, read
    with pyarrow. Driver memory stays bounded at any table size
    (VERDICT r5 item 6 — materializing the FULL id column before an
    argsort costs tens of GB at 10¹⁰ rows): a streaming bottom-k over
    id-column batches (O(sample_rows + batch) resident) finds the
    cutoff, then the (wide) vectors are fetched by one
    statistics-pruned ``id <= cutoff`` filtered read — row groups whose
    id range lies above the cutoff are never opened. Same selected rows
    as a full argsort for unique ids."""
    import pyarrow.dataset as pads

    ds = pads.dataset(parquet_path)
    best: np.ndarray | None = None
    for batch in ds.scanner(columns=[id_col], batch_size=1 << 16).to_batches():
        ids = np.asarray(batch.column(0))
        cand = ids if best is None else np.concatenate([best, ids])
        if cand.size > sample_rows:
            cand = np.partition(cand, sample_rows - 1)[:sample_rows]
        best = cand
    cutoff = np.sort(best)[:sample_rows][-1]
    sample = (
        ds.to_table(columns=[id_col, vec_col], filter=pads.field(id_col) <= cutoff)
        .sort_by(id_col)
        .slice(0, sample_rows)
    )
    return np.stack(
        [np.asarray(v, dtype="float64") for v in sample.column(vec_col).to_pylist()]
    )


def ivf_probes(centroids, query_vec, n_probe: int) -> list[int]:
    """The IVF probe list: indices of the ``n_probe`` centroids nearest
    ``query_vec`` by squared L2, nearest first (float64, numpy argsort
    order — the one probe selection every IVF face and twin uses)."""
    C = np.asarray(centroids, dtype="float64")
    q = np.asarray(query_vec, dtype="float64")
    return np.argsort(((C - q[None, :]) ** 2).sum(axis=1))[:n_probe].tolist()


def train_ivf_centroids(
    df: DataFrame,
    vec_col: str,
    n_clusters: int = 16,
    sample_rows: int = 2048,
    iters: int = 10,
    seed: int = 42,
    id_col: str | None = None,
) -> list[list[float]]:
    """Coarse centroids for an IVF index via seeded mini k-means.

    Trains on a bounded driver-side sample — the standard IVF recipe:
    centroid quality needs only a sketch of the distribution, so the
    driver never holds more than ``sample_rows`` vectors regardless of
    table size.

    Determinism (ADVICE r7): pass ``id_col`` to select the sample as the
    ``sample_rows`` SMALLEST ids, the selection the
    :func:`train_ivf_centroids_parquet` twin makes, so both trainers
    produce the same centroids bit-for-bit (:func:`_sample_vectors`).
    """
    X = _sample_vectors(df, vec_col, sample_rows, id_col)
    return _kmeans(X, n_clusters, iters, seed).tolist()


def train_ivf_centroids_parquet(
    parquet_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_clusters: int = 16,
    sample_rows: int = 2048,
    iters: int = 10,
    seed: int = 42,
) -> list[list[float]]:
    """Engine-independent twin of :func:`train_ivf_centroids`: reads the
    vectors with pyarrow, orders them by ``id_col`` (layout-independent),
    and trains on the first ``sample_rows`` with the same k-means core.

    Because nothing here touches a query engine, the resulting centroids
    can be rendered as engine-shared SQL literals — the same trick the
    LSH hyperplanes use — which turns IVF assignment + probe + top-k into
    a fully DuckDB-replicable (hash-checkable) plan. Driver memory stays
    bounded at any table size (:func:`_sample_vectors_parquet`).
    """
    X = _sample_vectors_parquet(parquet_path, vec_col, id_col, sample_rows)
    return _kmeans(X, n_clusters, iters, seed).tolist()


def assign_ivf_cluster(
    df: DataFrame, vec_col: str, centroids: list[list[float]], out: str = "cluster"
) -> DataFrame:
    """Nearest-centroid id per vector (vectorized pandas UDF, one matmul
    per Arrow batch — same rationale as ``bucketize_hyperplane_tables``).
    At scale the table is written ``partitionBy(cluster)`` so probes
    prune I/O."""
    C = np.asarray(centroids, dtype="float64")  # (k, dim)
    C_sq = (C**2).sum(axis=1)

    @F.pandas_udf("int")
    def _assign(s: pd.Series) -> pd.Series:
        M = np.stack(s.to_numpy()).astype("float64")
        d = C_sq[None, :] - 2.0 * (M @ C.T)  # ||x||² constant per row
        return pd.Series(d.argmin(axis=1).astype("int32"))

    return df.withColumn(out, _assign(F.col(vec_col)))


def cosine_topk_ivf(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 4,
    out: str = "score",
    round_to: int | None = None,
) -> DataFrame:
    """IVF approximate top-k: score only the ``n_probe`` clusters whose
    centroids are nearest the query. Literal IN-list filter → partition
    pruning on a cluster-partitioned table. ``round_to`` rounds before
    the top-k ordering (cross-engine tie stability, see
    ``cosine_topk_lsh``)."""
    cands = assign_ivf_cluster(df, vec_col, centroids).filter(
        F.col("cluster").isin(ivf_probes(centroids, query_vec, n_probe))
    )
    scored = cosine_scores(cands, vec_col, query_vec, out)
    if round_to is not None:
        scored = scored.withColumn(out, F.round(F.col(out), round_to))
    return (
        scored.select(id_col, out)
        .orderBy(F.col(out).desc(), F.col(id_col).asc())
        .limit(k)
    )


def cosine_topk_ivf_parquet(
    parquet_path: str,
    query_vec_id: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    seed: int = 42,
    k: int = 10,
    n_probe: int = 4,
) -> list[tuple[int, float]]:
    """Out-of-Spark twin of the ``ann_cosine_topk_ivf`` face (r11): the
    full IVF probe pipeline — twin-trained centroids
    (:func:`train_ivf_centroids_parquet`, bit-identical to the Spark
    trainer), the SAME numpy probe-selection and cluster-assignment
    expressions ``assign_ivf_cluster`` evaluates per Arrow batch, and a
    LEFT-TO-RIGHT float64 fold for the cosine (replicating Catalyst's
    sequential ``aggregate`` lambda exactly — numpy's pairwise sum
    would drift in the last ulp). Raw double scores are bit-identical
    to the Spark face's, so they render as exact ``repr`` literals —
    no rounding step needed. Returns the top-``k`` ``(id, score)``."""
    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=[id_col, vec_col])
    ids = t.column(id_col).to_pylist()
    vecs = t.column(vec_col).to_pylist()  # float32 -> exact Python floats
    by_id = dict(zip(ids, vecs))
    q = [float(x) for x in by_id[query_vec_id]]

    C = np.asarray(
        train_ivf_centroids_parquet(
            parquet_path, vec_col, id_col, n_clusters, seed=seed
        ),
        dtype="float64",
    )
    probes = set(ivf_probes(C, q, n_probe))
    M = np.stack([np.asarray(v, dtype="float32") for v in vecs]).astype(
        "float64"
    )
    C_sq = (C**2).sum(axis=1)
    clusters = (C_sq[None, :] - 2.0 * (M @ C.T)).argmin(axis=1)

    def _fold_dot(a: list, b: list) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(x) * y
        return acc

    def _fold_norm(a: list) -> float:
        acc = 0.0
        for x in a:
            acc = acc + float(x) * float(x)
        return acc

    import math

    qn = math.sqrt(_fold_norm(q))
    scored = []
    for i, (vid, v) in enumerate(zip(ids, vecs)):
        if int(clusters[i]) not in probes:
            continue
        denom = math.sqrt(_fold_norm(v)) * qn
        if denom != 0:
            scored.append((vid, _fold_dot(v, q) / denom))
    scored.sort(key=lambda t2: (-t2[1], t2[0]))
    return scored[:k]


def build_ann_table(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    n_clusters: int = 16,
    seed: int = 42,
    id_col: str | None = None,
) -> list[list[float]]:
    """Materialize an IVF-indexed ANN table: rows written partitioned by
    nearest-centroid cluster (hive layout). A top-k probe then reads only
    ``n_probe`` partition directories — at 100 TB this is the difference
    between scanning everything and scanning ~n_probe/n_clusters of it.
    Returns the centroids (persist them next to the table). Pass
    ``id_col`` for a layout-independent trainer sample (ADVICE r7)."""
    if centroids is None:
        centroids = train_ivf_centroids(
            df, vec_col, n_clusters=n_clusters, seed=seed, id_col=id_col
        )
    assign_ivf_cluster(df, vec_col, centroids).write.mode("overwrite").partitionBy(
        "cluster"
    ).parquet(path)
    return centroids


def upsert_ann_table(
    new_df: DataFrame,
    path: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Add (or replace, by ``id_col``) a vector batch in a
    ``build_ann_table`` index without rebuilding it: assign the batch to
    the EXISTING centroids, then dynamic-partition-overwrite exactly the
    cluster directories the batch touches, each rewritten as
    (old rows minus the batch's ids) ∪ new rows — re-running a failed
    day replaces the same partitions with the same content, and a
    re-embedded vector supersedes its old row.

    The IVF maintenance recipe: coarse centroids describe the
    distribution, not the rows, so increments reuse them (retrain only
    on drift — a rebuild, not an upsert). Cost scales with the touched
    clusters, not the index: at 100 TB a daily batch lands in a handful
    of partition rewrites while every other cluster's files are
    untouched — the same idempotent-increment contract as
    ``sinks.upsert_partitions`` (re-running a failed day replaces the
    same partitions with the same content).
    """
    assigned = assign_ivf_cluster(new_df, vec_col, centroids)
    _upsert_by_cluster(assigned, path, id_col)


def _upsert_by_cluster(assigned: DataFrame, path: str, id_col: str) -> None:
    """Key-replacing dynamic-partition upsert of a cluster-assigned
    batch — the shared merge step of ``upsert_ann_table`` and
    ``upsert_ivfpq_table`` (any row shape, as long as a ``cluster``
    partition column and ``id_col`` are present)."""
    from ..sources.sinks import upsert_partitions

    spark = assigned.sparkSession
    # Bootstrap: the first increment against a not-yet-existing index is
    # just the assigned batch (ADVICE r5 — a bare read raised
    # PATH_NOT_FOUND instead of creating the table). The Hadoop FS probe
    # works for any supported scheme, not only local paths. An empty
    # first batch writes nothing: its schema-less directory would make
    # the next call's read fail with UNABLE_TO_INFER_SCHEMA.
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        if not assigned.isEmpty():
            upsert_partitions(assigned, path, ["cluster"])
        return
    touched = {int(r["cluster"]) for r in assigned.select("cluster").distinct().collect()}
    # A re-embedded vector can assign to a DIFFERENT coarse cluster than
    # its previous row (ADVICE r7): rewriting only the batch's clusters
    # would leave the stale row in the old partition — duplicate ids,
    # queries returning the superseded code/vector. Locate the batch's
    # ids across the WHOLE index and extend the rewrite set with their
    # current clusters. Cost at scale: a two-thin-column (id, cluster)
    # projection scan semi-joined against the broadcast batch ids — no
    # vector/code bytes read (column pruning), no shuffle; the rewrite
    # itself still touches only the union of old+new clusters.
    batch_ids = assigned.select(id_col)
    stale = (
        spark.read.parquet(path)
        .select(id_col, "cluster")
        .join(F.broadcast(batch_ids), id_col, "left_semi")
        .select("cluster")
        .distinct()
        .collect()
    )
    touched |= {int(r["cluster"]) for r in stale}
    touched = sorted(touched)
    # Spark refuses to overwrite a path its plan is reading
    # (InsertIntoHadoopFsRelation input-path check), so the touched
    # partitions are materialized off-path first. localCheckpoint keeps
    # only those partitions (bounded by the batch's cluster spread) in
    # block storage; an object-store deployment stages them to a temp
    # prefix instead — same two-step, different medium.
    existing = (
        spark.read.parquet(path)
        .filter(F.col("cluster").isin(touched))
        .join(batch_ids, id_col, "left_anti")
        .localCheckpoint(eager=True)
    )
    merged = existing.unionByName(assigned)
    upsert_partitions(merged, path, ["cluster"])


def upsert_ivfpq_table(
    new_df: DataFrame,
    path: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Add (or replace, by ``id_col``) a vector batch in a
    ``build_ivfpq_table`` index without rebuilding it: assign the batch
    to the EXISTING coarse centroids, encode against the EXISTING
    codebooks, then dynamic-partition-overwrite exactly the touched
    cluster directories — the ``upsert_ann_table`` maintenance recipe
    applied to the codes index (both quantizers describe the
    distribution, not the rows; retrain only on drift). Cost scales
    with the touched clusters; the batch's float vectors are read once
    to encode and never stored in the index."""
    assigned = pq_encode(
        assign_ivf_cluster(new_df, vec_col, centroids), vec_col, codebooks, "code"
    ).select(id_col, "code", "cluster")
    _upsert_by_cluster(assigned, path, id_col)


def query_ann_table(
    spark,
    path: str,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 4,
    out: str = "score",
) -> DataFrame:
    """Top-k against a ``build_ann_table`` output. The cluster IN-filter is
    a partition filter — pruned before any file is opened."""
    table = spark.read.parquet(path).filter(
        F.col("cluster").isin(ivf_probes(centroids, query_vec, n_probe))
    )
    scored = cosine_scores(table, vec_col, query_vec, out)
    return (
        scored.select(id_col, out)
        .orderBy(F.col(out).desc(), F.col(id_col).asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the compressed-vector tier of the ANN story
# (Jégou, Douze, Schmid — "Product Quantization for Nearest Neighbor
# Search", TPAMI 2011). Each vector is split into ``m`` subspaces; each
# subspace is vector-quantized against its own ``ksub``-centroid
# codebook, so a d=64 float32 vector (256 bytes) becomes m=8 4-bit codes
# (4 bytes) at ksub=16 — a 64× storage/scan cut. Queries score codes via
# ADC (asymmetric distance computation): one m×ksub lookup table of
# query-to-centroid subdistances, then each row costs m table lookups —
# no float vector is ever read at query time. At 100 TB this is the
# difference between scanning 100 TB of vectors and ~1.6 TB of codes;
# combine with IVF cluster partitioning for probe-pruned scans (IVF-PQ,
# the FAISS default at scale).
# ---------------------------------------------------------------------------


def train_pq_codebooks(
    df: DataFrame,
    vec_col: str,
    m: int = 8,
    ksub: int = 16,
    sample_rows: int = 2048,
    iters: int = 10,
    seed: int = 42,
    id_col: str | None = None,
) -> list[list[list[float]]]:
    """Per-subspace codebooks via seeded mini k-means on a bounded
    driver-side sample (the Spark-side production trainer, same recipe —
    and same ``id_col`` determinism contract (ADVICE r7) — as
    :func:`train_ivf_centroids`: with ``id_col`` the sample is the
    bottom-``sample_rows`` ids, matching the parquet twin bit-for-bit;
    without it the sample is layout-dependent). ``codebooks[j]`` holds
    ``ksub`` centroids of dimension ``d/m`` for subspace ``j`` (seeded
    ``seed + j`` so subspaces decorrelate deterministically)."""
    X = _sample_vectors(df, vec_col, sample_rows, id_col)
    return _pq_fit(X, m, ksub, iters, seed)


def _pq_fit(
    X: np.ndarray, m: int, ksub: int, iters: int, seed: int
) -> list[list[list[float]]]:
    d = X.shape[1]
    if d % m:
        raise ValueError(f"pq: dim {d} not divisible by m={m}")
    dsub = d // m
    return [
        _kmeans(X[:, j * dsub : (j + 1) * dsub], ksub, iters, seed + j).tolist()
        for j in range(m)
    ]


def train_pq_codebooks_parquet(
    parquet_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    ksub: int = 16,
    sample_rows: int = 2048,
    iters: int = 10,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Engine-independent twin of :func:`train_pq_codebooks` — the same
    bounded bottom-k-by-id sample (:func:`_sample_vectors_parquet`) as
    :func:`train_ivf_centroids_parquet`, then the same per-subspace
    k-means core. The codebooks can therefore be rendered
    as engine-shared SQL literals, making encode + ADC top-k fully
    DuckDB-replicable (hash-checkable) like the IVF faces."""
    X = _sample_vectors_parquet(parquet_path, vec_col, id_col, sample_rows)
    return _pq_fit(X, m, ksub, iters, seed)


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks: list[list[list[float]]],
    out: str = "code",
) -> DataFrame:
    """PQ codes per vector: ``out[j] = argmin_c ||x_j - codebooks[j][c]||²``
    (first index on ties). One vectorized pandas UDF — an (m·ksub)-column
    matmul per Arrow batch, the same expanded ``||c||² − 2x·c`` form as
    ``assign_ivf_cluster`` (the ||x||² term is constant per row and
    argmin-invariant). Cross-engine parity with the oracle's termwise
    fold rests on the measured per-subspace assignment-gap margin
    (tools/measure_margins.py), exactly like the IVF faces. Encoding is
    a narrow projection — at scale it runs once at ingest and only the
    code column is ever scanned again."""
    Cs = [np.asarray(cb, dtype="float64") for cb in codebooks]
    m = len(Cs)
    dsub = Cs[0].shape[1]
    C_sq = [(C**2).sum(axis=1) for C in Cs]

    @F.pandas_udf("array<int>")
    def _encode(s: pd.Series) -> pd.Series:
        M = np.stack(s.to_numpy()).astype("float64")
        codes = np.empty((len(M), m), dtype="int32")
        for j in range(m):
            Mj = M[:, j * dsub : (j + 1) * dsub]
            d = C_sq[j][None, :] - 2.0 * (Mj @ Cs[j].T)
            codes[:, j] = d.argmin(axis=1)
        return pd.Series(list(codes))

    return df.withColumn(out, _encode(F.col(vec_col)))


def pq_adc_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    out: str = "adc_dist",
    round_to: int | None = None,
    code_col: str | None = None,
) -> DataFrame:
    """ADC top-k: squared-L2 lookup table ``LUT[j][c] =
    ||q_j − codebooks[j][c]||²`` built driver-side (m·ksub doubles), then
    every row's approximate distance is the FIXED-ORDER sum of its m
    table entries — a pure JVM literal-indexing projection over the code
    column (no float vector touched) ending in TakeOrderedAndProject.
    Pass ``code_col`` to score an already-encoded table (the production
    path — codes written at ingest); otherwise encodes in-plan.
    ``round_to`` rounds before ordering so cross-engine ties break on
    ``id_col`` identically (see ``cosine_topk_lsh``)."""
    q = np.asarray(query_vec, dtype="float64")
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    lut = [
        [
            float(((q[j * dsub : (j + 1) * dsub] - np.asarray(c)) ** 2).sum())
            for c in codebooks[j]
        ]
        for j in range(m)
    ]
    coded = (
        df.withColumnRenamed(code_col, "__code")
        if code_col
        else pq_encode(df, vec_col, codebooks, "__code")
    )
    # fixed-order 8-term sum of literal lookups: identical evaluation
    # order in Spark and the SQL oracle, so the double result is
    # bit-identical (each term is one literal-array index — exact)
    dist = None
    for j in range(m):
        term = F.element_at(
            F.array(*[F.lit(v) for v in lut[j]]),
            F.element_at(F.col("__code"), j + 1) + F.lit(1),
        )
        dist = term if dist is None else dist + term
    scored = coded.select(F.col(id_col), dist.alias(out))
    if round_to is not None:
        scored = scored.withColumn(out, F.round(F.col(out), round_to))
    return scored.orderBy(F.col(out).asc(), F.col(id_col).asc()).limit(k)


def build_ivfpq_table(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    n_clusters: int = 16,
    m: int = 16,
    ksub: int = 16,
    seed: int = 42,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Materialize the IVF-PQ index: rows ``(id, code)`` — NO float
    vectors — written partitioned by coarse cluster (hive layout). The
    query path reads ``n_probe`` partition directories of an
    ~8-bytes-per-row table; the raw-vector table is touched only by the
    final shortlist rerank. At 100 TB the index is ~3 TB and a query
    scans ~n_probe/n_clusters of it. Returns ``(centroids, codebooks)``
    (persist them next to the table, like ``build_ann_table``)."""
    if centroids is None:
        centroids = train_ivf_centroids(
            df, vec_col, n_clusters=n_clusters, seed=seed, id_col=id_col
        )
    if codebooks is None:
        codebooks = train_pq_codebooks(
            df, vec_col, m=m, ksub=ksub, seed=seed, id_col=id_col
        )
    coded = pq_encode(
        assign_ivf_cluster(df, vec_col, centroids), vec_col, codebooks, "code"
    )
    coded.select(id_col, "code", "cluster").write.mode("overwrite").partitionBy(
        "cluster"
    ).parquet(path)
    return centroids, codebooks


def query_ivfpq_table(
    spark,
    path: str,
    rerank_df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    n_probe: int = 4,
    shortlist: int = 50,
    out: str = "d2",
) -> DataFrame:
    """Top-k against a ``build_ivfpq_table`` index: the cluster IN-filter
    prunes partitions before any file opens, ADC runs over the pruned
    codes (``code_col`` path — no encode, no vectors), and only the
    ``shortlist`` winners' float vectors are read from ``rerank_df`` for
    the exact squared-L2 rerank."""
    codes = spark.read.parquet(path).filter(
        F.col("cluster").isin(ivf_probes(centroids, query_vec, n_probe))
    )
    ids = pq_adc_topk(
        codes,
        id_col,
        vec_col="",
        query_vec=query_vec,
        codebooks=codebooks,
        k=shortlist,
        round_to=6,
        code_col="code",
    ).select(id_col)
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            qlit,
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        rerank_df.join(F.broadcast(ids), id_col, "left_semi")
        .select(id_col, F.round(d2, 6).alias(out))
        .orderBy(F.col(out).asc(), F.col(id_col).asc())
        .limit(k)
    )


def label_pca_summary(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-label PCA summary of an embedding column via grouped-map
    ``applyInPandas`` — the pandas surface for per-group LINEAR ALGEBRA
    that no Catalyst expression can express (eigendecomposition):
    ``(label, n, top_eigval, explained)`` where ``top_eigval`` is the
    covariance's largest eigenvalue and ``explained`` its share of the
    total variance (the k=1 explained-variance-ratio used to triage
    embedding collapse per class/cluster).

    One shuffle (hash by label), one Arrow batch per group, numpy
    ``eigvalsh`` per group. Determinism: rows are sorted by ``id_col``
    before the Gram accumulation, so the float summation order — and
    therefore every output bit — is independent of partitioning.

    Memory bound: a GROUP's vectors must fit one Arrow batch (n_g x d
    doubles). For groups beyond that, pre-reduce a per-salt Gram with
    the same pattern and sum matrices — not needed at this corpus's
    group sizes and deliberately not layered in (the merge order would
    reintroduce float nondeterminism this function just removed).

    Driver check: full hash (r10) — ``label_pca_summary_parquet`` renders
    the bit-identical per-label values as DOUBLE literals in the oracle
    (the trained-constants pattern); the pytest twin additionally
    recomputes from a pyarrow read and asserts exact equality.
    """
    # carry the label through at its INPUT type (string cluster names and
    # bigint ids work the same as int labels — no int() coercion to crash
    # in the executor on non-integer labels)
    label_type = {
        f.name: f.dataType.simpleString() for f in emb.schema.fields
    }[label_col]
    out_schema = (
        f"{label_col} {label_type}, n long, top_eigval double, explained double"
    )

    def pca(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        X = np.stack(pdf[vec_col].to_numpy()).astype("float64")
        n = len(X)
        Xc = X - X.mean(axis=0)
        cov = (Xc.T @ Xc) / max(n - 1, 1)
        w = np.linalg.eigvalsh(cov)
        top, tot = float(w[-1]), float(w.sum())
        return pd.DataFrame(
            [
                {
                    label_col: pdf[label_col].iloc[0],
                    "n": n,
                    "top_eigval": round(top, 6),
                    "explained": round(top / tot, 6) if tot > 0 else 0.0,
                }
            ]
        )

    return emb.select(label_col, id_col, vec_col).groupBy(label_col).applyInPandas(
        pca, out_schema
    )


def label_pca_summary_parquet(
    parquet_path: str,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> dict[int, tuple[int, float, float]]:
    """pyarrow/numpy twin of ``label_pca_summary`` — the trained-constants
    pattern shared with ``train_ivf_centroids_parquet`` /
    ``train_dsir_logratios_parquet``: identical pipeline (id-sorted
    rows, mean-center, Gram / (n-1), ``eigvalsh``, round-6), computed
    out-of-JVM so an SQL oracle can carry the per-label eigenvalues as
    engine-shared literals. float32→float64 widening is exact on both
    sides (``to_pylist`` here, Arrow→pandas ``astype`` in the UDF), and
    every numpy op runs in the same library in the same order, so the
    returned values are BIT-IDENTICAL to the Spark face's — the driver's
    hash check on ``embedding_label_pca_check`` witnesses that equality.

    Returns ``{label: (n, top_eigval, explained)}`` with the floats
    already rounded to 6 dp exactly as the Spark face emits them.
    """
    import pyarrow.parquet as pq

    t = pq.read_table(
        parquet_path, columns=[label_col, id_col, vec_col]
    ).sort_by(id_col)
    labels = np.asarray(t.column(label_col))
    X = np.stack(t.column(vec_col).to_pylist()).astype("float64")
    out: dict[int, tuple[int, float, float]] = {}
    for lab in np.unique(labels):
        Xl = X[labels == lab]
        n = len(Xl)
        Xc = Xl - Xl.mean(axis=0)
        cov = (Xc.T @ Xc) / max(n - 1, 1)
        w = np.linalg.eigvalsh(cov)
        top, tot = float(w[-1]), float(w.sum())
        out[int(lab)] = (
            n,
            round(top, 6),
            round(top / tot, 6) if tot > 0 else 0.0,
        )
    return out

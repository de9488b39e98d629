"""Similarity search: brute-force exactness + LSH recall against it."""

from __future__ import annotations

import math

from analysis_of_flight_delay_data_by_mapreduce_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_lsh,
    random_hyperplanes,
)
from analysis_of_flight_delay_data_by_mapreduce_spark.sources import read_parquet_table

from conftest import SF_DIR


def test_topk_self_is_first(spark):
    emb = read_parquet_table(spark, SF_DIR, "embeddings")
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    rows = cosine_topk(emb, "vec_id", "embedding", qv, k=5).collect()
    assert rows[0].vec_id == 0
    assert math.isclose(rows[0].score, 1.0, abs_tol=1e-6)
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_lsh_topk_recall(spark):
    emb = read_parquet_table(spark, SF_DIR, "embeddings")
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    # These embeddings are near-orthogonal (max pairwise cos ~0.5), the
    # hard case for hyperplane LSH — 4 bits + radius 2 probes 11/16 of the
    # space and measures 7/10 recall; pin a conservative floor.
    planes = random_hyperplanes(n_bits=4, dim=64, seed=42)
    exact = {r.vec_id for r in cosine_topk(emb, "vec_id", "embedding", qv, k=10).collect()}
    approx = {
        r.vec_id
        for r in cosine_topk_lsh(
            emb, "vec_id", "embedding", qv, planes, k=10, probe_radius=2
        ).collect()
    }
    assert 0 in approx  # the query vector itself is always in its own bucket
    assert len(exact & approx) >= 5


def test_bucketize_deterministic(spark):
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.similarity import (
        bucketize_hyperplane,
    )

    emb = read_parquet_table(spark, SF_DIR, "embeddings").limit(20)
    planes = random_hyperplanes(n_bits=6, dim=64, seed=42)
    a = {r.vec_id: r.bucket for r in bucketize_hyperplane(emb, "embedding", planes).collect()}
    b = {r.vec_id: r.bucket for r in bucketize_hyperplane(emb, "embedding", planes).collect()}
    assert a == b
    assert all(0 <= v < 64 for v in a.values())


def test_ivf_topk_recall(spark):
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.similarity import (
        cosine_topk_ivf,
        train_ivf_centroids,
    )

    emb = read_parquet_table(spark, SF_DIR, "embeddings")
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    centroids = train_ivf_centroids(emb, "embedding", n_clusters=8, seed=42)
    exact = {r.vec_id for r in cosine_topk(emb, "vec_id", "embedding", qv, k=10).collect()}
    approx = {
        r.vec_id
        for r in cosine_topk_ivf(
            emb, "vec_id", "embedding", qv, centroids, k=10, n_probe=4
        ).collect()
    }
    assert 0 in approx
    assert len(exact & approx) >= 5  # half the clusters probed → decent recall


def test_ivf_centroids_deterministic(spark):
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.similarity import (
        train_ivf_centroids,
    )

    emb = read_parquet_table(spark, SF_DIR, "embeddings")
    a = train_ivf_centroids(emb, "embedding", n_clusters=4, seed=7)
    b = train_ivf_centroids(emb, "embedding", n_clusters=4, seed=7)
    assert a == b


def test_ann_table_partition_pruning(spark, tmp_path):
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.similarity import (
        build_ann_table,
        cosine_topk_ivf,
        query_ann_table,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.plans.inspect import plan_text

    emb = read_parquet_table(spark, SF_DIR, "embeddings")
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    path = str(tmp_path / "ann")
    centroids = build_ann_table(emb, path, n_clusters=8, seed=42)

    df = query_ann_table(spark, path, "vec_id", "embedding", qv, centroids, n_probe=3)
    txt = plan_text(df)
    # the cluster filter must be a PARTITION filter (pruned pre-scan),
    # not a data filter
    assert "PartitionFilters: [cluster" in txt.replace("PartitionFilters: [ cluster", "PartitionFilters: [cluster")

    # materialized index returns the same ids as the in-memory IVF path
    live = cosine_topk_ivf(emb, "vec_id", "embedding", qv, centroids, n_probe=3)
    assert {r.vec_id for r in df.collect()} == {r.vec_id for r in live.collect()}


def test_upsert_ann_table_touches_only_batch_clusters(spark, tmp_path):
    """Incremental IVF maintenance: a new batch lands via dynamic
    partition overwrite in exactly the clusters it belongs to — rows
    preserved, untouched cluster directories' files byte-identical, and
    a subsequent probe sees the new vectors."""
    import glob
    import os

    from pyspark.sql import functions as F

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.similarity import (
        assign_ivf_cluster,
        build_ann_table,
        query_ann_table,
        upsert_ann_table,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.sources import (
        read_parquet_table,
    )
    from conftest import SF_DIR

    emb = read_parquet_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 100 != 4)
    batch = emb.filter(F.col("vec_id") % 100 == 4)  # 5 vectors: <= 5 of 8 clusters
    path = str(tmp_path / "ann")
    centroids = build_ann_table(base, path, n_clusters=8, seed=42)

    batch_clusters = {
        r.cluster
        for r in assign_ivf_cluster(batch, "embedding", centroids)
        .select("cluster")
        .distinct()
        .collect()
    }
    untouched = set(range(8)) - batch_clusters
    assert untouched, "fixture: the batch should not touch every cluster"

    def files_of(c):
        return {
            f: os.path.getmtime(f)
            for f in glob.glob(f"{path}/cluster={c}/part-*.parquet")
        }

    before = {c: files_of(c) for c in untouched}
    upsert_ann_table(batch, path, centroids)
    after = {c: files_of(c) for c in untouched}
    assert after == before, "untouched cluster partitions were rewritten"

    back = spark.read.parquet(path)
    assert back.count() == emb.count()
    assert back.select("vec_id").distinct().count() == emb.count()

    # a probe against the updated index can now return batch vectors
    qv = [float(x) for x in batch.first()["embedding"]]
    top = query_ann_table(
        spark, path, "vec_id", "embedding", qv, centroids, k=5, n_probe=8
    ).collect()
    assert any(r.vec_id % 100 == 4 for r in top)

    # idempotence: re-running the same day's upsert changes nothing
    upsert_ann_table(batch, path, centroids)
    assert spark.read.parquet(path).count() == emb.count()

    # bootstrap (ADVICE r5): the FIRST increment against a not-yet-
    # existing path creates the table instead of raising PATH_NOT_FOUND
    fresh = str(tmp_path / "ann-bootstrap")
    upsert_ann_table(batch, fresh, centroids)
    boot = spark.read.parquet(fresh)
    assert boot.count() == batch.count()
    assert "cluster" in boot.columns
    # and the second increment over it follows the normal merge path
    upsert_ann_table(base.limit(7), fresh, centroids)
    assert spark.read.parquet(fresh).count() == batch.count() + 7


def test_upsert_ann_table_reembedded_vector_moves_cluster(spark, tmp_path):
    """ADVICE r7 (medium): a re-embedded vector whose new embedding
    assigns to a DIFFERENT coarse cluster must supersede its old row —
    the upsert locates the id's existing cluster and rewrites that
    partition too, so the index never holds duplicate ids."""
    from pyspark.sql import functions as F

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.similarity import (
        assign_ivf_cluster,
        build_ann_table,
        upsert_ann_table,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.sources import (
        read_parquet_table,
    )
    from conftest import SF_DIR

    emb = read_parquet_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "ann-move")
    centroids = build_ann_table(emb, path, n_clusters=8, seed=42)

    # pick a victim id and re-embed it AS another vector that lives in a
    # different cluster (guaranteed cluster move, no numerics to tune)
    assigned = assign_ivf_cluster(emb, "embedding", centroids)
    a = assigned.first()
    donor = assigned.filter(F.col("cluster") != a.cluster).first()
    assert donor is not None
    victim_id, old_cluster, new_cluster = a.vec_id, a.cluster, donor.cluster

    reembedded = spark.createDataFrame(
        [(victim_id, list(donor.embedding))], "vec_id long, embedding array<float>"
    )
    upsert_ann_table(reembedded, path, centroids)

    back = spark.read.parquet(path)
    dup = (
        back.groupBy("vec_id").count().filter(F.col("count") > 1).count()
    )
    assert dup == 0, "duplicate ids after a cluster-moving re-embed"
    rows = back.filter(F.col("vec_id") == victim_id).collect()
    assert len(rows) == 1
    assert rows[0].cluster == new_cluster != old_cluster
    assert list(rows[0].embedding) == list(donor.embedding)
    assert back.count() == emb.count()


def test_label_pca_summary_string_labels(spark):
    """The label rides through at its input type — string cluster names
    work, not just int labels."""
    import numpy as np

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.similarity import (
        label_pca_summary,
    )

    rows = [
        (1, [1.0, 0.0], "a"),
        (2, [2.0, 0.0], "a"),
        (3, [3.0, 0.0], "a"),
        (4, [0.0, 5.0], "b"),
        (5, [0.0, 7.0], "b"),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    got = {
        r.label: (r.n, r.top_eigval, r.explained)
        for r in label_pca_summary(df, "label", "embedding", "vec_id").collect()
    }
    # group a varies only along dim 0: cov = var([1,2,3]) = 1.0, all of it
    assert got["a"] == (3, 1.0, 1.0)
    assert got["b"] == (2, 2.0, 1.0)


def test_pq_encode_matches_numpy_replica(spark):
    """PQ codes from the pandas-UDF encoder equal an independent numpy
    argmin over the twin-trained codebooks for every corpus vector, and
    each code is within [0, ksub)."""
    import numpy as np
    import pyarrow.parquet as pq

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.similarity import (
        pq_encode,
        train_pq_codebooks_parquet,
    )

    path = f"{SF_DIR}/embeddings.parquet"
    cb = train_pq_codebooks_parquet(path, m=16, ksub=16, seed=42)
    emb = read_parquet_table(spark, SF_DIR, "embeddings")
    got = {
        r.vec_id: list(r.code)
        for r in pq_encode(emb, "embedding", cb, "code").select("vec_id", "code").collect()
    }

    t = pq.read_table(path, columns=["vec_id", "embedding"])
    vid = np.asarray(t.column("vec_id"))
    X = np.stack(t.column("embedding").to_pylist()).astype("float64")
    dsub = X.shape[1] // 16
    want = {}
    codes = np.empty((len(X), 16), dtype=int)
    for j in range(16):
        Cj = np.asarray(cb[j])
        d = ((X[:, j * dsub : (j + 1) * dsub][:, None, :] - Cj[None, :, :]) ** 2).sum(axis=2)
        codes[:, j] = d.argmin(axis=1)
    for i, v in enumerate(vid):
        want[int(v)] = codes[i].tolist()
    assert got == want
    assert all(0 <= c < 16 for cs in got.values() for c in cs)


def test_pq_adc_exact_when_vectors_sit_on_centroids(spark):
    """Quantization-lossless case: every vector IS one of its subspace
    centroids, so ADC distance == exact squared L2 and the ADC top-k is
    the exact top-k."""
    import numpy as np

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.similarity import (
        pq_adc_topk,
        train_pq_codebooks_parquet,
    )

    path = f"{SF_DIR}/embeddings.parquet"
    cb = train_pq_codebooks_parquet(path, m=16, ksub=16, seed=42)
    dsub = 4
    rng = np.random.RandomState(3)
    rows = []
    built = []
    for i in range(40):
        v = np.concatenate(
            [np.asarray(cb[j][rng.randint(16)]) for j in range(16)]
        )
        rows.append((i, [float(x) for x in v]))
        built.append(v)
    q = [float(x) for x in built[0]]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = [
        (r.vec_id, r.adc_dist)
        for r in pq_adc_topk(df, "vec_id", "embedding", q, cb, k=5, round_to=6).collect()
    ]
    B = np.stack(built)
    d2 = np.round(((B - np.asarray(q)[None, :]) ** 2).sum(axis=1), 6)
    order = np.lexsort((np.arange(40), d2))[:5]
    want = [(int(i), float(d2[i])) for i in order]
    assert got == want
    assert got[0] == (0, 0.0)  # the query row itself at distance exactly 0


def test_ivfpq_table_prunes_partitions_and_matches_inmemory(spark, tmp_path):
    """build_ivfpq_table writes (id, code) partitioned by coarse cluster
    — no float vectors in the index; query_ivfpq_table's codes scan
    reads ONLY the probed partition directories (partition pruning) and
    its shortlist+rerank answer equals the in-memory IVF-PQ pipeline
    (assign -> filter -> ADC from codes -> exact rerank) row for row.
    Also exercises pq_adc_topk's code_col path against its encode-in-plan
    path."""
    import numpy as np

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.similarity import (
        assign_ivf_cluster,
        build_ivfpq_table,
        pq_adc_topk,
        query_ivfpq_table,
        train_ivf_centroids_parquet,
        train_pq_codebooks_parquet,
    )

    src = f"{SF_DIR}/embeddings.parquet"
    C = train_ivf_centroids_parquet(src, n_clusters=16, seed=42)
    cb = train_pq_codebooks_parquet(src, m=16, ksub=16, seed=42)
    emb = read_parquet_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "ivfpq")
    build_ivfpq_table(emb, path, "vec_id", "embedding", centroids=C, codebooks=cb)

    qv = [
        float(x)
        for x in emb.filter(emb.vec_id == 0).first()["embedding"]
    ]
    got = [
        (r.vec_id, r.d2)
        for r in query_ivfpq_table(
            spark, path, emb, "vec_id", "embedding", qv, C, cb, k=10
        ).collect()
    ]

    # pruning: the cluster IN-filter must plan as a PARTITION filter
    # (pruned pre-scan, like test_ann_table_partition_pruning) and the
    # codes scan must not read any float-vector column
    from analysis_of_flight_delay_data_by_mapreduce_spark.plans.inspect import (
        plan_text,
    )
    from pyspark.sql import functions as F

    Ca = np.asarray(C, dtype="float64")
    q = np.asarray(qv, dtype="float64")
    probes = np.argsort(((Ca - q[None, :]) ** 2).sum(axis=1))[:4].tolist()
    codes = spark.read.parquet(path).filter(
        F.col("cluster").isin([int(p) for p in probes])
    )
    txt = plan_text(codes)
    assert "PartitionFilters: [cluster" in txt.replace(
        "PartitionFilters: [ cluster", "PartitionFilters: [cluster"
    )
    assert "embedding" not in txt  # the index holds codes, not vectors

    # in-memory reference: same pipeline without the table
    cands = assign_ivf_cluster(emb, "embedding", C).filter(
        F.col("cluster").isin([int(p) for p in probes])
    )
    ids = pq_adc_topk(
        cands, "vec_id", "embedding", qv, cb, k=50, round_to=6
    ).select("vec_id")
    qlit = F.array(*[F.lit(float(x)) for x in qv])
    d2 = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            qlit,
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    want = [
        (r.vec_id, r.d2)
        for r in emb.join(F.broadcast(ids), "vec_id", "left_semi")
        .select("vec_id", F.round(d2, 6).alias("d2"))
        .orderBy(F.col("d2").asc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    ]
    assert got == want and len(got) == 10


def test_upsert_ivfpq_table_touches_only_batch_clusters(spark, tmp_path):
    """A code-index increment rewrites only the clusters the batch
    touches (other cluster files keep their mtimes), replaces
    re-embedded ids instead of duplicating them, is idempotent on
    re-run, and bootstraps a missing index — the upsert_ann_table
    contract on the codes table."""
    import os

    from pyspark.sql import functions as F

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.similarity import (
        build_ivfpq_table,
        train_ivf_centroids_parquet,
        train_pq_codebooks_parquet,
        upsert_ivfpq_table,
    )

    src = f"{SF_DIR}/embeddings.parquet"
    C = train_ivf_centroids_parquet(src, n_clusters=16, seed=42)
    cb = train_pq_codebooks_parquet(src, m=16, ksub=16, seed=42)
    emb = read_parquet_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 4)
    batch = emb.filter(F.col("vec_id") % 5 == 4)

    path = str(tmp_path / "ivfpq")
    build_ivfpq_table(base, path, "vec_id", "embedding", centroids=C, codebooks=cb)
    before = {
        d: os.path.getmtime(os.path.join(path, d))
        for d in os.listdir(path)
        if d.startswith("cluster=")
    }
    # overlap: re-embed one existing id with a batch row (id 4 is in
    # batch by construction; also plant a replacement of base id 0)
    replant = emb.filter(F.col("vec_id") == 0)
    upsert_ivfpq_table(
        batch.unionByName(replant), path, C, cb, "vec_id", "embedding"
    )

    got = spark.read.parquet(path)
    n_all = emb.count()
    assert got.count() == n_all  # replaced, not duplicated
    assert got.select("vec_id").distinct().count() == n_all
    assert got.filter(F.col("vec_id") == 0).count() == 1

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.similarity import (
        assign_ivf_cluster,
        pq_encode,
    )

    touched = {
        f"cluster={r.cluster}"
        for r in assign_ivf_cluster(
            batch.unionByName(replant), "embedding", C
        ).select("cluster").distinct().collect()
    }
    for d, t in before.items():
        if d not in touched:
            assert os.path.getmtime(os.path.join(path, d)) == t, d

    # codes in the index match a fresh encode of the same rows
    want_codes = {
        r.vec_id: list(r.code)
        for r in pq_encode(emb, "embedding", cb, "code").select("vec_id", "code").collect()
    }
    got_codes = {r.vec_id: list(r.code) for r in got.select("vec_id", "code").collect()}
    assert got_codes == want_codes

    # idempotence: re-running the same increment changes nothing
    upsert_ivfpq_table(
        batch.unionByName(replant), path, C, cb, "vec_id", "embedding"
    )
    assert spark.read.parquet(path).count() == n_all

    # bootstrap: upsert into a missing path creates the index
    p2 = str(tmp_path / "fresh")
    upsert_ivfpq_table(batch, p2, C, cb, "vec_id", "embedding")
    assert spark.read.parquet(p2).count() == batch.count()


def test_upsert_ivfpq_table_empty_first_batch(spark, tmp_path):
    """A zero-row first increment on a fresh path writes nothing, so the
    next increment bootstraps the index: the result equals a build over
    the same rows."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.similarity import (
        build_ivfpq_table,
        train_ivf_centroids_parquet,
        train_pq_codebooks_parquet,
        upsert_ivfpq_table,
    )

    src = f"{SF_DIR}/embeddings.parquet"
    C = train_ivf_centroids_parquet(src, n_clusters=16, seed=42)
    cb = train_pq_codebooks_parquet(src, m=16, ksub=16, seed=42)
    emb = read_parquet_table(spark, SF_DIR, "embeddings")

    path = str(tmp_path / "ivfpq")
    upsert_ivfpq_table(emb.limit(0), path, C, cb, "vec_id", "embedding")
    upsert_ivfpq_table(emb, path, C, cb, "vec_id", "embedding")
    built = str(tmp_path / "built")
    build_ivfpq_table(emb, built, "vec_id", "embedding", centroids=C, codebooks=cb)

    def rows(p):
        return sorted(
            (r.vec_id, r.cluster, list(r.code)) for r in spark.read.parquet(p).collect()
        )

    assert rows(path) == rows(built)

"""Falsifiable expected-value checks for the rows-only queries.

The driver's oracle-differential gate cannot hash-check hash-function-
specific operators (MinHash/SimHash/hyperplane LSH use engine-side
xxhash64 / seeded numpy — DuckDB cannot replicate them). These tests make
each one falsifiable anyway, at the same scale and configuration the
registered queries run (sf0.01):

- MinHash-LSH: output must EQUAL the exact n-gram-Jaccard pair set (the
  exact operator is itself DuckDB-oracle-checked as dedup_ngram_jaccard),
  because every planted near-dup pair on this corpus sits at jaccard ≥0.9
  where banded collision probability is ≈1 and the verify step is exact.
- SimHash: output contract is exact — ALL pairs at hamming ≤ 3 (banding
  guarantees candidate recall by pigeonhole; bit_count verifies) — so it
  must equal a brute-force O(n²) hamming scan over the fingerprints.
- Embedding LSH: a pure function of (vectors, seeded planes) — an
  independent numpy replica of signature + bucket + threshold predicts
  the EXACT output pair set and cosines.
- corpus_prepare: the composed pipeline must equal its stage-by-stage
  reconstruction where near-dup pairs come from the EXACT jaccard
  operator — if LSH recall ever dropped a true ≥0.5 pair, the survivor
  sets would diverge and this fails.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from analysis_of_flight_delay_data_by_mapreduce_spark.operators.dedup import (
    embedding_near_dup,
    exact_dedup,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_dup,
)
from analysis_of_flight_delay_data_by_mapreduce_spark.operators.similarity import (
    random_hyperplanes,
)
from analysis_of_flight_delay_data_by_mapreduce_spark.operators.text import (
    fingerprint,
    quality_score,
)
from analysis_of_flight_delay_data_by_mapreduce_spark.plans.pipeline import (
    prepare_corpus,
)
from analysis_of_flight_delay_data_by_mapreduce_spark.sources import (
    read_parquet_table,
)

from conftest import SF_DIR_ORACLE


@pytest.fixture(scope="module")
def docs(spark):
    return read_parquet_table(spark, SF_DIR_ORACLE, "documents")


@pytest.fixture(scope="module")
def exact_pairs(spark, docs):
    """Ground truth: exact word-3-gram jaccard ≥ 0.3 (oracle-checked op)."""
    return {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", shingle_k=3, mode="word", threshold=0.3
        ).collect()
    }


def test_minhash_equals_exact_pairs_on_corpus(spark, docs, exact_pairs):
    """Registered config (32 hashes / 8 bands / verify 0.3): zero false
    positives (verify is exact) AND zero false negatives (every true pair
    on this corpus has jaccard ≥ 0.9 — banded collision prob ≈ 1)."""
    got = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_dedup(
            docs,
            "doc_id",
            "text",
            num_hashes=32,
            bands=8,
            shingle_k=3,
            mode="word",
            verify_jaccard=0.3,
        ).collect()
    }
    assert got == set(exact_pairs)
    # sanity: the corpus actually plants near-dups, and they are high-sim
    assert len(exact_pairs) > 0
    assert min(exact_pairs.values()) >= 0.3


def test_simhash_equals_bruteforce_hamming(spark, docs):
    """Output == every pair at hamming ≤ 3, per brute-force O(n²) scan of
    the fingerprints; reported hamming values match exactly."""
    fps = {r.doc_id: r.simhash for r in simhash(docs, "doc_id", "text").collect()}
    ids = sorted(fps)
    mask = (1 << 64) - 1
    expected = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin((fps[a] ^ fps[b]) & mask).count("1")
            if h <= 3:
                expected[(a, b)] = h
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dup(docs, "doc_id", "text").collect()
    }
    assert got == expected
    assert len(got) > 0  # corpus plants identical/near-identical docs


def test_embedding_neardup_equals_numpy_replica(spark):
    """Registered config (32 planes / 4 tables / threshold 0.35): the
    output pair set and cosines must equal an independent numpy replica
    of signature → bucket → candidate → exact-cosine → threshold."""
    emb = read_parquet_table(spark, SF_DIR_ORACLE, "embeddings")
    planes = random_hyperplanes(n_bits=32, dim=64, seed=42)
    got = {
        (r.id_a, r.id_b): r.cos_sim
        for r in embedding_near_dup(
            emb, "vec_id", "embedding", planes, threshold=0.35, n_tables=4
        ).collect()
    }

    rows = emb.select("vec_id", "embedding").collect()
    ids = [r.vec_id for r in rows]
    M = np.array([r.embedding for r in rows], dtype="float64")
    H = np.asarray(planes, dtype="float64")
    bits = (M @ H.T) >= 0.0  # (n, 32)
    w = (1 << np.arange(8, dtype="int64")).astype("int64")
    sigs = bits.reshape(len(ids), 4, 8) @ w  # (n, 4) bucket per table
    norm = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = norm @ norm.T

    expected = {}
    for t in range(4):
        buckets: dict[int, list[int]] = {}
        for i, b in enumerate(sigs[:, t]):
            buckets.setdefault(int(b), []).append(i)
        for members in buckets.values():
            for x in range(len(members)):
                for y in range(x + 1, len(members)):
                    i, j = members[x], members[y]
                    a, b = sorted((ids[i], ids[j]))
                    if S[i, j] >= 0.35:
                        expected[(a, b)] = S[i, j]
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert math.isclose(got[k], v, rel_tol=1e-9, abs_tol=1e-9)
    assert len(got) > 0
    # precision is exact by construction: every emitted cosine ≥ threshold
    assert all(v >= 0.35 for v in got.values())


def test_ann_lsh_equals_numpy_replica(spark):
    """Registered config (8 planes, probe radius 1, query = vec 0): the
    LSH top-k must equal an independent numpy replica of bucket → probe →
    candidate → exact cosine → (score desc, id) top-10."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.similarity import (
        cosine_topk_lsh,
    )

    emb = read_parquet_table(spark, SF_DIR_ORACLE, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = [r.vec_id for r in rows]
    M = np.array([r.embedding for r in rows], dtype="float64")
    q = M[ids.index(0)]
    planes = random_hyperplanes(n_bits=8, dim=64, seed=42)
    H = np.asarray(planes, dtype="float64")
    w = (1 << np.arange(8, dtype="int64")).astype("int64")
    buckets = (((M @ H.T) >= 0.0) @ w).astype("int64")
    q_bucket = int((((q @ H.T) >= 0.0) @ w))
    probes = {q_bucket} | {q_bucket ^ (1 << i) for i in range(8)}
    norm = M / np.linalg.norm(M, axis=1, keepdims=True)
    qn = q / np.linalg.norm(q)
    scores = norm @ qn
    cand = [
        (float(scores[i]), ids[i])
        for i in range(len(ids))
        if int(buckets[i]) in probes
    ]
    expected = sorted(cand, key=lambda p: (-p[0], p[1]))[:10]

    got = [
        (r.score, r.vec_id)
        for r in cosine_topk_lsh(
            emb, "vec_id", "embedding", list(q), planes, k=10, probe_radius=1
        ).collect()
    ]
    assert [g[1] for g in got] == [e[1] for e in expected]
    for (gs, _), (es, _) in zip(got, expected):
        assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-9)
    assert len(got) == 10


def test_ann_ivf_equals_numpy_replica(spark):
    """Registered config (16 centroids seed 42, 4 probes, query = vec 0):
    cluster assignment, probe pruning, scoring and ordering must equal a
    numpy replica built from the same (deterministic) trained centroids."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.similarity import (
        cosine_topk_ivf,
        train_ivf_centroids,
    )

    emb = read_parquet_table(spark, SF_DIR_ORACLE, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = [r.vec_id for r in rows]
    M = np.array([r.embedding for r in rows], dtype="float64")
    q = M[ids.index(0)]
    centroids = train_ivf_centroids(emb, "embedding", n_clusters=16, seed=42)
    C = np.asarray(centroids, dtype="float64")
    assign = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    probes = set(np.argsort(((C - q[None, :]) ** 2).sum(axis=1))[:4].tolist())
    norm = M / np.linalg.norm(M, axis=1, keepdims=True)
    qn = q / np.linalg.norm(q)
    scores = norm @ qn
    cand = [
        (float(scores[i]), ids[i])
        for i in range(len(ids))
        if int(assign[i]) in probes
    ]
    expected = sorted(cand, key=lambda p: (-p[0], p[1]))[:10]

    got = [
        (r.score, r.vec_id)
        for r in cosine_topk_ivf(
            emb, "vec_id", "embedding", list(q), centroids, k=10, n_probe=4
        ).collect()
    ]
    assert [g[1] for g in got] == [e[1] for e in expected]
    for (gs, _), (es, _) in zip(got, expected):
        assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-9)
    assert len(got) == 10
    # the probed clusters must actually prune: candidates < corpus
    assert len(cand) < len(ids)


def test_corpus_prepare_equals_exact_reconstruction(spark, docs):
    """The composed pipeline (quality → exact-dedup → MinHash near-dedup)
    must equal its reconstruction with the EXACT jaccard operator in the
    near-dedup seat. Any LSH recall loss at ≥0.5 diverges the survivor
    sets and fails here."""
    got = sorted(
        r.doc_id
        for r in prepare_corpus(
            docs, min_quality=0.4, near_dup_jaccard=0.5
        ).collect()
    )

    scored = quality_score(docs, "text").filter("quality >= 0.4")
    scored = fingerprint(scored, "text")
    exact_survivors = exact_dedup(scored, ["fp"], "doc_id")
    kept = scored.join(exact_survivors, ["doc_id", "fp"], "left_semi")
    pairs = ngram_jaccard_pairs(
        kept, "doc_id", "text", shingle_k=3, mode="word", threshold=0.5
    )
    losers = {r.id_b for r in pairs.collect()}
    expected = sorted(
        r.doc_id for r in kept.select("doc_id").collect() if r.doc_id not in losers
    )
    assert got == expected
    assert 0 < len(got) < docs.count()  # both gates actually fired


def test_hll_sketch_rollup_error_bound(spark):
    """Per-type distinct-user estimates from merged per-day own-register
    HLL sketches (operators/hll.py, p=12) must sit within 2% of the exact
    distinct counts (m=4096 gives ~1.6% RSE; at these cardinalities the
    linear-counting branch is active and far tighter)."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.plans.synthetic import (
        QUERIES,
    )
    from pyspark.sql import functions as F

    got = {
        r.event_type: r.approx_users
        for r in QUERIES["events_user_sketch_rollup"](spark, SF_DIR_ORACLE).collect()
    }
    ev = read_parquet_table(spark, SF_DIR_ORACLE, "events")
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for t, est in got.items():
        assert abs(est - exact[t]) <= max(1, 0.02 * exact[t]), (t, est, exact[t])


def test_theta_overlap_sketch_error_bound(spark):
    """Pairwise audience-overlap estimates from KMV-theta intersection
    (operators/hll.py, k=4096) must sit within 2% of the exact INTERSECT
    counts for every event-type pair (cardinalities below k -> the
    sketch is exact up to 64-bit hash collisions)."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.plans.synthetic import (
        QUERIES,
    )
    from pyspark.sql import functions as F

    got = {
        (r.type_a, r.type_b): r.approx_both
        for r in QUERIES["events_user_overlap_sketch"](
            spark, SF_DIR_ORACLE
        ).collect()
    }
    ev = read_parquet_table(spark, SF_DIR_ORACLE, "events")
    types = [r.event_type for r in ev.select("event_type").distinct().collect()]
    assert len(got) == len(types) * (len(types) - 1) // 2
    for (ta, tb), est in got.items():
        exact = (
            ev.filter(F.col("event_type") == ta)
            .select("user_id")
            .intersect(ev.filter(F.col("event_type") == tb).select("user_id"))
            .count()
        )
        assert abs(est - exact) <= max(1, 0.02 * exact), (ta, tb, est, exact)


def test_hll_kmv_large_cardinality_paths_match_twins(spark, tmp_path):
    """The sketch branches the test SFs never reach — the HLL RAW
    harmonic-mean estimate (n >> 2.5m linear-counting cutoff) and the
    KMV theta path (distinct > k) — must (a) agree BIT-FOR-BIT with the
    pyarrow twins that render the driver oracles, and (b) land within
    ~4x their published RSE of the exact answers. 30k/27k-user groups
    with a 15k-user overlap, fixed ids -> fully deterministic."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.hll import (
        hll_estimate_rows,
        hll_estimates_parquet,
        hll_register_rows,
        kmv_overlap_parquet,
        kmv_pair_overlap,
    )

    ua = np.arange(0, 30000, dtype=np.int64)
    ub = np.arange(15000, 42000, dtype=np.int64)
    types = ["a"] * len(ua) + ["b"] * len(ub)
    users = np.concatenate([ua, ub])
    pq.write_table(
        pa.table({"event_type": types, "user_id": users}),
        str(tmp_path / "events.parquet"),
    )
    df = spark.createDataFrame(
        zip(types, users.tolist()), "event_type string, user_id long"
    )

    regs = hll_register_rows(df, ["event_type"], "user_id")
    est = {
        r.event_type: r.approx_distinct
        for r in hll_estimate_rows(regs, ["event_type"]).collect()
    }
    assert est == hll_estimates_parquet(str(tmp_path))
    for t, n in (("a", 30000), ("b", 27000)):
        assert n > 2.5 * 4096  # the raw path, not linear counting
        assert abs(est[t] - n) <= 0.07 * n, (t, est[t], n)

    got = sorted(
        (r.type_a, r.type_b, r.approx_both)
        for r in kmv_pair_overlap(df, "event_type", "user_id").collect()
    )
    assert got == kmv_overlap_parquet(str(tmp_path))
    assert got[0][:2] == ("a", "b")
    assert abs(got[0][2] - 15000) <= 0.10 * 15000, got


def test_hll_register_merge_is_lossless(spark):
    """Sketch mergeability ground truth: per-day register rows merged
    with hll_merge_rows must estimate IDENTICALLY to registers built in
    one pass over the whole table (max is associative) — the property
    that makes materialized daily sketches answer any later window."""
    from pyspark.sql import functions as F

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.hll import (
        hll_estimate_rows,
        hll_merge_rows,
        hll_register_rows,
    )

    ev = read_parquet_table(spark, SF_DIR_ORACLE, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    daily = hll_register_rows(ev, ["event_type", "day"], "user_id")
    merged = hll_estimate_rows(
        hll_merge_rows(daily, ["event_type"]), ["event_type"]
    )
    direct = hll_estimate_rows(
        hll_register_rows(ev, ["event_type"], "user_id"), ["event_type"]
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_cms_invariants_and_merge_linearity(spark):
    """Count-min sketch ground truths: every seed row of the grid sums to
    the exact total item count (the grid is a linear projection of the
    data), estimates upper-bound exact counts, and merging the sketches
    of two disjoint halves reproduces the whole corpus's sketch EXACTLY
    (cell-for-cell) — the mergeability that makes daily rollups work."""
    from pyspark.sql import functions as F

    from analysis_of_flight_delay_data_by_mapreduce_spark.functions import word_tokens
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.sketch import (
        cms_build,
        cms_estimate,
        cms_merge,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.sources import (
        read_parquet_table,
    )
    from conftest import SF_DIR

    docs = read_parquet_table(spark, SF_DIR, "documents")
    toks = docs.select(
        "doc_id", F.explode(word_tokens(F.col("text"))).alias("term")
    ).persist()
    n_total = toks.count()

    sk = cms_build(toks, "term", depth=4, width=1024).persist()
    per_seed = {r.seed: r.s for r in sk.groupBy("seed").agg(F.sum("cnt").alias("s")).collect()}
    assert per_seed == {s: n_total for s in range(4)}

    # estimates dominate exact counts for every term in the vocabulary
    vocab = toks.select("term").distinct()
    est = {r.term: r.est for r in cms_estimate(sk, vocab, "term").collect()}
    exact = {
        r.term: r.c
        for r in toks.groupBy("term").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert all(est[t] >= c for t, c in exact.items())

    # linearity: sketch(half A) + sketch(half B) == sketch(whole)
    a = cms_build(toks.filter(F.col("doc_id") % 2 == 0), "term")
    b = cms_build(toks.filter(F.col("doc_id") % 2 == 1), "term")
    merged = {
        (r.seed, r.cell): r.cnt for r in cms_merge(a, b).collect()
    }
    whole = {(r.seed, r.cell): r.cnt for r in sk.collect()}
    assert merged == whole
    toks.unpersist()
    sk.unpersist()


def test_qsketch_invariants_brackets_and_merge_linearity(spark):
    """Quantile-sketch ground truths, mirroring the CMS test: the grid
    conserves total count; every value lies inside its own bucket with
    relative bucket width <= 2^-PREC (values < 32 bucket EXACTLY);
    quantile brackets contain the exact rank element for every probed
    permille including both edges; and merging the grids of two disjoint
    halves reproduces the whole input's grid cell-for-cell."""
    from pyspark.sql import functions as F

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.sketch import (
        QSKETCH_PREC,
        qsketch_build,
        qsketch_merge,
        qsketch_quantiles,
    )

    # deterministic values spanning octaves: 0, exact small, and wide
    vals = spark.range(2000).select(
        ((F.col("id") * F.col("id") * 37 + F.col("id")) % 1_000_003).alias("x")
    ).persist()
    n = vals.count()

    sk = qsketch_build(vals, "x").persist()
    assert sk.agg(F.sum("cnt")).first()[0] == n

    # every value inside its bucket; width bound; small values exact
    xs = [r.x for r in vals.collect()]
    prec = QSKETCH_PREC

    def bucket(x: int) -> tuple[int, int]:
        shift = max(x.bit_length() - (prec + 1), 0)
        return shift, x >> shift

    grid = {(r.shift, r.sub): r.cnt for r in sk.collect()}
    from collections import Counter

    expect = Counter(bucket(x) for x in xs)
    assert grid == dict(expect)
    for x in xs:
        shift, sub = bucket(x)
        lo, hi = sub << shift, ((sub + 1) << shift) - 1
        assert lo <= x <= hi
        if x >= (1 << (prec + 1)):
            assert (hi - lo) <= lo / (1 << prec)
        else:
            assert lo == hi == x

    # quantile brackets contain the exact rank element (integer rank def)
    permille = [1, 250, 500, 900, 990, 1000]
    est = {r.p: (r.est_lo, r.est_hi) for r in qsketch_quantiles(sk, permille).collect()}
    ordered = sorted(xs)
    for p in permille:
        rank = (n * p + 999) // 1000
        exact = ordered[rank - 1]
        lo, hi = est[p]
        assert lo <= exact <= hi, (p, lo, exact, hi)

    # merge linearity
    a = qsketch_build(vals.filter(F.col("x") % 2 == 0), "x")
    b = qsketch_build(vals.filter(F.col("x") % 2 == 1), "x")
    merged = {(r.shift, r.sub): r.cnt for r in qsketch_merge(a, b).collect()}
    assert merged == grid
    vals.unpersist()
    sk.unpersist()


def test_label_pca_equals_numpy_replica(spark):
    """embedding_label_pca is rows-only for the driver (no SQL engine
    replicates eigenvalues); pin every value EXACTLY against an
    independent pyarrow+numpy recomputation — id-sorted Gram
    accumulation makes both sides bit-deterministic."""
    import numpy as np
    import pyarrow.parquet as pq

    from analysis_of_flight_delay_data_by_mapreduce_spark.plans.synthetic import (
        QUERIES,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r.label: (r.n, r.top_eigval, r.explained)
        for r in QUERIES["embedding_label_pca"](spark, sf).collect()
    }

    t = pq.read_table(f"{sf}/embeddings.parquet").sort_by("vec_id")
    labels = np.asarray(t.column("label"))
    X = np.stack(t.column("embedding").to_pylist()).astype("float64")
    want = {}
    for lab in np.unique(labels):
        Xl = X[labels == lab]
        n = len(Xl)
        Xc = Xl - Xl.mean(axis=0)
        cov = (Xc.T @ Xc) / max(n - 1, 1)
        w = np.linalg.eigvalsh(cov)
        top, tot = float(w[-1]), float(w.sum())
        want[int(lab)] = (
            n,
            round(top, 6),
            round(top / tot, 6) if tot > 0 else 0.0,
        )
    assert got == want
    assert all(0.0 < e <= 1.0 for (_, _, e) in got.values())

    # the packaged twin (label_pca_summary_parquet) must agree with this
    # test's independent replica — it is what renders the oracle literals
    # for embedding_label_pca_check, the driver-witnessed companion face
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.similarity import (
        label_pca_summary_parquet,
    )

    assert label_pca_summary_parquet(f"{sf}/embeddings.parquet") == want

    # and the check face's micro-int projection matches the twin exactly
    check = {
        r.label: (r.n, r.eigval_micro, r.explained_micro)
        for r in QUERIES["embedding_label_pca_check"](spark, sf).collect()
    }
    assert check == {
        lab: (n, int(round(t * 1e6)), int(round(e * 1e6)))
        for lab, (n, t, e) in want.items()
    }


def test_exact_quantiles_two_pass_matches_full_sort(spark):
    """The sketch-guided two-pass selector returns EXACTLY the rank-th
    order statistic (1-based, duplicates counted) for every permille —
    against a python full sort — on a distribution spanning octaves,
    with heavy duplicates at the median, zeros, and values below the
    exact-bucket threshold; extreme permilles (1 and 1000) hit the min
    and max elements."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.sketch import (
        exact_quantiles_two_pass,
    )

    vals = (
        [0, 0, 1, 2, 3] + [7] * 40 + [100] * 25 + [101, 103, 130]
        + list(range(1000, 1040)) + [10**12, 10**12 + 7]
    )
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    permille = [1, 250, 500, 900, 990, 1000]
    got = {
        r.p: (r.n_rows, r.exact_value)
        for r in exact_quantiles_two_pass(df, "x", permille).collect()
    }
    s = sorted(vals)
    n = len(s)
    want = {p: (n, s[(n * p + 999) // 1000 - 1]) for p in permille}
    assert got == want
    assert got[1][1] == 0 and got[1000][1] == 10**12 + 7


def test_exact_quantiles_by_group_matches_per_group_sort(spark):
    """The grouped two-pass selector returns each group's exact rank-th
    element — against independent per-group python sorts — including a
    single-row group and a group of identical values."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.sketch import (
        exact_quantiles_by_group,
    )

    groups = {
        "a": [0, 7, 7, 7, 100, 101, 1000, 10**9],
        "b": [5],
        "c": [42] * 20,
        "d": list(range(200, 260)),
    }
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, x long")
    permille = [1, 500, 900, 1000]
    got = {
        (r.g, r.p): (r.n_rows, r.exact_value)
        for r in exact_quantiles_by_group(df, "g", "x", permille).collect()
    }
    want = {}
    for g, vs in groups.items():
        s = sorted(vs)
        n = len(s)
        for p in permille:
            want[(g, p)] = (n, s[(n * p + 999) // 1000 - 1])
    assert got == want
    assert got[("b", 1)] == (1, 5) and got[("c", 1000)] == (20, 42)


def test_two_pass_selectors_fail_loudly_on_oversized_bracket(spark):
    """VERDICT r7 item 7: an adversarial distribution that concentrates
    more distinct values inside one HDR bucket than ``bracket_limit``
    must raise through the fail-loud guard — never silently sort the
    oversized bracket in a single window partition. The recursion escape
    is documented, not implemented; the guard is the pinned posture.
    Planted distribution: hundreds of distinct values inside one
    high-octave bucket (width 2^20/16 = 65536 covers them all), so the
    median bracket's distinct count exceeds a tiny test limit."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.sketch import (
        exact_quantiles_by_group,
        exact_quantiles_two_pass,
        median_mad_two_pass,
    )

    base = 1 << 20
    heavy = [base + i for i in range(300)]  # 300 distinct, one bucket
    df = spark.createDataFrame([(v,) for v in heavy], "x long")
    gdf = spark.createDataFrame([("a", v) for v in heavy], "g string, x long")

    with pytest.raises((Py4JJavaError, SparkRuntimeException)) as e1:
        exact_quantiles_two_pass(df, "x", [500], bracket_limit=10).collect()
    assert "qsketch bracket" in str(e1.value)
    with pytest.raises((Py4JJavaError, SparkRuntimeException)) as e2:
        exact_quantiles_by_group(
            gdf, "g", "x", [500], bracket_limit=10
        ).collect()
    assert "qsketch bracket" in str(e2.value)
    with pytest.raises((Py4JJavaError, SparkRuntimeException)) as e3:
        median_mad_two_pass(df, "x", bracket_limit=10).collect()
    assert "qsketch bracket" in str(e3.value)

    # the same data resolves exactly once the limit accommodates it
    got = exact_quantiles_two_pass(df, "x", [500], bracket_limit=300).collect()
    s = sorted(heavy)
    assert got[0].exact_value == s[(len(s) * 500 + 999) // 1000 - 1]

    # and an ordinary distribution is untouched by the default limit
    ok = exact_quantiles_by_group(gdf, "g", "x", [500]).collect()
    assert ok[0].exact_value == s[(len(s) * 500 + 999) // 1000 - 1]


def test_median_mad_two_pass_matches_full_sort(spark):
    """The grid-derived-bracket median/MAD (VERDICT r7 item 3 — the
    deviation grid eliminated) returns EXACTLY the full-sort median and
    MAD on: octave-spanning values with duplicates at the median, a
    MAD=0 distribution (more than half the values identical), a
    single-bucket distribution (no candidate clears U < rank, the
    d_lo = −1 fallback), a single row, and two rows in distant octaves."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.sketch import (
        median_mad_two_pass,
    )

    def replica(vals):
        s = sorted(vals)
        n = len(s)
        rank = (n * 500 + 999) // 1000
        m = s[rank - 1]
        d = sorted(abs(v - m) for v in vals)
        return (n, m, d[rank - 1])

    cases = [
        # octaves + heavy median duplicates + huge outliers
        [0, 0, 1, 2, 3] + [7] * 40 + [100] * 25 + [101, 103, 130]
        + list(range(1000, 1040)) + [10**12, 10**12 + 7],
        # MAD = 0: >half identical
        [42] * 30 + [0, 7, 100, 10**9],
        # single HDR bucket (all values equal) — d_lo = −1 path
        [17] * 12,
        # single row
        [5],
        # two rows, distant octaves
        [3, 10**10],
        # dense band straddling an octave boundary
        list(range(250, 270)) * 3,
    ]
    for vals in cases:
        df = spark.createDataFrame([(v,) for v in vals], "x long")
        row = median_mad_two_pass(df, "x").collect()
        assert len(row) == 1, vals[:5]
        got = (row[0].n_rows, row[0].median, row[0].mad)
        assert got == replica(vals), (got, replica(vals), vals[:8])


def test_median_mad_by_group_matches_per_group_sort(spark):
    """Grouped median/MAD equals independent per-group python full
    sorts — including a single-row group, an all-identical group
    (MAD=0), and a tight cluster whose zero-outlier property downstream
    left-joins must preserve."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.sketch import (
        median_mad_by_group,
    )

    groups = {
        "a": [0, 7, 7, 7, 100, 101, 1000, 10**9],
        "b": [5],
        "c": [42] * 20,
        "d": list(range(200, 260)),
        "e": [10**6, 10**6 + 1, 10**6 + 2],
    }
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, x long")
    got = {
        r.g: (r.n_rows, r.median, r.mad)
        for r in median_mad_by_group(df, "g", "x").collect()
    }
    want = {}
    for g, vs in groups.items():
        s = sorted(vs)
        n = len(s)
        rank = (n * 500 + 999) // 1000
        m = s[rank - 1]
        want[g] = (n, m, sorted(abs(v - m) for v in vs)[rank - 1])
    assert got == want
    assert got["c"] == (20, 42, 0)  # MAD = 0 group
    assert got["b"] == (1, 5, 0)  # single-row group


def test_grouped_selectors_keep_null_group_keys(spark):
    """A NULL group key is a group, as in ``groupBy``: both grouped
    selectors return it next to the non-NULL group (every join on the
    group key is NULL-safe)."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.sketch import (
        exact_quantiles_by_group,
        median_mad_by_group,
    )

    df = spark.createDataFrame(
        [("a", 1), ("a", 5), (None, 3), (None, 7)], "g string, x long"
    )
    assert {r.g for r in df.groupBy("g").count().collect()} == {"a", None}
    got = {
        (r.g, r.p): (r.n_rows, r.exact_value)
        for r in exact_quantiles_by_group(df, "g", "x", [500, 1000]).collect()
    }
    assert got == {
        ("a", 500): (2, 1), ("a", 1000): (2, 5),
        (None, 500): (2, 3), (None, 1000): (2, 7),
    }
    got = {
        r.g: (r.n_rows, r.median, r.mad)
        for r in median_mad_by_group(df, "g", "x").collect()
    }
    assert got == {"a": (2, 1, 0), None: (2, 3, 0)}


def test_median_mad_two_pass_matches_full_sort_random(spark):
    """Randomized cross-check of the grid-derived MAD bracket: 20 seeded
    draws from mixed distributions (uniform, log-uniform octave spread,
    heavy point masses) — every one must equal the python full sort."""
    import random

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.sketch import (
        median_mad_two_pass,
    )

    rng = random.Random(8)
    for trial in range(20):
        kind = trial % 3
        n = rng.randint(1, 400)
        if kind == 0:
            vals = [rng.randint(0, 1000) for _ in range(n)]
        elif kind == 1:
            vals = [int(2 ** (rng.random() * 40)) for _ in range(n)]
        else:
            point = rng.randint(0, 10**6)
            vals = [point] * (n // 2) + [
                rng.randint(0, 10**7) for _ in range(n - n // 2)
            ]
        s = sorted(vals)
        rank = (len(s) * 500 + 999) // 1000
        m = s[rank - 1]
        mad = sorted(abs(v - m) for v in vals)[rank - 1]
        df = spark.createDataFrame([(v,) for v in vals], "x long")
        row = median_mad_two_pass(df, "x").collect()[0]
        assert (row.n_rows, row.median, row.mad) == (len(vals), m, mad), (
            trial,
            kind,
            n,
        )

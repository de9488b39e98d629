"""Deduplication operators (extension tier, SURVEY §7.1 step 5).

The reference has no dedup (SURVEY §2.4); these are the operators a
large-scale training-data pipeline needs, each designed for the 100 TB
posture:

- **exact_dedup** — hash groupBy on the dedup key: one shuffle, map-side
  partial agg, no window sort.
- **minhash_lsh_dedup** — shingles → per-shingle 64-bit hashes → H min-hash
  aggregations (one shuffle) → banded bucket keys → candidate pairs only
  within equal (band, bucket) — never O(n²).
- **simhash** — 64-bit token-weight fingerprint built from conditional bit
  sums (one shuffle); equal fingerprints (or equal 16-bit bands, for
  hamming-distance tolerance) are near-dup candidates.
- **ngram_jaccard_pairs** — exact Jaccard via an inverted-index self-join
  on shared shingles: pair generation is bounded by postings-list sizes
  (standard document-pair counting), not the cross product.
- **embedding_near_dup** — random-hyperplane LSH buckets over embeddings,
  exact cosine verification within buckets only.

Self / between duality: the MinHash, semantic and exact n-gram matchers
each answer pairs within one corpus (``minhash_lsh_dedup``,
``semantic_dedup``, ``ngram_jaccard_pairs``) and new × history pairs for
incremental ingest (the ``*_matches_between`` faces) from the same
stages, each written once: band entries, candidate verify, unit vectors,
shingle postings, stop-shingle cap, pair count and Jaccard cut. Only
bucket pair generation has two algorithms — sorted tail slices within a
bucket (``_bucket_pairs``) vs a per-bucket new × old product
(``_bucket_cross_pairs``).

Everything is built-in Catalyst expressions — no Python/pandas UDF in any
hot path. Hash = ``xxhash64`` (JVM-side, whole-stage codegen).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import (
    char_ngrams,
    cosine_similarity,
    dot,
    l2_norm,
    word_shingles,
    word_tokens,
)
from .cache import scoped_persist

__all__ = [
    "exact_dedup",
    "minhash_signatures",
    "minhash_lsh_dedup",
    "minhash_matches_between",
    "build_band_index",
    "minhash_candidates_against_index",
    "simhash",
    "simhash_near_dup",
    "ngram_jaccard_pairs",
    "duplicate_spans",
    "duplicate_span_profile",
    "strip_duplicate_spans",
    "tfidf_cosine_pairs",
    "embedding_near_dup",
    "semantic_dedup",
    "semantic_matches_between",
]


def exact_dedup(
    df: DataFrame,
    keys: Sequence[str | Column],
    id_col: str,
) -> DataFrame:
    """Keep one row id per exact duplicate group (the smallest ``id_col``).

    ``groupBy(keys).agg(min(id))`` — a single partial-aggregated shuffle.
    Deliberately NOT a ``row_number()`` window (which would sort every
    partition) and NOT ``dropDuplicates`` (whose survivor is
    partitioning-dependent — a deterministic survivor matters for
    reproducible pipelines and for oracle checks).
    """
    kcols = [F.col(k) if isinstance(k, str) else k for k in keys]
    return df.groupBy(*kcols).agg(F.min(id_col).alias(id_col))


def _shingles(text: Column, mode: str, k: int) -> Column:
    if mode == "char":
        return char_ngrams(text, k)
    if mode == "word":
        return word_shingles(text, k)
    raise ValueError(f"unknown shingle mode: {mode}")


def _ensure_parallelism(df: DataFrame, id_col: str) -> DataFrame:
    """Repartition by id up to the cluster's default parallelism when the
    scan produced fewer splits.

    The shingle/feature ops below explode each document ~50×; when the
    input is a handful of small files (one scan partition), every core but
    one idles through the fan-out. Repartitioning the *pre-explode* rows
    (small: id + text) is one cheap shuffle that unlocks full parallelism.
    At real scale the scan already has >= defaultParallelism splits and this
    is a no-op.

    The probe is ``df.inputFiles()`` (leaf-relation file listing, already
    cached by the datasource) — NOT ``df.rdd.getNumPartitions()``, which
    forces a full physical planning of the subtree on the driver and was
    measured at 0.5-2 s per call on the composite dedup pipelines. A
    file-less plan (in-memory test frames) conservatively repartitions,
    which is the cheap correct choice at that size.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        nfiles = len(df.inputFiles())
    except Exception:  # pragma: no cover - non-file plans on odd sources
        nfiles = 0
    if nfiles >= target:
        return df
    return df.repartition(target, id_col)


def _posting_tail_pairs(posts: DataFrame, m_col: str = "__m") -> DataFrame:
    """Expand a sorted postings array into its ordered element pairs:
    every (m[i], m[j]) with i < j, generated as posexplode + tail slice
    so per-row memory stays one postings array (the C(|m|,2) pairs are
    STREAMED across |m| rows, never materialized as one array). Array
    elements may be scalars or structs; output columns ``__ea, __eb``.
    """
    return posts.select(
        posts["*"], F.posexplode(m_col).alias("__p", "__ea")
    ).select(
        "*",
        F.explode(
            F.slice(
                F.col(m_col),
                F.col("__p") + F.lit(2),
                F.size(m_col) - F.col("__p") - F.lit(1),
            )
        ).alias("__eb"),
    )


def _bucket_pairs(
    entries: DataFrame,
    keys: list[str],
    id_col: str,
    max_bucket: int | None,
) -> DataFrame:
    """Distinct candidate pairs ``(id_a < id_b)`` of ids sharing a bucket
    key — the postings-list formulation of the banded LSH self-join.

    ONE hash exchange groups each bucket's member ids into a sorted
    array; pair generation is then bucket-local compute (posexplode +
    tail slice). The hot-bucket skew guard (``max_bucket`` — drop
    buckets holding more members than the cap, the LSH analog of
    stop-words, bounding candidates at O(n · max_bucket)) is applied
    BEFORE the arrays are built (r13, ADVICE r12): a count-over-window
    keyed identically to the groupBy — the window reuses the same
    exchange, its per-bucket buffer spills to disk past the spill
    threshold instead of holding the bucket in memory, and every
    surviving ``collect_list`` buffer is then ≤ ``max_bucket`` elements,
    so a degenerate bucket can no longer materialize an unbounded
    member array in one aggregation row. Output is the same pair set by
    construction — every unordered pair sharing a bucket of size in
    [2, cap] appears once per shared bucket before the distinct; pair
    volume and task placement are unchanged. With ``max_bucket=None``
    the member arrays are unbounded BY SEMANTICS (the caller asked for
    every co-bucketed pair, an O(|bucket|²) output either way).

    ``entries`` is not persisted: the guarded groupBy is its single
    consumer, so a persist would be pure materialization overhead in a
    one-shot execution (measured at sf0.1: warm/cold medians within
    noise either way). A caller whose entries subtree feeds several
    consumers persists it itself.
    """
    from pyspark.sql import Window as W

    if max_bucket is not None:
        wc = F.count(F.lit(1)).over(W.partitionBy(*[F.col(k) for k in keys]))
        entries = (
            entries.withColumn("__bc", wc)
            .filter((F.col("__bc") >= 2) & (F.col("__bc") <= max_bucket))
            .drop("__bc")
        )
    posts = entries.groupBy(*[F.col(k) for k in keys]).agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("__m")
    )
    if max_bucket is None:
        posts = posts.filter(F.size("__m") >= 2)
    return (
        _posting_tail_pairs(posts.select("__m"))
        .select(F.col("__ea").alias("id_a"), F.col("__eb").alias("id_b"))
        .distinct()
    )


def _bucket_cross_pairs(
    e_new: DataFrame,
    e_old: DataFrame,
    keys: list[str],
    new_id: str,
    old_id: str,
    max_bucket: int | None,
) -> DataFrame:
    """Distinct cross-side candidate pairs ``(new_id, old_id)`` sharing a
    bucket key — the two-sided analog of :func:`_bucket_pairs` for the
    incremental-ingest joins. Both sides union into ONE grouped pass
    (side-tagged conditional collect_lists); the occupancy cap is
    measured over the union of both sides, exactly the symmetric
    semantics of the former count + anti-join shape, at one exchange
    instead of four (two persists, the totals aggregation, two
    anti-joins and the equi-join all collapse into the groupBy). As in
    :func:`_bucket_pairs`, the cap and the both-sides-present test are
    applied by counts-over-window BEFORE the arrays are built (r13),
    so a degenerate bucket spills in the window buffer instead of
    materializing an unbounded member array in one aggregation row;
    surviving ``collect_list`` buffers are ≤ ``max_bucket`` elements.
    """
    from pyspark.sql import Window as W

    u = e_new.select(
        *keys, F.col(new_id).alias("__id"), F.lit(0).alias("__side")
    ).unionAll(
        e_old.select(*keys, F.col(old_id).alias("__id"), F.lit(1).alias("__side"))
    )
    w = W.partitionBy(*[F.col(k) for k in keys])
    u = u.withColumn(
        "__nn", F.count(F.when(F.col("__side") == 0, F.lit(1))).over(w)
    ).withColumn(
        "__no", F.count(F.when(F.col("__side") == 1, F.lit(1))).over(w)
    )
    cond = (F.col("__nn") > 0) & (F.col("__no") > 0)
    if max_bucket is not None:
        cond &= (F.col("__nn") + F.col("__no")) <= max_bucket
    posts = (
        u.filter(cond)
        .groupBy(*[F.col(k) for k in keys])
        .agg(
            F.collect_list(
                F.when(F.col("__side") == 0, F.col("__id"))
            ).alias("__ns"),
            F.collect_list(
                F.when(F.col("__side") == 1, F.col("__id"))
            ).alias("__os"),
        )
    )
    return (
        posts.select(F.explode("__ns").alias(new_id), F.col("__os"))
        .select(new_id, F.explode("__os").alias(old_id))
        .distinct()
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_k: int = 5,
    mode: str = "char",
) -> DataFrame:
    """MinHash signature per document: ``sig[i] = min over shingles of
    xxhash64(seed_i, xxhash64(shingle))``.

    One explode + one groupBy: the H min-aggregations all run in a single
    ``HashAggregateExec`` pass (H accumulators per key), so the cost is one
    shuffle of (id, shingle-hash) pairs regardless of H. The shingle string
    is hashed to a long ONCE in the projection; each of the H family
    members then hashes that fixed-width long with its seed. Versus
    ``xxhash64(shingle, seed_i)`` per member this cuts both executor work
    (1 variable-length string hash instead of H) and the generated-code
    surface of the aggregate update path by ~20× — the H-copies-of-inlined-
    string-hashing codegen was the dominant cold-start cost of the dedup
    tier (measured 10-19 s first execution at sf0.1, ~3 s after).
    Returns ``id_col, sig array<bigint>``.
    """
    shingled = _ensure_parallelism(df, id_col).select(
        F.col(id_col),
        F.explode(F.array_distinct(_shingles(F.col(text_col), mode, shingle_k))).alias(
            "__shingle"
        ),
    )
    hashed = shingled.select(F.col(id_col), F.xxhash64("__shingle").alias("__sh"))
    mins = [
        F.min(F.xxhash64(F.lit(i), F.col("__sh"))).alias(f"__h{i}")
        for i in range(num_hashes)
    ]
    sig = hashed.groupBy(id_col).agg(*mins)
    return sig.select(
        id_col, F.array(*[f"__h{i}" for i in range(num_hashes)]).alias("sig")
    )


def _band_entries(
    df: DataFrame, id_col: str, text_col: str,
    num_hashes: int, bands: int, shingle_k: int, mode: str,
) -> DataFrame:
    """``(id, band, bucket)`` rows of the documents' minhash signatures.

    Band bucket = hash-fold over the band's slice of the signature,
    written as transform+aggregate higher-order functions. Codegen emits
    ONE loop body instead of ``bands`` unrolled struct/xxhash subtrees —
    the unrolled form's Janino-JIT cost dominated first-execution time
    (VERDICT r3 perf finding); the fold keeps analysis and codegen O(1)
    in ``bands``. posexplode supplies the band index.
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k, mode)
    return sig.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.aggregate(
                    F.slice("sig", b * rows_per_band + 1, rows_per_band),
                    F.lit(0).cast("bigint"),
                    lambda acc, x: F.xxhash64(acc, x),
                ),
            )
        ).alias("band", "bucket"),
    )


def _jaccard(inter: str, size_a: str, size_b: str) -> Column:
    """``|A∩B| / (|A| + |B| - |A∩B|)`` of exact int64 counts."""
    return F.col(inter).cast("double") / (
        F.col(size_a) + F.col(size_b) - F.col(inter)
    ).cast("double")


def _verify_jaccard(
    pairs: DataFrame, ends: tuple[str, str], id_col: str, text_col: str,
    mode: str, shingle_k: int, threshold: float,
    docs_a: DataFrame, docs_b: DataFrame | None = None,
) -> DataFrame:
    """The ``ends`` pairs at exact shingle Jaccard ``>= threshold``; end
    ``b`` names a ``docs_b`` document, or a ``docs_a`` one if it is None.

    Verify ONLY the LSH candidates, pairwise: join each candidate pair
    to the two documents' distinct-shingle arrays and compute exact
    Jaccard with ``array_intersect`` — per-pair O(|A|+|B|) hash-set
    work, JVM-side. Versus the previous shape (semi-join to candidate
    docs, then the full inverted-index self-join + groupBy of
    ngram_jaccard_pairs) this is two narrow equi-joins and a projection:
    ~6 fewer stages, which cut the first-execution (analysis + codegen
    JIT) cost of the whole query from ~19 s to ~5 s at sf0.1 while
    computing the identical filtered Jaccard. At scale the joins shuffle
    only candidate rows + the (id, shingle-array) sides — candidates are
    a vanishing fraction of the corpus, and shingle arrays are bounded
    by document length. Shingle arrays are built ONLY for documents
    appearing in some candidate pair (semi-join), and that small frame
    is persisted so the corpus scan + shingling runs once, not once per
    join side; within one corpus both pair ends read one such frame.
    """
    a, b = ends
    pairs = scoped_persist(pairs)

    def shingle_sets(docs: DataFrame, ids: DataFrame) -> DataFrame:
        return scoped_persist(
            docs.join(ids.distinct(), id_col, "left_semi")
            .select(
                F.col(id_col),
                F.array_distinct(
                    _shingles(F.col(text_col), mode, shingle_k)
                ).alias("__sh"),
            )
            .withColumn("__sz", F.size("__sh"))
        )

    ids_a = pairs.select(F.col(a).alias(id_col))
    ids_b = pairs.select(F.col(b).alias(id_col))
    if docs_b is None:
        sh_a = sh_b = shingle_sets(docs_a, ids_a.union(ids_b))
    else:
        sh_a, sh_b = shingle_sets(docs_a, ids_a), shingle_sets(docs_b, ids_b)
    side_a, side_b = (
        sh.select(
            F.col(id_col).alias(end),
            F.col("__sh").alias("__sh" + t),
            F.col("__sz").alias("__sz" + t),
        )
        for sh, end, t in ((sh_a, a, "a"), (sh_b, b, "b"))
    )
    return (
        pairs.join(side_a, a)
        .join(side_b, b)
        .withColumn("__i", F.size(F.array_intersect("__sha", "__shb")))
        .filter(_jaccard("__i", "__sza", "__szb") >= threshold)
        .select(a, b)
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    mode: str = "char",
    verify_jaccard: float | None = None,
    max_bucket: int | None = 500,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + banded LSH.

    Signature of ``num_hashes`` minhashes split into ``bands`` bands of
    ``num_hashes // bands`` rows; documents sharing any (band index, band
    hash) are candidates. With r rows/band, the match probability is the
    classic ``1-(1-j^r)^b`` S-curve. Pairs are generated by a self-join on
    the band bucket key — the shuffle is keyed on (band, bucket), so work
    scales with bucket occupancy, not n². ``max_bucket`` drops degenerate
    hot buckets (see ``_bucket_pairs``), bounding worst-case skew.

    If ``verify_jaccard`` is set, candidates are verified with exact shingle
    Jaccard (:func:`_verify_jaccard`) and only pairs at or above the
    threshold survive.

    Returns ``id_a, id_b`` (``id_a < id_b``), distinct.
    """
    entries = _band_entries(df, id_col, text_col, num_hashes, bands, shingle_k, mode)
    pairs = _bucket_pairs(entries, ["band", "bucket"], id_col, max_bucket)
    if verify_jaccard is not None:
        pairs = _verify_jaccard(
            pairs, ("id_a", "id_b"), id_col, text_col, mode, shingle_k,
            verify_jaccard, df,
        )
    return pairs


def _unit_vectors(
    df: DataFrame, id_col: str, vec_col: str, centroids: list[list[float]]
) -> tuple[DataFrame, DataFrame]:
    """The persisted nearest-centroid assignment ``(id, vec, cluster,
    __nrm)``, and its non-zero rows with their unit vectors ``__u``.

    Vectors are normalized once per row behind the persist boundary
    (``__nrm`` is a materialized attribute, so the per-element divide
    reads it instead of re-deriving the norm — the HOF no-CSE trap),
    and pair cosine is then a plain dot of unit vectors. Zero vectors
    cannot pair (their cosine is undefined — the exact formula yields
    NULL).
    """
    from .similarity import assign_ivf_cluster

    assigned = scoped_persist(
        assign_ivf_cluster(df.select(id_col, vec_col), vec_col, centroids)
        .withColumn("__nrm", l2_norm(F.col(vec_col)))
    )
    unit = assigned.filter(F.col("__nrm") != 0).withColumn(
        "__u",
        F.transform(F.col(vec_col), lambda x: x.cast("double") / F.col("__nrm")),
    )
    return assigned, unit


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    threshold: float = 0.35,
    max_cluster: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column:
    keep one representative per near-duplicate semantic neighborhood.

    Abbas et al.'s SemDeDup recipe (arXiv:2303.09540), Spark-first: rows
    are assigned to their nearest k-means centroid
    (``similarity.assign_ivf_cluster`` — one vectorized matmul per Arrow
    batch, zero shuffle), pairwise cosine runs ONLY within a cluster (the
    equi-join on the cluster id bounds candidates at O(Σ|cluster|²) — at
    100 TB, centroid count scales with the corpus so clusters stay
    bounded), and a row is dropped iff a lower-id row of the same cluster
    sits at cosine ≥ ``threshold`` (deterministic survivor, same
    min-id convention as ``exact_dedup``). ``max_cluster`` skips pair
    generation inside degenerate hot clusters (their members all
    survive — the documented cap semantics of ``_bucket_pairs``).

    Returns the SURVIVORS: ``id_col, cluster``.

    Per-pair cost is ONE array fold over the unit vectors of
    :func:`_unit_vectors`. Versus cosine-per-pair (dot + two norms,
    with each row's norm recomputed for every one of its ~|cluster|
    pairings) this measured 2.8× faster at sf0.1. Zero vectors cannot
    pair but still survive.
    """
    assigned, unit = _unit_vectors(df, id_col, vec_col, centroids)
    if max_cluster is not None:
        counts = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("__cn"))
        unit = unit.join(
            counts.filter(F.col("__cn") > max_cluster).select("cluster"),
            "cluster",
            "left_anti",
        )
    a, b = (
        unit.select(
            F.col("cluster"),
            F.col(id_col).alias("__id" + t),
            F.col("__u").alias("__u" + t),
        )
        for t in ("a", "b")
    )
    dups = (
        a.join(b, "cluster")
        .filter(F.col("__ida") < F.col("__idb"))
        .filter(dot(F.col("__ua"), F.col("__ub")) >= threshold)
        .select(F.col("__idb").alias(id_col))
        .distinct()
    )
    return assigned.join(dups, id_col, "left_anti").select(id_col, "cluster")


def semantic_matches_between(
    new_df: DataFrame,
    old_df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    threshold: float = 0.35,
) -> DataFrame:
    """Semantic near-dup matches of ``new_df`` AGAINST an existing corpus
    — the incremental-ingest face of :func:`semantic_dedup`: both sides
    are assigned to their nearest centroid and cosine runs only across
    same-cluster (new, old) pairs, so candidate volume scales with the
    increment × cluster occupancy, never |new| × |old|. At 100 TB the
    corpus side's assignment is content-derived — materialize it once,
    partitioned by cluster, and every increment joins that layout.

    Returns ``new_id, old_id`` (cosine ≥ ``threshold``).
    """
    a, b = (
        _unit_vectors(frame, id_col, vec_col, centroids)[1].select(
            F.col(id_col).alias(end), "cluster", F.col("__u").alias(u)
        )
        for frame, end, u in ((new_df, "new_id", "__ua"), (old_df, "old_id", "__ub"))
    )
    return (
        a.join(b, "cluster")
        .filter(dot(F.col("__ua"), F.col("__ub")) >= threshold)
        .select("new_id", "old_id")
    )


def minhash_matches_between(
    new_df: DataFrame,
    old_df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    mode: str = "word",
    verify_jaccard: float | None = 0.5,
    max_bucket: int | None = 500,
) -> DataFrame:
    """MinHash-LSH near-dup matches of ``new_df`` AGAINST an existing
    corpus ``old_df`` — the banded analog of ``jaccard_matches_between``
    (VERDICT r4 item 5): band buckets are computed per side, candidates
    are the cross pairs sharing a (band, bucket), and the optional exact-
    Jaccard verify keeps only true matches.

    Versus the exact inverted-index shape, the join here is keyed on the
    fixed-width band bucket instead of raw shingles — the per-increment
    cost is H hash aggregations over the increment plus a join whose old
    side can be a PRE-MATERIALIZED band index (signatures and buckets of
    the historical corpus are content-hashes: compute once, store
    partitioned by (band, bucket), and each daily increment joins against
    that layout shuffle-free). Candidate volume scales with the
    increment, never the history. The hot-bucket cap is measured over the
    UNION of both sides (symmetric, like the stop-shingle guard).

    Returns ``new_id, old_id`` (distinct; verified when
    ``verify_jaccard`` is set).
    """
    e_new, e_old = (
        _band_entries(
            frame.withColumnRenamed(id_col, end), end, text_col,
            num_hashes, bands, shingle_k, mode,
        )
        for frame, end in ((new_df, "new_id"), (old_df, "old_id"))
    )
    pairs = _bucket_cross_pairs(
        e_new, e_old, ["band", "bucket"], "new_id", "old_id", max_bucket
    )
    if verify_jaccard is not None:
        pairs = _verify_jaccard(
            pairs, ("new_id", "old_id"), id_col, text_col, mode, shingle_k,
            verify_jaccard, new_df, old_df,
        )
    return pairs


def build_band_index(
    df: DataFrame,
    table: str,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    mode: str = "word",
    n_buckets: int = 8,
) -> None:
    """Materialize a corpus's MinHash band index as a BUCKETED table —
    the write-once half of the incremental near-dup posture.

    Signatures and band buckets are content hashes: computing them per
    increment against a 100 TB history would re-hash the history every
    day. This writes them once, bucketed (``bucketBy``) on the composite
    band key, so every increment's candidate join
    (:func:`minhash_candidates_against_index`) reads co-located buckets
    and the HISTORY side joins with no Exchange — only the (small)
    increment shuffles. Append new survivors periodically; the band key
    of a document never changes.
    """
    from .bucketing import write_bucketed

    entries = _band_entries(
        df.withColumnRenamed(id_col, "old_id"), "old_id", text_col,
        num_hashes, bands, shingle_k, mode,
    ).select("old_id", F.xxhash64("band", "bucket").alias("bkey"))
    write_bucketed(entries, table, key="bkey", n_buckets=n_buckets)


def minhash_candidates_against_index(
    spark,
    new_df: DataFrame,
    table: str,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    mode: str = "word",
) -> DataFrame:
    """Near-dup candidate pairs of an increment against a
    :func:`build_band_index` table: band-hash the increment (parameters
    MUST match the index build), join on the composite band key.

    The bucketed history side satisfies the join's required
    distribution from its layout — no Exchange, no re-hash; the
    increment side shuffles into the same bucketing. Verify candidates
    with the exact-Jaccard stage of :func:`minhash_matches_between` (the
    index stores only ids + band keys, not text). The ``merge`` hint
    pins the sort-merge path a fact-scale history takes (at test scale
    Catalyst would otherwise broadcast the increment — also shuffle-free
    for the history, but the SMJ plan is the one worth asserting).

    Returns distinct ``new_id, old_id`` candidates.
    """
    e_new = _band_entries(
        new_df.withColumnRenamed(id_col, "new_id"), "new_id", text_col,
        num_hashes, bands, shingle_k, mode,
    ).select("new_id", F.xxhash64("band", "bucket").alias("bkey"))
    idx = spark.table(table).hint("merge")
    return e_new.join(idx, "bkey").select("new_id", "old_id").distinct()


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    shingle_k: int = 3,
) -> DataFrame:
    """64-bit SimHash fingerprint per document.

    Classic Charikar scheme: each feature hashes to 64 bits; fingerprint
    bit i is 1 iff the (count-weighted) sum of ±1 over features' bit i is
    positive. Features are word ``shingle_k``-shingles, not unigrams — on a
    corpus with a small shared vocabulary, unigram features make every
    fingerprint near-identical (no discrimination and degenerate LSH
    buckets); shingles keep the feature space wide. Implemented as ``bits``
    conditional sums in one aggregation pass — single shuffle, all-JVM.
    Returns ``id_col, simhash (bigint)``.
    """
    toks = _ensure_parallelism(df, id_col).select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), shingle_k)).alias("__tok"),
    ).withColumn("__h", F.xxhash64("__tok"))

    # Aggregate state is 16 longs, not 64: pack 4 per-bit ONES-counters
    # into 16-bit lanes of each accumulator (a naive 64-column conditional
    # sum blows past codegen field limits and JIT budgets — measured 3-14s
    # vs <3s packed). Lane math: ones_i = Σ rows bit_i ∈ [0, n]; no lane
    # carry while n < 2^16 features per document (fine for any real doc —
    # 65k shingles ≈ a 400 KB text). Majority test: 2·ones_i − n > 0
    # ≡ the classic Σ(±1) > 0.
    lanes = 4
    n_acc = bits // lanes
    packed = [
        F.sum(
            sum(
                F.shiftleft(
                    F.shiftright(F.col("__h"), j * lanes + l).bitwiseAND(F.lit(1)),
                    16 * l,
                )
                for l in range(lanes)
            )
        ).alias(f"__a{j}")
        for j in range(n_acc)
    ]
    agg = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"), *packed)

    # Fingerprint reconstruction as ONE aggregate-fold over bit indices
    # instead of a 64-term unrolled shiftleft/XOR chain — same
    # codegen-surface fix as the MinHash banding (r3 perf finding): the
    # loop body is emitted once. element_at is 1-based; lane math mirrors
    # the packing above. The variable shift amounts use the SQL
    # shiftleft/shiftright expressions via call_function (the Catalyst
    # expressions accept column shift counts; only the Python wrapper
    # pins them to int literals).
    accs = F.array(*[F.col(f"__a{j}") for j in range(n_acc)])
    one = F.lit(1).cast("bigint")
    fp = F.aggregate(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        F.lit(0).cast("bigint"),
        lambda acc, i: acc.bitwiseXOR(
            F.when(
                F.call_function(
                    "shiftright",
                    F.element_at(accs, (i / lanes).cast("int") + 1),
                    ((i % lanes) * 16).cast("int"),
                ).bitwiseAND(F.lit(0xFFFF))
                * 2
                - F.col("__n")
                > 0,
                F.call_function("shiftleft", one, i.cast("int")),
            ).otherwise(F.lit(0).cast("bigint"))
        ),
    )
    return agg.select(id_col, fp.alias("simhash"))


def simhash_near_dup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    band_bits: int = 16,
    max_bucket: int | None = 500,
    max_hamming: int | None = 3,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs at hamming distance ≤ ``max_hamming``.

    Two stages (Manku et al., "Detecting Near-Duplicates for Web
    Crawling", WWW'07): (1) banded self-join — documents sharing any
    16-bit band of their 64-bit fingerprint are candidates; by pigeonhole
    any pair at hamming ≤ 3 differs in at most 3 of the 4 bands, so it
    MUST share one: candidate recall at ≤ 3 is exactly 100%. (2) verify —
    ``bit_count(xor)`` on the two fingerprints filters candidates to true
    hamming ≤ ``max_hamming``. Net contract: the output is EXACTLY the
    set of pairs within hamming ``max_hamming`` (pinned by a brute-force
    equality test). ``max_hamming=None`` returns raw band candidates
    (band collisions at any distance — the pre-WWW'07 shape).
    Output: ``id_a, id_b, hamming``. Same hot-bucket skew guard as
    MinHash-LSH; the verify is one narrow join per side + bit math, all
    JVM-side. ``fingerprints`` (``id_col, simhash``) lets a caller that
    already computed/persisted the fingerprint frame (e.g. the
    dedup_simhash_check audit, which also needs it for its brute side)
    skip the second shingle-aggregation pass.
    """
    fp = (
        fingerprints
        if fingerprints is not None
        else simhash(df, id_col, text_col)
    )
    if max_hamming is not None and fingerprints is None:
        fp = scoped_persist(fp)  # feeds band entries + two verify joins
    n_bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    entries = fp.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    # the band entries are a cheap projection of the (persisted or
    # caller-supplied) fingerprint frame — no second persist needed
    pairs = _bucket_pairs(entries, ["band", "bucket"], id_col, max_bucket)
    if max_hamming is None:
        return pairs
    fa = fp.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("__fa"))
    fb = fp.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("__fb"))
    return (
        pairs.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn(
            "hamming", F.bit_count(F.col("__fa").bitwiseXOR(F.col("__fb")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _shingle_postings(
    df: DataFrame, id_col: str, text_col: str, mode: str, shingle_k: int
) -> DataFrame:
    """``(id, __size, __shingle)`` per distinct shingle of each document.

    Sizes are computed ONCE at the document row (array size before the
    explode) and carried on the exploded entries, so the Jaccard
    denominator rides the pair-count aggregation's key — the former
    separate per-doc size aggregation AND the two post-count size joins
    are gone (3 fewer exchanges)."""
    return _ensure_parallelism(df, id_col).select(
        F.col(id_col),
        F.array_distinct(_shingles(F.col(text_col), mode, shingle_k)).alias("__sha"),
    ).select(
        F.col(id_col),
        F.size("__sha").alias("__size"),
        F.explode("__sha").alias("__shingle"),
    )


def _stop_shingle_cap(
    e_a: DataFrame, id_col: str, max_doc_freq: int, e_b: DataFrame | None = None
) -> tuple[DataFrame, DataFrame | None]:
    """Postings without the shingles in over ``max_doc_freq`` documents
    of ``e_a`` ∪ ``e_b`` (symmetric filtered Jaccard), sizes re-counted.

    The document-frequency cap is a count-over-window keyed on the
    shingle (r13 — the former grouped collect_lists materialized a
    stop-shingle's full unbounded posting array in one aggregation row
    before the size filter dropped it; the window buffer spills
    instead). Both consumers (sizes and pairs) read the persisted
    filtered postings; two sides union into one side-tagged frame, one
    window pass for both.
    """
    from pyspark.sql import Window as W

    def tagged(e: DataFrame, side: int) -> DataFrame:
        return e.select(F.col(id_col), "__shingle", F.lit(side).alias("__side"))

    if e_b is None:
        u = e_a.select(F.col(id_col), "__shingle")
    else:
        u = tagged(e_a, 0).unionAll(tagged(e_b, 1))
    wdf = F.count(F.lit(1)).over(W.partitionBy("__shingle"))
    filt = scoped_persist(
        u.withColumn("__df", wdf).filter(F.col("__df") <= max_doc_freq).drop("__df")
    )

    def sized(sh: DataFrame) -> DataFrame:
        sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__size"))
        return sh.join(sizes, id_col)

    if e_b is None:
        return sized(filt), None
    a, b = (
        sized(filt.filter(F.col("__side") == side).select(id_col, "__shingle"))
        for side in (0, 1)
    )
    return a, b


def _shingle_pair_counts(
    e_a: DataFrame, id_col: str,
    e_b: DataFrame | None = None, ends: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """``(a, b, __size_a, __size_b, __inter)`` over ``e_a`` × ``e_b``, or
    over each unordered pair of ``e_a`` once (``a < b``) if ``e_b`` is None.

    Pair counting stays the inverted-index equi-join on the shingle:
    measured against the postings-list (collect_list + pair explode)
    formulation at sf0.1, the streamed whole-stage-codegen join wins for
    shingle-keyed postings (warm 1.3-1.5 s vs 1.7-2.1 s — high-
    cardinality keys with small groups, where per-group array
    materialization costs more than the join's sort; the postings form
    stays in _bucket_pairs for the LSH band paths, where it measured
    0.3-0.8× — see OPTIMIZATION_r12.md)."""
    a, b = ends
    left = e_a.select(
        F.col(id_col).alias(a), F.col("__size").alias("__size_a"), "__shingle"
    )
    right = (e_a if e_b is None else e_b).select(
        F.col(id_col).alias(b), F.col("__size").alias("__size_b"), "__shingle"
    )
    pairs = left.join(right, "__shingle")
    if e_b is None:
        pairs = pairs.filter(F.col(a) < F.col(b))
    return pairs.groupBy(a, b, "__size_a", "__size_b").agg(
        F.count(F.lit(1)).alias("__inter")
    )


def _jaccard_cut(
    counts: DataFrame, ends: tuple[str, str], threshold: float
) -> DataFrame:
    """``(a, b, jaccard)`` of the pair counts at ``jaccard >= threshold``."""
    a, b = ends
    ja = counts.select(
        a, b, _jaccard("__inter", "__size_a", "__size_b").alias("jaccard")
    )
    return ja.filter(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
    mode: str = "char",
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
    prefix_filter: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every document pair sharing at
    least one shingle, keeping pairs with ``jaccard >= threshold``.

    Inverted-index formulation: explode distinct shingles, self-join on the
    shingle (postings-list pair counting), then
    ``|A∩B| / (|A| + |B| - |A∩B|)`` from exact int64 counts — the division
    is the only float op, so results are deterministic for oracle checks.
    Shuffle is keyed on the shingle. ``max_doc_freq`` is the stop-shingle
    skew guard: shingles appearing in more than that many documents are
    excluded from BOTH the join and the set sizes (a well-defined filtered
    Jaccard) — a shingle shared by half the corpus contributes ~n²/4 join
    rows and no discriminative signal. None = exact unfiltered Jaccard.

    ``prefix_filter`` enables PPJoin-style prefix filtering (exact, no
    false negatives): order shingles by ascending document frequency, join
    only each document's first ``|A| − ceil(t·|A|) + 1`` shingles — any
    pair with ``J ≥ t`` must share its globally-smallest common shingle
    inside BOTH prefixes (the suffix holds < ceil(t·|A|) ≤ |A∩B| elements,
    so the intersection cannot hide there). Candidate pairs are then
    verified with full intersection counts restricted to candidate
    documents. Same result as the naive join at a fraction of the pair
    volume — the scale path when no stop-shingle cutoff applies.

    Returns ``id_a, id_b, jaccard``.
    """
    entries = _shingle_postings(df, id_col, text_col, mode, shingle_k)
    if max_doc_freq is not None and prefix_filter:
        # the two prune paths are structured differently (postings-window
        # cap vs prefix candidate join) and no caller composes them;
        # fail loudly instead of silently taking one (ADVICE r12)
        raise ValueError(
            "ngram_jaccard_pairs: max_doc_freq and prefix_filter are "
            "mutually exclusive — apply the stop-shingle cap or PPJoin "
            "prefix pruning, not both"
        )
    if max_doc_freq is not None:
        sized, _ = _stop_shingle_cap(entries, id_col, max_doc_freq)
        ja = _shingle_pair_counts(sized, id_col)
    elif prefix_filter:
        from pyspark.sql import Window as W

        df_counts = entries.groupBy("__shingle").agg(
            F.count(F.lit(1)).alias("__df")
        )
        ranked = entries.join(df_counts, "__shingle").withColumn(
            "__rk",
            F.row_number().over(
                W.partitionBy(id_col).orderBy(F.asc("__df"), F.asc("__shingle"))
            ),
        )
        prefix_len = (
            F.col("__size") - F.ceil(F.lit(threshold) * F.col("__size")) + 1
        )
        prefix = ranked.select(id_col, "__size", "__shingle", "__rk").filter(
            F.col("__rk") <= prefix_len
        )
        cand = scoped_persist(
            _shingle_pair_counts(prefix, id_col).select("id_a", "id_b").distinct()
        )
        cand_ids = (
            cand.select(F.col("id_a").alias(id_col))
            .union(cand.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        sh_cand = entries.join(cand_ids, id_col, "left_semi")
        ja = _shingle_pair_counts(sh_cand, id_col).join(
            cand, ["id_a", "id_b"], "inner"
        )
    else:
        ja = _shingle_pair_counts(entries, id_col)
    return _jaccard_cut(ja, ("id_a", "id_b"), threshold)


def embedding_near_dup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    hyperplanes: list[list[float]],
    threshold: float = 0.95,
    n_tables: int = 1,
    max_bucket: int | None = 500,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via random-hyperplane LSH.

    ``hyperplanes`` (generated driver-side with a fixed seed) are split
    into ``n_tables`` independent sign-bit signatures; vectors landing in
    the same bucket of ANY table become candidates (multi-table LSH:
    recall 1-(1-p^b)^L for per-bit agreement p — e.g. cos 0.95 with 4
    tables of 8 bits is ~90% vs ~43% single-table). Candidate id-pairs
    are deduped across tables BEFORE the verify, so exact cosine
    (JVM-side ``aggregate``/``zip_with`` math) runs once per pair.
    Precision is exact by construction: every emitted pair carries its
    true cosine and passed ``threshold``.
    Returns ``id_a, id_b, cos_sim``.
    """
    from .similarity import bucketize_hyperplane_tables

    vecs = df.select(F.col(id_col), F.col(vec_col))
    with_buckets = bucketize_hyperplane_tables(
        vecs, vec_col, hyperplanes, n_tables, out="__buckets"
    )
    entries = with_buckets.select(
        F.col(id_col), F.posexplode("__buckets").alias("__table", "__bucket")
    )
    # same skew guard as the MinHash/SimHash banded joins: a degenerate
    # bucket (e.g. many near-zero vectors sharing a signature) would emit
    # |bucket|² candidates; the cap bounds candidates at O(n · max_bucket)
    cand = _bucket_pairs(entries, ["__table", "__bucket"], id_col, max_bucket)
    va = vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            cosine_similarity(F.col("__va"), F.col("__vb")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def jaccard_matches_between(
    new_df: DataFrame,
    old_df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    mode: str = "word",
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard matches of ``new_df`` documents AGAINST an
    existing corpus ``old_df`` — the incremental-ingest shape: a daily
    crawl increment is deduplicated against the historical index without
    ever re-pairing the historical corpus with itself.

    Same inverted-index stages as ``ngram_jaccard_pairs`` (postings
    join keyed on the shingle, exact int64 intersection counts, one float
    division), but the postings join is new×old instead of a self-join:
    candidate volume scales with the increment, not the corpus. At 100 TB
    the historical shingle side is the big, stable relation — partition it
    by shingle once and each increment's join re-uses that layout. The
    stop-shingle guard (``max_doc_freq``, measured over the UNION of both
    sides so the filtered-Jaccard definition is symmetric) bounds hot
    postings exactly as in the self-join variant.

    Returns ``new_id, old_id, jaccard`` (``jaccard >= threshold``).
    """
    e_new, e_old = (
        _shingle_postings(frame, id_col, text_col, mode, shingle_k)
        for frame in (new_df, old_df)
    )
    if max_doc_freq is not None:
        e_new, e_old = _stop_shingle_cap(e_new, id_col, max_doc_freq, e_old)
    ends = ("new_id", "old_id")
    counts = _shingle_pair_counts(e_new, id_col, e_old, ends)
    return _jaccard_cut(counts, ends, threshold)


def _gram_sites(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """Every word ``k``-gram occurrence as ``(id, pos, __g)`` — ``pos`` is
    the 0-based index of the gram's first token. Docs shorter than ``k``
    tokens emit nothing (no padding gram: span semantics are exact)."""
    toks = df.select(F.col(id_col), word_tokens(text_col).alias("__tk"))
    grams = F.when(
        F.size("__tk") >= k,
        F.transform(
            F.sequence(F.lit(0), F.size("__tk") - k),
            lambda i: F.concat_ws(" ", F.slice(F.col("__tk"), i + 1, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toks.select(F.col(id_col), F.posexplode(grams).alias("pos", "__g"))


def _dup_gram_hits(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    min_sites: int,
) -> DataFrame:
    """Flagged gram positions ``(id, pos)``: every site whose gram occurs
    at >= ``min_sites`` (doc, pos) sites corpus-wide — the shared front
    half of the span GROUP/PROFILE/APPLY faces (one definition, so a
    predicate change lands in all three at once).

    The exchange is keyed on the exact gram string, which the DuckDB
    oracle replicates. At petabyte scale a 128-bit hash of the gram
    would cut the shuffle width (16 bytes per site instead of ~30-60 at
    k=5) at collision odds ~n²/2^128; no registered query needs it.
    """
    # r13: count-over-window formulation — ONE gram-keyed exchange; the
    # >= min_sites predicate is a window count partitioned by the gram,
    # so no site ARRAY is ever materialized (the r12 grouped-postings
    # shape collected every (doc, pos) site of a gram into one
    # aggregation row with no upper bound — a corpus-wide stop-gram
    # would build a multi-GB array; ADVICE r12). The window's per-gram
    # buffer spills to disk past the spill threshold, the surviving
    # sites are already rows (no explode back out), and the (id, pos)
    # output set is identical by construction. The r12 shape itself
    # replaced a count aggregation + left-semi join that shuffled the
    # sites twice more and recomputed the gram explode.
    from pyspark.sql import Window as W

    sites = _gram_sites(df, id_col, text_col, k)
    wc = F.count(F.lit(1)).over(W.partitionBy(F.col("__g")))
    return (
        sites.withColumn("__ns", wc)
        .filter(F.col("__ns") >= min_sites)
        .select(F.col(id_col), "pos")
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_sites: int = 2,
) -> DataFrame:
    """Exact duplicated-substring spans, the distributed face of
    suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): every maximal token
    span whose constituent word ``k``-grams ALL occur at >= ``min_sites``
    (doc, pos) sites corpus-wide.

    Two bounded shuffles, never pairwise:
    1. gram sites -> count over a window partitioned by the gram
       (:func:`_dup_gram_hits`; a gram in a million docs costs one
       counter per site, not a million-squared pair set, and no site
       array is built);
    2. per-doc gaps-and-islands window (hashpartitioning by doc, no
       data-wide sort): consecutive duplicated gram positions merge into
       one maximal span of ``max - min + k`` tokens.

    Output: ``(id_col, span_start, span_len)`` -- 0-based first-token
    index and token length of each maximal duplicated span. Exact: the
    reference implementation for the sampled-suffix variants.
    """
    from pyspark.sql import Window as W

    hits = _dup_gram_hits(df, id_col, text_col, k, min_sites)
    w = W.partitionBy(id_col).orderBy("pos")
    isl = hits.withColumn("__grp", F.col("pos") - F.row_number().over(w))
    return (
        isl.groupBy(id_col, "__grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") - F.min("pos") + F.lit(k)).cast("long").alias("span_len"),
        )
        .select(id_col, "span_start", "span_len")
    )


def duplicate_span_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_sites: int = 2,
) -> DataFrame:
    """Per-document duplication profile over :func:`duplicate_spans`'
    pipeline: ``(id, n_grams, dup_grams, n_spans, max_span_len)`` for
    EVERY input document (zeros when nothing is duplicated).

    ``dup_grams / n_grams`` is the standard memorization-risk score used
    to gate training mixtures. One chain -- sites are aggregated twice
    only at the (doc, island) level, which is already tiny; the document
    scan runs twice (once for the per-doc gram count, once for the
    sites), both narrow pruned projections -- at 100 TB recomputing a
    projection beats persisting a corpus-sized token table.
    """
    from pyspark.sql import Window as W

    toks = df.select(F.col(id_col), word_tokens(text_col).alias("__tk"))
    base = toks.select(
        F.col(id_col),
        F.greatest(F.size("__tk") - (k - 1), F.lit(0)).cast("long").alias("n_grams"),
    )
    hits = _dup_gram_hits(df, id_col, text_col, k, min_sites)
    w = W.partitionBy(id_col).orderBy("pos")
    isl = hits.withColumn("__grp", F.col("pos") - F.row_number().over(w))
    spans = isl.groupBy(id_col, "__grp").agg(
        F.count(F.lit(1)).alias("__n_pos"),
        (F.max("pos") - F.min("pos") + F.lit(k)).alias("__span_len"),
    )
    prof = spans.groupBy(id_col).agg(
        F.sum("__n_pos").cast("long").alias("dup_grams"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.max("__span_len").cast("long").alias("max_span_len"),
    )
    return (
        base.join(prof, id_col, "left")
        .select(
            id_col,
            "n_grams",
            F.coalesce("dup_grams", F.lit(0)).alias("dup_grams"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("max_span_len", F.lit(0)).alias("max_span_len"),
        )
    )


def strip_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_sites: int = 2,
) -> DataFrame:
    """The APPLY face of :func:`duplicate_spans` — rewrite every document
    with its duplicated spans cut out (Lee et al. 2022 cut the
    duplicated suffix-array ranges the same way; policy here: cut EVERY
    duplicated token, symmetric across the sites — simple,
    deterministic, and engine-replicable, vs. the paper's
    keep-one-occurrence which needs a global tie-break).

    A token is cut when ANY k-gram covering it is duplicated: flagged
    gram position ``p`` covers tokens ``[p, p+k-1]``, so the cut set is
    the union of those intervals — computed exactly by exploding each
    flagged position to its k token indexes and de-duplicating (bounded
    by the doc's token count, no interval-merge window needed).

    Output: ``(id, kept_tokens, clean_text)`` for EVERY input document
    (empty string when everything was duplicated). Reassembly is a
    per-doc ``collect_list`` + sort — state bounded by single-document
    length, the same bound any per-doc text operator carries.
    """
    hits = _dup_gram_hits(df, id_col, text_col, k, min_sites)
    cut = hits.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))).alias(
            "tpos"
        ),
    ).distinct()
    toks = df.select(
        F.col(id_col), F.posexplode(word_tokens(text_col)).alias("tpos", "tok")
    )
    clean = toks.join(cut, [id_col, "tpos"], "left_anti")
    rebuilt = clean.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("kept_tokens"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("clean_text"),
    )
    return (
        df.select(F.col(id_col))
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    max_df: int = 100,
    threshold: float = 0.3,
    scale: int = 1000,
) -> DataFrame:
    """Sparse TF-IDF cosine similarity pairs over word shingles — the
    inverted-index counterpart of the dense-embedding ANN tier (no
    vectors needed, exact scores, bag-of-shingles semantics).

    Determinism is by CONSTRUCTION, not hope: the raw tf-idf weight (a
    per-row double chain on int64 inputs, identical cross-engine like
    ``tf_idf``'s) is quantized to an int64 at ``scale`` decimal-ish
    precision, so dot products and squared norms are EXACT integer sums
    (order-independent under any partitioning) and the final cosine is
    one IEEE sqrt+multiply+divide chain on exact integers — bit-identical
    in DuckDB. Quantization IS the operator's semantics (documented),
    the price of an accumulation-order-free distributed float metric.

    Scale posture mirrors ``ngram_jaccard_pairs``: candidate pairs come
    only from shared postings; ``max_df`` drops stop-shingles whose
    postings would square into the pair count while contributing ~zero
    idf weight. Overflow bound: ``w <= tf_max * idf_max * scale``; at
    scale=1000 a 10^4-token doc with idf<=35 keeps ``w^2`` sums far
    inside int64 for any real corpus (w ~ 3.5e8 only if ONE shingle
    fills the whole doc — then the postings list is trivial anyway).

    Output: ``(id_a, id_b, cosine)`` with ``id_a < id_b``, cosine
    rounded to 6 places, pairs at ``cosine >= threshold``.
    """
    sh = df.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), shingle_k)).alias("__term"),
    )
    tf = sh.groupBy(id_col, "__term").agg(F.count(F.lit(1)).alias("__tf"))
    dfreq = tf.groupBy("__term").agg(F.count(F.lit(1)).alias("__df"))
    kept = dfreq.filter(F.col("__df") <= max_df)
    n_docs = df.select(F.count_distinct(F.col(id_col)).alias("__n_docs"))
    idf = (
        F.log((F.col("__n_docs") + F.lit(1.0)) / (F.col("__df") + F.lit(1.0)))
        + F.lit(1.0)
    )
    w = (
        tf.join(kept, "__term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "__term",
            F.round(F.col("__tf") * idf * F.lit(float(scale)), 0)
            .cast("long")
            .alias("__wi"),
        )
    )
    w = scoped_persist(w)  # consumed by norms AND the postings pass
    norms = w.groupBy(id_col).agg(F.sum(F.col("__wi") * F.col("__wi")).alias("__n2"))
    # postings-list pair dot products (same move as ngram_jaccard_pairs):
    # one term-keyed exchange groups each posting list, weighted pairs are
    # generated postings-locally, replacing the term-keyed self-join that
    # shuffled w twice more. max_df bounds every postings array.
    posts = (
        w.groupBy("__term")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col(id_col).alias("i"), F.col("__wi").alias("w"))
                )
            ).alias("__m")
        )
        .filter(F.size("__m") >= 2)
    )
    dots = (
        _posting_tail_pairs(posts.select("__m"))
        .groupBy(F.col("__ea.i").alias("id_a"), F.col("__eb.i").alias("id_b"))
        .agg(F.sum(F.col("__ea.w") * F.col("__eb.w")).alias("__dot"))
    )
    na = norms.select(F.col(id_col).alias("id_a"), F.col("__n2").alias("__na2"))
    nb = norms.select(F.col(id_col).alias("id_b"), F.col("__n2").alias("__nb2"))
    cos = (
        F.col("__dot").cast("double")
        / (F.sqrt(F.col("__na2").cast("double")) * F.sqrt(F.col("__nb2").cast("double")))
    )
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= F.lit(threshold))
    )

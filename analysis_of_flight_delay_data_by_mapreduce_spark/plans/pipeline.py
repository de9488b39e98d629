"""End-to-end training-data preparation pipeline (extension tier).

Composes the extension operators into the canonical pretraining-data flow:

    score → filter → exact-dedup → near-dedup → select survivors

One declarative plan: Catalyst fuses the narrow stages (scoring, filtering,
fingerprinting run in the scan pass), and the only shuffles are the dedup
aggregations/joins. ``prepare_corpus*`` return the cleaned corpus;
``prepare_corpus_audit`` returns the lineage face — every input document
with the reason it survived or fell — the pair a 100 TB data-curation job
materializes back to Parquet, partitioned by shard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.cache import scoped_persist
from ..operators.dedup import exact_dedup, minhash_lsh_dedup, ngram_jaccard_pairs
from ..operators.graph import dedup_clusters
from ..operators.text import fingerprint, quality_score

__all__ = [
    "prepare_corpus",
    "prepare_corpus_cc",
    "prepare_corpus_cc_best",
    "prepare_corpus_semantic",
    "prepare_corpus_audit",
]


def _best_by_quality(df: DataFrame, key: str, id_col: str) -> DataFrame:
    """The id of the highest-``quality`` row per ``key`` group (ties →
    smallest id), as one order-insensitive ``max(struct)`` aggregate —
    no window, no whole-group sort, one shuffle on the group key. The
    argmax is deterministic because ``quality`` is a pure 6-dp-rounded
    function of the text (bit-identical across engines — pinned by the
    corpus_prepare_cc hash) and equal scores resolve by id."""
    return (
        df.groupBy(key)
        .agg(
            F.max(
                F.struct(F.col("quality").alias("q"), (-F.col(id_col)).alias("negid"))
            ).alias("__w")
        )
        .select((-F.col("__w.negid")).alias(id_col))
    )


def _exact_survivors(
    docs: DataFrame, id_col: str, text_col: str, min_quality: float
) -> DataFrame:
    """The shared front of the pipelines: quality gate → normalized-text
    fingerprint → exact dedup (smallest id per ``fp`` survives), as the
    scored rows (``quality`` and ``fp`` attached) of the survivors.
    Callers persist it: each feeds it to several consumers."""
    scored = quality_score(docs, text_col).filter(F.col("quality") >= min_quality)
    scored = fingerprint(scored, text_col)
    exact_survivors = exact_dedup(scored, ["fp"], id_col)
    return scored.join(exact_survivors, [id_col, "fp"], "left_semi")


def prepare_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    near_dup_jaccard: float = 0.5,
) -> DataFrame:
    """Clean + dedup a document corpus.

    Returns the surviving documents with ``quality`` attached. Drops, in
    order: low-quality rows (score < ``min_quality``), exact duplicates
    (same normalized-text fingerprint — smallest id survives), near
    duplicates (MinHash-LSH candidates verified at ``near_dup_jaccard`` —
    the smaller id of each verified pair survives).
    """
    # `kept` feeds three consumers (minhash signatures, the verify pass,
    # the final anti join) — persist so the scoring+fingerprint scan runs
    # once. Narrow columns only; at scale this is a checkpointed shard.
    kept = scoped_persist(_exact_survivors(docs, id_col, text_col, min_quality))

    near_pairs = minhash_lsh_dedup(
        kept,
        id_col,
        text_col,
        num_hashes=32,
        bands=8,
        shingle_k=3,
        mode="word",
        verify_jaccard=near_dup_jaccard,
    )
    # drop the larger id of each verified near-dup pair
    losers = near_pairs.select(F.col("id_b").alias(id_col)).distinct()
    cleaned = kept.join(losers, id_col, "left_anti")
    return cleaned.select(id_col, text_col, "quality")


def prepare_corpus_cc(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    near_dup_jaccard: float = 0.5,
) -> DataFrame:
    """``prepare_corpus`` with the standard near-dedup survivor rule:
    EXACT n-gram-Jaccard pairs → connected-components closure → keep the
    minimum id of each near-dup CLUSTER. The pairwise drop-the-larger
    rule decides each pair independently (docs 2 and 3 both similar to 5
    but not to each other both survive); the closure treats near-
    duplication as a cluster relation and keeps exactly one doc per
    cluster — the production convention. Every stage is deterministic and
    SQL-expressible, so — unlike the MinHash variant — this composed
    pipeline is value-hash-checked against the DuckDB oracle end-to-end.

    Scale posture (measured, BASELINE.md "sf3 (30x) scale point"): the
    exact pair stage costs Θ(Σ C(df,2)) over shingle document
    frequencies — ~linear on open-vocabulary text, QUADRATIC when the
    shingle space saturates (measured n^2.5 wall at 30x on the
    synthetic corpus, whose ~30k-shingle vocabulary saturates by
    construction). At 100 TB use :func:`prepare_corpus` (MinHash-LSH
    pair stage, measured flat at the same scale points) or pass a
    ``max_doc_freq`` stop-shingle cap into the exact path; this
    function is the exact-semantics correctness witness. The closure is
    min-label propagation either way (``dedup_clusters``; rounds = the
    cluster graph's diameter, ~2-3 for near-dup cliques).
    """
    kept = scoped_persist(_exact_survivors(docs, id_col, text_col, min_quality))

    pairs = ngram_jaccard_pairs(
        kept, id_col, text_col, shingle_k=3, mode="word",
        threshold=near_dup_jaccard,
    ).select("id_a", "id_b")
    clusters = dedup_clusters(kept, pairs, id_col)  # (id, cluster=min of comp)
    survivors = clusters.filter(F.col("cluster") == F.col(id_col)).select(id_col)
    return kept.join(survivors, id_col, "left_semi").select(
        id_col, text_col, "quality"
    )


def prepare_corpus_cc_best(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    near_dup_jaccard: float = 0.5,
) -> DataFrame:
    """``prepare_corpus_cc`` with the QUALITY-survivor policy: instead of
    keeping each duplicate group's minimum id, keep its HIGHEST-quality
    document (ties → smallest id) — the production policy when
    duplicates differ in cleanliness (a well-formatted mirror should
    outlive a mangled scrape of the same page). Applied at BOTH dedup
    stages: exact duplicates share normalized text but can differ in raw
    case/whitespace (→ different quality scores), and a near-dup cluster
    keeps its best member rather than its first-crawled one.

    Same scale shape as ``prepare_corpus_cc`` — the survivor choice is
    one extra ``max(struct(quality, -id))`` aggregate per group (no
    window, no whole-group sort), so the plan cost is unchanged; every
    stage stays deterministic and SQL-expressible, hash-checked
    end-to-end."""
    scored = quality_score(docs, text_col).filter(F.col("quality") >= min_quality)
    scored = fingerprint(scored, text_col)
    exact_best = _best_by_quality(scored, "fp", id_col)
    kept = scoped_persist(scored.join(exact_best, id_col, "left_semi"))

    pairs = ngram_jaccard_pairs(
        kept, id_col, text_col, shingle_k=3, mode="word",
        threshold=near_dup_jaccard,
    ).select("id_a", "id_b")
    clusters = dedup_clusters(kept, pairs, id_col)  # (id, cluster)
    survivors = _best_by_quality(
        clusters.join(kept.select(id_col, "quality"), id_col), "cluster", id_col
    )
    return kept.join(survivors, id_col, "left_semi").select(
        id_col, text_col, "quality"
    )


def prepare_corpus_semantic(
    docs: DataFrame,
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_quality: float = 0.4,
    cos_threshold: float = 0.35,
) -> DataFrame:
    """``prepare_corpus`` with a SEMANTIC near-dedup stage: quality gate →
    exact fingerprint dedup → SemDeDup over the joined embedding column
    (``operators.dedup.semantic_dedup`` — within-centroid-cluster cosine,
    min-id survivor).

    Embeddings join the text survivors by id (LEFT: a document without an
    embedding row cannot be compared, so it survives the semantic stage —
    at 100 TB the embedding table typically trails the crawl, and
    silently dropping unembedded docs would be a correctness bug).
    Output: ``id_col, quality, cluster`` (cluster NULL for unembedded
    survivors). Every stage is deterministic and — with trained-centroid
    literals — SQL-expressible, so the composed pipeline is value-hash-
    checked end-to-end like ``prepare_corpus_cc``.
    """
    from ..operators.dedup import semantic_dedup

    kept = scoped_persist(
        _exact_survivors(docs, id_col, text_col, min_quality).select(
            id_col, "quality"
        )
    )

    vecs = kept.join(
        embeddings.select(
            F.col(vec_id_col).alias(id_col), F.col(vec_col).alias("__vec")
        ),
        id_col,
    )
    sem = semantic_dedup(vecs, id_col, "__vec", centroids, threshold=cos_threshold)
    no_vec = kept.join(
        embeddings.select(F.col(vec_id_col).alias(id_col)), id_col, "left_anti"
    ).select(id_col, F.lit(None).cast("int").alias("cluster"))
    survivors = sem.unionByName(no_vec)
    return kept.join(survivors, id_col).select(id_col, "quality", "cluster")


def prepare_corpus_audit(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    near_dup_jaccard: float = 0.5,
) -> DataFrame:
    """Lineage face of :func:`prepare_corpus_cc`: EVERY input document
    with the reason it survived or fell — the audit table a curation run
    materializes next to the cleaned corpus (drop-rate monitoring,
    appeal/debug of individual documents, stage-level regression diffs).

    ``status`` ∈ ``kept`` / ``low_quality`` (quality gate) /
    ``exact_dup`` (same normalized fingerprint as a smaller-id doc) /
    ``near_dup`` (its near-dup cluster's min id is another doc). Stages
    apply in that order, matching prepare_corpus_cc exactly: the kept
    set here equals its survivor set row-for-row. Same shuffles as the
    pipeline itself plus one marker join per stage — the audit costs a
    constant factor, not a new algorithm.
    """
    scored = fingerprint(quality_score(docs, text_col), text_col)
    qual_ok = scored.filter(F.col("quality") >= min_quality)
    exact_surv = exact_dedup(qual_ok, ["fp"], id_col)
    kept1 = scoped_persist(
        qual_ok.join(exact_surv, [id_col, "fp"], "left_semi")
    )
    pairs = ngram_jaccard_pairs(
        kept1, id_col, text_col, shingle_k=3, mode="word",
        threshold=near_dup_jaccard,
    ).select("id_a", "id_b")
    clusters = dedup_clusters(kept1, pairs, id_col)
    near_losers = clusters.filter(F.col("cluster") != F.col(id_col)).select(
        F.col(id_col), F.lit(True).alias("__near_loser")
    )
    kept1_ids = kept1.select(F.col(id_col), F.lit(True).alias("__kept1"))
    return (
        scored.join(kept1_ids, id_col, "left")
        .join(near_losers, id_col, "left")
        .select(
            id_col,
            "quality",
            F.when(F.col("quality") < min_quality, F.lit("low_quality"))
            .when(F.col("__kept1").isNull(), F.lit("exact_dup"))
            .when(F.col("__near_loser").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
    )

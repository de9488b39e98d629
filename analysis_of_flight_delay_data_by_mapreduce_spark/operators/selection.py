"""Data selection via importance resampling (DSIR, Xie et al.,
NeurIPS 2023): score every raw document by how target-like its hashed
n-gram profile is, then keep the top-weighted slice. This is the
standard pretraining-data selection move — pick web documents whose
token statistics look like a trusted target corpus — expressed
Spark-first.

Architecture (the trained-constants technique shared with the IVF /
BM25 / BPE tiers):

- The two bag-of-hashed-ngrams models (target vs raw) are TRAINED by an
  engine-independent pyarrow twin (``train_dsir_logratios_parquet``) —
  training reduces to two bucket-count vectors, a vocabulary-sized
  artifact, so it does not belong in the per-document distributed plan.
  In production the trainer reads a bounded sample; here it one-passes
  the (tiny) corpus with a column-pruned scan.
- The per-bucket log-likelihood ratios enter BOTH engines as
  INTEGER-SCALED literals (``round(ln(p/q) * 1e6)`` as int64). A
  document's importance weight is then an exact BIGINT dot product of
  its bucket counts with the literal vector — no float summation
  anywhere in the distributed plan, so the Spark/DuckDB hash check is
  bit-exact with no measured-margin caveats (the same reason the
  round-then-sum shape exists, applied to log-space scores).
- Scoring is one narrow projection (tokenize → n-grams → md5 bucket →
  literal lookup) + one partially-aggregated shuffle keyed on the
  document id + a TakeOrderedAndProject top-k. At 100 TB: per-document
  work is linear in the document, the shuffle carries one int64 per
  document, and the top-k never materializes a global sort.

Feature hashing uses md5 (not xxhash64) deliberately: the bucket
assignment must reproduce outside the JVM — in the DuckDB oracle and in
the pyarrow twin — and md5 is the one hash all three share bit-for-bit
(the ``docs_hash_split`` convention). It runs once per n-gram inside a
single whole-stage-codegen'd Project, the CSE-safe position (the
md5-in-Filter trap, where FilterExec re-evaluates the hash per probe,
does not apply here).
"""

from __future__ import annotations

import hashlib
import math
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import word_tokens

__all__ = [
    "dsir_importance_topk",
    "dsir_scores",
    "dsir_scores_agg",
    "dsir_select",
    "hashed_ngram_features",
    "train_dsir_logratios_parquet",
    "weighted_sample_merge",
    "weighted_sample_topk",
]

#: Java's \s character class (ASCII-only), the tokenizer contract shared
#: with operators.text / the BPE twin — Python's Unicode-aware \s would
#: disagree on '\xa0'-style whitespace.
_JAVA_WS = "[ \t\n\x0b\f\r]+"


def hashed_ngram_features(tokens: Column) -> Column:
    """Unigram + adjacent-bigram feature strings of a tokens array
    column. Bigrams are space-joined ("a b"), built over the
    MATERIALIZED tokens column ref (never re-tokenizing inside the
    lambda — the HOF no-CSE rule). ``sequence(1, 0)`` counts DOWN in
    Spark, hence the explicit empty branch for 0/1-token documents."""
    bigrams = F.when(
        F.size(tokens) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(tokens) - 1),
            lambda i: F.concat_ws(
                " ",
                F.element_at(tokens, i.cast("int")),
                F.element_at(tokens, (i + 1).cast("int")),
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    return F.concat(tokens, bigrams)


def _bucket(feature: Column, n_buckets: int) -> Column:
    """md5-based feature bucket, bit-identical in Spark / DuckDB /
    Python: first 8 hex digits as an integer, mod ``n_buckets``. The
    8-digit prefix fits a BIGINT (max 0xFFFFFFFF), so no sign games."""
    return (
        F.conv(F.substring(F.md5(feature), 1, 8), 16, 10).cast("bigint")
        % F.lit(n_buckets)
    )


def dsir_scores(
    df: DataFrame, id_col: str, text_col: str, logratios: list[int]
) -> DataFrame:
    """Per-document DSIR importance weight as a ZERO-SHUFFLE projection.

    ``logratios[b]`` is the integer-scaled target/raw log-likelihood
    ratio of hashed-n-gram bucket ``b`` (from
    ``train_dsir_logratios_parquet``). The weight is the exact BIGINT
    sum of the document's features' bucket ratios, folded per row with
    ``F.aggregate`` — no explode, no shuffle (A/B at sf0.1: 1.01s vs
    1.31s for explode+groupBy, identical values). The md5+lookup inside
    the lambda is inherent per-ELEMENT work over a materialized features
    array (the HOF no-CSE rule is about per-ROW expressions; the tokens
    column below stays un-collapsed because CollapseProject keeps
    non-cheap expressions referenced more than once). Zero-token /
    NULL-text documents score 0 — a neutral likelihood ratio, ranking
    above negative (off-target) evidence and below positive.

    Output: ``(id_col, dsir_score)``, one row per input row.
    """
    lr = F.array(*[F.lit(int(v)).cast("bigint") for v in logratios])
    toks = df.select(
        F.col(id_col), word_tokens(F.col(text_col)).alias("__toks")
    )
    feats = toks.select(
        id_col, hashed_ngram_features(F.col("__toks")).alias("__f")
    )
    score = F.aggregate(
        F.col("__f"),
        F.lit(0).cast("bigint"),
        lambda a, x: a
        + F.element_at(lr, (_bucket(x, len(logratios)) + 1).cast("int")),
    )
    return feats.select(
        id_col, F.coalesce(score, F.lit(0).cast("bigint")).alias("dsir_score")
    )


def dsir_scores_agg(
    df: DataFrame, id_col: str, text_col: str, logratios: list[int]
) -> DataFrame:
    """Explode+groupBy variant of :func:`dsir_scores` — same values for
    every document with ≥1 feature, but zero-feature documents are
    ABSENT (no rows survive the explode) instead of scoring 0.

    Exists for consumers that FILTER on the score: a filter above this
    aggregate evaluates the materialized ``dsir_score`` column once,
    whereas a filter above the fold face would be pushed through the
    Project with the whole fold substituted into the predicate
    (PushDownPredicates + no cross-operator CSE — the repo's third
    no-CSE trap face), scoring every document twice. Costs one
    partial-aggregated shuffle keyed on ``id_col``.
    """
    lr = F.array(*[F.lit(int(v)).cast("bigint") for v in logratios])
    toks = df.select(
        F.col(id_col), word_tokens(F.col(text_col)).alias("__toks")
    )
    feats = toks.select(
        id_col, F.explode(hashed_ngram_features(F.col("__toks"))).alias("__f")
    )
    scored = feats.select(
        id_col,
        F.element_at(
            lr, (_bucket(F.col("__f"), len(logratios)) + 1).cast("int")
        ).alias("__lr"),
    )
    return scored.groupBy(id_col).agg(F.sum("__lr").alias("dsir_score"))


def dsir_select(
    df: DataFrame,
    id_col: str,
    text_col: str,
    logratios: list[int],
    min_score: int,
) -> DataFrame:
    """Documents whose DSIR weight clears ``min_score`` — the selection
    face a pipeline composes (batch or per micro-batch inside
    ``foreachBatch``). Requires ``min_score > 0`` so the two scorer
    faces agree (zero-feature documents score 0 in the fold face and
    are absent from the agg face; a positive threshold excludes them
    either way). Built on the AGG face so the filter evaluates the
    materialized score once (see :func:`dsir_scores_agg`).

    Output: every ``df`` column plus ``dsir_score``.
    """
    if min_score <= 0:
        raise ValueError(
            f"min_score must be positive (got {min_score}): at 0 the "
            "fold and agg faces disagree on zero-feature documents"
        )
    scored = dsir_scores_agg(df, id_col, text_col, logratios).filter(
        F.col("dsir_score") >= F.lit(int(min_score))
    )
    return df.join(scored, id_col)


def dsir_importance_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    logratios: list[int],
    k: int,
) -> DataFrame:
    """Top-``k`` documents by DSIR importance weight (the resampling
    pass's deterministic face): :func:`dsir_scores` + ties broken by id
    ascending so the ``LIMIT`` cutoff is engine-stable. Plans as one
    narrow zero-shuffle projection + ``TakeOrderedAndProject`` —
    per-partition heaps, no global sort, no shuffle at all.

    Output: ``(id_col, dsir_score)``, score descending.
    """
    return (
        dsir_scores(df, id_col, text_col, logratios)
        .orderBy(F.col("dsir_score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def train_dsir_logratios_parquet(
    parquet_path: str,
    text_col: str,
    target_col: str,
    target_value: str,
    n_buckets: int = 64,
    scale: int = 1_000_000,
) -> list[int]:
    """Engine-independent DSIR trainer (the pyarrow twin, same contract
    as ``train_ivf_centroids_parquet`` / ``train_bpe_merges_parquet``):
    hashed-n-gram bucket counts for the target slice
    (``target_col == target_value``) and for the full raw corpus, both
    add-one smoothed, returned as integer-scaled per-bucket
    log-likelihood ratios ``round(ln(p_b / q_b) * scale)``.

    The only floats live HERE, computed once driver-side; the
    distributed plan and the SQL oracle consume the rounded integers.
    Column-pruned scan of (text, target) only; memory is two
    ``n_buckets`` vectors regardless of corpus size.
    """
    import pyarrow.dataset as pads

    tgt = [0] * n_buckets
    raw = [0] * n_buckets
    ds = pads.dataset(parquet_path)
    scanner = ds.scanner(columns=[text_col, target_col], batch_size=1 << 14)
    for batch in scanner.to_batches():
        texts = batch.column(0).to_pylist()
        labels = batch.column(1).to_pylist()
        for txt, lab in zip(texts, labels):
            if not txt:
                continue
            toks = [t for t in re.split(_JAVA_WS, txt) if t]
            feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
            is_tgt = lab == target_value
            for f in feats:
                b = int(hashlib.md5(f.encode("utf-8")).hexdigest()[:8], 16) % (
                    n_buckets
                )
                raw[b] += 1
                if is_tgt:
                    tgt[b] += 1
    t_tot = sum(tgt) + n_buckets
    r_tot = sum(raw) + n_buckets
    return [
        round(
            (math.log((tgt[b] + 1) / t_tot) - math.log((raw[b] + 1) / r_tot))
            * scale
        )
        for b in range(n_buckets)
    ]


def weighted_sample_topk(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    weight_col: str,
    k: int,
    key_scale: int = 10**6,
    salt: str = "aes1",
    out_key: str = "key_micro",
) -> DataFrame:
    """Weighted random sampling without replacement (Efraimidis &
    Spirakis 2006, algorithm A-ES): keep the ``k`` rows per group with
    the largest ``u^(1/w)`` where ``u ~ U(0,1]`` — equivalently the
    largest ``ln(u)/w``. Inclusion probability is proportional to the
    weight, the draw is a pure function of the row id (never ``rand()``
    — stable across runs, engines and partitionings, the
    ``docs_reservoir_sample`` convention weighted), and the selection is
    mergeable: the top-k of a union is computable from per-partition
    top-ks, so at 100 TB this is one ``topk_per_group`` pass, no global
    sort.

    Cross-engine determinism: ``u = (md5_52bits(salt || id) + 1) / 2^52``
    is bit-identical in Spark/DuckDB/Python (md5 + exact power-of-two
    division); the only float op is one ``ln`` per row (ulp-class
    engine difference), neutralized by quantizing the key to
    ``key_scale`` units (micro by default) before ranking —
    ``round(ln(u) * key_scale / w)`` as BIGINT — with the boundary
    margin measured by ``tools/measure_margins.py``. Quantization ties
    rank deterministically by ``id_col`` in both engines.

    Rows with non-positive or NULL weight are excluded (they have zero
    inclusion probability in A-ES). Output: input columns + ``out_key``
    (the BIGINT key) + ``rk`` (1-based rank within the group).
    """
    from .aggregates import topk_per_group

    w = F.col(weight_col)
    bits = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 13
        ),
        16,
        10,
    ).cast("bigint")
    u = (bits.cast("double") + F.lit(1.0)) / F.lit(float(1 << 52))
    key = (
        F.round(F.log(u) * F.lit(float(key_scale)) / w.cast("double"))
        .cast("bigint")
        .alias(out_key)
    )
    keyed = df.filter(w.isNotNull() & (w > 0)).withColumn(out_key, key)
    return topk_per_group(
        keyed, group_cols, out_key, k, tiebreak=id_col, descending=True
    )


def weighted_sample_merge(
    parts: list[DataFrame],
    group_cols: list[str],
    id_col: str,
    k: int,
    key_col: str = "key_micro",
) -> DataFrame:
    """Merge per-partition A-ES selections into the selection of the
    union — the mergeability that makes :func:`weighted_sample_topk` a
    one-pass 100 TB operator and a bounded-state streaming one: a row in
    the union's top-k is in the top-k of whichever part carried it
    (keys are pure per-row functions), so re-ranking the union of
    survivor sets (``|parts| × groups × k`` rows, never data-sized)
    loses nothing. Duplicate ids across parts (epoch replay, overlapping
    shards) collapse first — the merge is idempotent. Inputs must carry
    ``key_col`` from :func:`weighted_sample_topk` (its ``rk`` is
    recomputed here).

    Duplicate resolution is DETERMINISTIC (ADVICE r8): duplicates of an
    id collapse to the single row with the max ``key_col`` (ties by the
    remaining columns), taken atomically via max-of-struct — so a
    re-ingested id whose weight changed across parts/epochs resolves
    the same way on every run and every cluster layout. In the normal
    case (duplicates bit-identical — the key is a pure function of id
    and weight) this is exactly the old collapse; when weights DO
    conflict, the max-key row is the selection-favorable one, which may
    legitimately differ from a fresh selection computed from only the
    latest weights — re-ingestion with changed weights should rebuild,
    not merge."""
    from functools import reduce

    from .aggregates import topk_per_group

    u = reduce(lambda a, b: a.unionByName(b), parts).drop("rk")
    others = [c for c in u.columns if c not in set(group_cols) | {id_col}]
    ordered = [key_col] + [c for c in others if c != key_col]
    dedup = u.groupBy(*group_cols, id_col).agg(
        F.max(F.struct(*ordered)).alias("__row")
    )
    dedup = dedup.select(
        *group_cols, id_col, *[F.col(f"__row.{c}").alias(c) for c in ordered]
    )
    return topk_per_group(
        dedup, group_cols, key_col, k, tiebreak=id_col, descending=True
    )

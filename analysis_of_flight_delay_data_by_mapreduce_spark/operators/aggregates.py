"""Generic aggregation operators covering the reference's entire relational
surface (SURVEY.md §2.2-§2.3), expressed as reusable DataFrame transforms.

The reference hard-codes each of these inside a mapper/reducer pair with
hand-rolled partial aggregation ("in-mapper combining",
``Program/Delay.java:22-28``) and a bounded-memory flush
(``FLUSH_SIZE=1000``, ``Program/Delay.java:40``). On Spark both are free:
``HashAggregateExec`` always runs a partial (map-side) pass before the
shuffle and spills when memory is tight — so every function below is a
single-shuffle plan at any scale, with filters/projections pushed into the
Parquet scan by Catalyst.

Scale notes (100 TB posture):
- every operator here is one ``groupBy`` → exactly one shuffle, keyed on the
  output key, partial-aggregated map-side;
- no ``collect()``, no driver-side state, no Python UDFs;
- conditional (pivoted) aggregates evaluate in one pass over the data
  (reference optimization O8) — Catalyst keeps all accumulators in a single
  ``HashAggregateExec``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import safe_div, weighted_rounded, word_tokens

__all__ = [
    "weighted_mean_by",
    "pivoted_weighted_mean",
    "ratio_threshold",
    "token_counts",
    "repeated_within",
    "duplicate_within",
]


def _cols(keys: Sequence[str | Column]) -> list[Column]:
    return [F.col(k) if isinstance(k, str) else k for k in keys]


def weighted_mean_by(
    df: DataFrame,
    keys: Sequence[str | Column],
    weight: str | Column,
    value: str | Column,
    out: str = "wmean",
) -> DataFrame:
    """Flight-count-weighted mean with the reference's round-then-sum
    semantics: ``SUM(ROUND(w*v)) / SUM(w)`` per group (SURVEY §2.3 A8,
    ``Program/Delay.java:190``). NULL (not NaN/error) when the group weight
    is zero (§2.7.3)."""
    w = F.col(weight) if isinstance(weight, str) else weight
    num = F.sum(weighted_rounded(w, value))
    den = F.sum(F.round(w, 0).cast("long"))
    return df.groupBy(*_cols(keys)).agg(safe_div(num, den).alias(out))


def pivoted_weighted_mean(
    df: DataFrame,
    keys: Sequence[str | Column],
    weight: str | Column,
    value: str | Column,
    flag: str | Column,
    match: str,
    out_match: str,
    out_other: str,
) -> DataFrame:
    """The Delay job's shape (SURVEY §2.3 A5+A8): one pass maintaining four
    accumulators selected by a flag column — weighted mean of ``value`` for
    rows where ``flag == match`` and, separately, for ALL other rows.

    Faithful fine print: the reference buckets on ``flag != 'A'`` for the
    "departure" side (else-branch, ``Program/Delay.java:80-84``), not
    ``== 'D'`` — replicated here via the otherwise-bucket. A group with no
    rows on one side gets NULL for that side (§2.7.3).

    One ``HashAggregateExec``, one shuffle; Catalyst computes all four
    conditional sums in the same pass (reference optimization O8).
    """
    w = F.col(weight) if isinstance(weight, str) else weight
    fl = F.col(flag) if isinstance(flag, str) else flag
    hit = fl == match
    wd = weighted_rounded(w, value)
    wl = F.round(w, 0).cast("long")
    zero = F.lit(0).cast("long")
    agg = df.groupBy(*_cols(keys)).agg(
        F.sum(F.when(hit, wd).otherwise(zero)).alias("__m_sum"),
        F.sum(F.when(hit, wl).otherwise(zero)).alias("__m_cnt"),
        F.sum(F.when(~hit, wd).otherwise(zero)).alias("__o_sum"),
        F.sum(F.when(~hit, wl).otherwise(zero)).alias("__o_cnt"),
    )
    key_names = [c for c in agg.columns if not c.startswith("__")]
    return agg.select(
        *key_names,
        safe_div(F.col("__m_sum"), F.col("__m_cnt")).alias(out_match),
        safe_div(F.col("__o_sum"), F.col("__o_cnt")).alias(out_other),
    )


def ratio_threshold(
    df: DataFrame,
    keys: Sequence[str | Column],
    num: Column,
    den: Column,
    theta: float,
    out: str = "ratio",
) -> DataFrame:
    """The Late job's shape (SURVEY §2.3 A9): per-group ratio of sums with a
    HAVING threshold — keep groups where ``SUM(num)/SUM(den) >= theta``.

    ``num``/``den`` are per-row column expressions (already rounded if the
    round-then-sum semantics apply). The zero-denominator guard matches
    ``Program/Late.java:172``; the boundary is ``>=`` (``:175`` — a group at
    exactly ``theta`` is KEPT).
    """
    agg = df.groupBy(*_cols(keys)).agg(
        F.sum(num).alias("__num"), F.sum(den).alias("__den")
    )
    ratio = F.col("__num").cast("double") / F.col("__den").cast("double")
    kept = agg.filter((F.col("__den") > 0) & (ratio >= F.lit(theta)))
    key_names = [c for c in agg.columns if not c.startswith("__")]
    return kept.select(*key_names, ratio.alias(out))


def token_counts(df: DataFrame, col: str | Column, out: str = "cnt") -> DataFrame:
    """WordCount (SURVEY §2.6 Q3): whitespace-tokenize ``col``, count per
    token. ``explode`` + ``count`` — the partial count runs map-side (the
    reference needed an explicit combiner, ``WordCount.java:55``)."""
    return (
        df.select(F.explode(word_tokens(col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias(out))
    )


def repeated_within(
    df: DataFrame,
    keys: Sequence[str | Column],
    min_count: int = 2,
    out: str = "n",
) -> DataFrame:
    """WebLog1 (SURVEY §2.3 A10): groups occurring at least ``min_count``
    times — ``GROUP BY keys HAVING COUNT(*) >= k``."""
    return (
        df.groupBy(*_cols(keys))
        .agg(F.count(F.lit(1)).alias(out))
        .filter(F.col(out) >= min_count)
    )


def duplicate_within(
    df: DataFrame,
    keys: Sequence[str | Column],
    col: str | Column,
    n_out: str = "n",
    d_out: str = "n_distinct",
) -> DataFrame:
    """WebLog2 (SURVEY §2.3 A11): groups in which some value of ``col``
    repeats — ``COUNT(*) > COUNT(DISTINCT col)`` per group.

    The reference hand-rolls a HashSet with early exit
    (``WebLog2.java:55-64``); the count-vs-countDistinct form is one
    aggregate pass (countDistinct plans as a two-stage partial agg — still a
    single logical shuffle chain, no join)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        df.groupBy(*_cols(keys))
        .agg(
            F.count(F.lit(1)).alias(n_out),
            F.countDistinct(c).alias(d_out),
        )
        .filter(F.col(n_out) > F.col(d_out))
    )


def topk_per_group(
    df: DataFrame,
    keys: Sequence[str | Column],
    order_col: str,
    k: int,
    tiebreak: str | None = None,
    descending: bool = True,
    n_salts: int | None = 32,
    out: str = "rk",
) -> DataFrame:
    """Top-``k`` rows per group, skew-safe for LOW-cardinality group keys.

    The naive ``row_number() OVER (PARTITION BY keys ORDER BY …)`` sorts
    every group inside one task — with a handful of group values (e.g. 5
    sources over a 100 TB corpus) that is a few tasks sorting everything.
    Two salted phases fix it without changing the result:

    1. rank within ``(keys, salt)`` where salt = ``xxhash64(tiebreak) %
       n_salts`` — parallelism ``|keys| × n_salts``, keep ``rk <= k``;
    2. rank the surviving ``<= k × n_salts`` rows per group — bounded
       input, the only per-group sort that remains.

    Any row in the true top-k is in the top-k of its salt bucket, so
    phase 1 never drops a winner. Ties order deterministically by
    ``tiebreak`` (required for result stability across partitionings —
    also the salt input, so salting is deterministic). ``n_salts=None``
    degrades to the single-phase window (fine for high-cardinality
    keys, where groups are small and parallelism comes from the keys).
    Output: input columns + ``out`` (1-based rank within the group).
    """
    from pyspark.sql import Window as W

    if tiebreak is None:
        raise ValueError("topk_per_group needs a deterministic tiebreak column")
    oc = F.col(order_col).desc() if descending else F.col(order_col).asc()
    order = [oc, F.col(tiebreak).asc()]
    kc = _cols(keys)
    if n_salts is not None:
        salt = F.pmod(F.xxhash64(F.col(tiebreak)), F.lit(n_salts))
        w1 = W.partitionBy(*kc, salt).orderBy(*order)
        df = (
            df.withColumn("__srk", F.row_number().over(w1))
            .filter(F.col("__srk") <= k)
            .drop("__srk")
        )
    w2 = W.partitionBy(*kc).orderBy(*order)
    return df.withColumn(out, F.row_number().over(w2)).filter(F.col(out) <= k)

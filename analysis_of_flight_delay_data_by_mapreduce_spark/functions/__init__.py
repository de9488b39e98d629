"""Scalar/array column expressions used across operators.

Everything here is a Catalyst ``Column`` expression built from
``pyspark.sql.functions`` — JVM-side, whole-stage-codegen'd, no Python row
UDFs. These stay on the fast path at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "weighted_rounded",
    "safe_div",
    "year_of_period",
    "word_tokens",
    "char_ngrams",
    "word_shingles",
    "dot",
    "l2_norm",
    "cosine_similarity",
]


def weighted_rounded(weight: Column | str, value: Column | str) -> Column:
    """``round(weight * value)`` as a 64-bit int, computed PER ROW.

    This is the reference's round-then-sum semantics: both jobs round
    ``flights × rate`` to an integer before accumulating
    (``Program/Delay.java:78``, ``Program/Late.java:61``; SURVEY §2.7.1).
    ``F.round`` is HALF_UP, matching Java ``Math.round`` for the
    non-negative inputs these pipelines see (SURVEY §2.7.2). Summing exact
    int64 partials (instead of floats) also makes the aggregate
    bit-deterministic regardless of partitioning — important for
    oracle-differential testing at any shuffle layout.
    """
    w = F.col(weight) if isinstance(weight, str) else weight
    v = F.col(value) if isinstance(value, str) else value
    return _round_half_up(w * v)


def _round_half_up(x: Column) -> Column:
    """``F.round(x, 0).cast("long")`` without a ``BigDecimal`` per row.

    On a double, ``F.round`` rounds ``BigDecimal(Double.toString(x))``
    HALF_UP (away from zero), which is exact but costs a third of the CPU
    of ``q1_delay``. ``rint`` rounds ties to even instead, and ``x - rint(x)``
    is exact, so a tie is seen exactly and moved away from zero. The long
    is the same for NULL and every finite double, and the cast is the
    same, so a value outside the long range raises as before.
    ``floor(abs(x) + 0.5)`` is not exact: the sum rounds
    0.49999999999999994 up to 1.
    """
    r = F.rint(x)
    return F.when(F.abs(x - r) == 0.5, x + F.signum(x) * 0.5).otherwise(r).cast("long")


def safe_div(num: Column, den: Column) -> Column:
    """``num / den`` as double, NULL when ``den`` is 0.

    The reference's Delay reducer divides unguarded and yields Java NaN for
    an airport with no arrivals (``Program/Delay.java:190``); NULL is this
    engine's documented equivalent (SURVEY §2.7.3).
    """
    return F.when(den != 0, num.cast("double") / den.cast("double"))


def year_of_period(col: Column | str) -> Column:
    """Leading-4-chars "year" of a period string/timestamp-cast-to-string.

    Mirrors ``reporting_period.substring(0,4)`` (``Program/Late.java:59``) —
    a string prefix, not a parsed date (SURVEY §2.7.6).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(c.cast("string"), 1, 4)


def word_tokens(col: Column | str) -> Column:
    """Whitespace tokens of a text column (array<string>, no empties).

    Matches ``StringTokenizer`` semantics (default delimiters, no
    punctuation stripping — ``Jar/…!org/leicester/WordCount.java:26-31``):
    split on runs of whitespace and drop empty tokens (leading/trailing
    whitespace produces empty strings under regex split).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def char_ngrams(col: Column | str, n: int = 5) -> Column:
    """All character n-grams of a string as array<string> (with duplicates).

    Built from ``sequence`` + ``transform`` — pure Catalyst, no UDF. Used as
    the shingle set for MinHash/Jaccard dedup.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1))),
        lambda i: c.substr(i, F.lit(n)),
    )


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """All k-word shingles (space-joined) of a text column as array<string>.

    The token array is let-bound via a 1-element ``transform`` so the
    ``split``+``filter`` tokenization runs ONCE per row. Higher-order
    functions don't common-subexpression-eliminate across lambda bodies,
    so inlining ``word_tokens`` into the per-shingle ``slice`` lambda
    re-tokenizes the text for EVERY shingle — O(tokens²) per document,
    measured 6× slower on the sf0.1 corpus (3.2s → 0.5s for the full
    shingle explode). Same output, same types.
    """
    c = F.col(col) if isinstance(col, str) else col

    def from_tokens(toks: Column) -> Column:
        return F.when(
            F.size(toks) >= k,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - k),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks)))

    return F.element_at(F.transform(F.array(word_tokens(c)), from_tokens), 1)


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array<numeric> columns, accumulated in double.

    ``zip_with`` + ``aggregate`` are Catalyst higher-order functions —
    vectorized JVM execution, no Python boundary.
    """
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    """Euclidean norm of an array<numeric> column (double)."""
    ca = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(
            ca, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity of two array<numeric> columns (double, NULL if a
    zero vector is involved)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    denom = l2_norm(ca) * l2_norm(cb)
    return F.when(denom != 0, dot(ca, cb) / denom)

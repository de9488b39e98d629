"""Runtime Bloom-filter semi-join pruning (the "runtime filter" /
sideways-information-passing pattern).

Spark's own ``InjectRuntimeFilter`` rewrites eligible join plans this way
when statistics justify it; this module makes the pattern explicit
and deterministic. The filter targets the regime where
the dim side is too large to broadcast raw (so the final semi-join must
shuffle BOTH sides) but its Bloom filter is tiny: testing every fact row
against the Bloom before the exchange cuts the fact-side shuffle volume
to roughly the join selectivity (false positives are removed by the exact
join that follows, so the operator's RESULT is exactly the plain
semi-join's — which is what makes it hash-checkable against a Bloom-free
DuckDB oracle).

Hashing: bit positions come from Kirsch-Mitzenmacher double hashing
``h_i = (h1 + i*h2) mod m`` with ``h1``/``h2`` two independent 60-bit
``xxhash64`` values of the normalized key — native, whole-stage-codegen
hashes, so the k probes stay a flat scalar predicate Catalyst keeps in
the Filter directly above the fact scan. The words are built by a tiny
Spark job over the dim side (:func:`bloom_build_spark`) and embedded in
the probe side's plan as an ``array<bigint>`` literal — no join, no
broadcast variable. The filter needs no engine-independent twin: it
never changes the operator's result, only how many fact rows reach the
exchange.

Bounds: 60-bit halves keep ``h1 + (k-1)*h2 < 2^63`` for ``k <= 7`` (no
ANSI overflow); ``m`` must be a power of two so ``mod m`` is a bitmask.
Word layout is little-endian-by-bit: bit ``p`` lives in word ``p >> 6``
at position ``p & 63`` (``getbit`` counts from the LSB, matching
``(w >> b) & 1`` on the signed two's-complement word).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "bloom_build_spark",
    "bloom_prune",
    "bloom_params",
]

_MAX_K = 7  # h1 + (k-1)*h2 < 2^60 * (1 + (k-1)) <= 7*2^60 < 2^63


def bloom_params(n_keys: int, bits_per_key: int = 16) -> tuple[int, int]:
    """``(m_bits, k)`` for ``n_keys`` at ``bits_per_key`` (m rounded up
    to a power of two; k fixed at 7 — near-optimal for 16 bits/key and
    the overflow-safe maximum)."""
    m = 64
    while m < n_keys * bits_per_key:
        m *= 2
    return m, _MAX_K


_H_MASK = (1 << 60) - 1  # 60-bit halves keep h1 + 6*h2 < 2^63 (no ANSI overflow)


_INTEGRAL = {"tinyint", "smallint", "int", "bigint"}


def _norm_key(df, col: str) -> Column:
    """Normalize the key column to a type-stable hash input: xxhash64 is
    TYPE-sensitive (``xxhash64(5 as int) != xxhash64(5 as bigint)``), so
    hashing native types would silently produce FALSE NEGATIVES —
    dropped true matches — whenever the build side's key type differs
    from the probe side's (int dim key vs bigint fact key). Integral
    types widen to bigint (free); everything else renders as string
    (one cast — measured ~0.4s per 150k x 14 probes, so worth avoiding
    for the common integer-key case)."""
    t = dict(df.dtypes)[col]
    return F.col(col).cast("bigint" if t in _INTEGRAL else "string")


def _xx_h12(c: Column) -> tuple[Column, Column]:
    """Two independent 60-bit hashes of a (normalized) key column via
    native xxhash64 — single-digit ns each under codegen, so
    re-evaluating them per probe (FilterExec has no CSE) is cheaper
    than ANY let-binding scheme: projected columns get inlined back
    into the filter by PushDownPredicates, and HOF let-binding drops
    the whole stage to the interpreted path (both measured 4-10x
    slower than flat xxhash)."""
    return (
        F.xxhash64(c).bitwiseAND(F.lit(_H_MASK)),
        F.xxhash64(c, F.lit(1)).bitwiseAND(F.lit(_H_MASK)),
    )


def bloom_build_spark(dim, key_col: str, m_bits: int, k: int = _MAX_K) -> list[int]:
    """Build the filter's int64 words by running a tiny Spark job over
    the dim side — sideways information passing, exactly what AQE's
    ``InjectRuntimeFilter`` does internally. Only ``m_bits / 64`` longs
    ever reach the driver (the per-word ``bit_or`` reduces executor-side
    with map-side partial aggregation), so this scales to any dim
    cardinality. Deterministic: xxhash64 is a fixed function of the key,
    so the same dim yields bit-identical words on every build.

    The result does NOT need an engine-independent twin (unlike IVF
    centroids / BPE merges): the Bloom filter never affects operator
    RESULTS — false positives are removed by the exact join downstream —
    so oracles stay Bloom-free.
    """
    if m_bits & (m_bits - 1) or m_bits < 64:
        raise ValueError(f"m_bits must be a power of two >= 64, got {m_bits}")
    if not 1 <= k <= _MAX_K:
        raise ValueError(f"k must be in 1..{_MAX_K}, got {k}")
    h1, h2 = _xx_h12(_norm_key(dim, key_col))
    positions = F.explode(
        F.array(
            *[
                (h1 + F.lit(i) * h2).bitwiseAND(F.lit(m_bits - 1))
                for i in range(k)
            ]
        )
    ).alias("p")
    per_word = (
        dim.select(positions)
        .select(
            F.shiftright(F.col("p"), 6).cast("int").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias(
                "b"
            ),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
        .collect()
    )
    words = [0] * (m_bits // 64)
    for r in per_word:
        words[r["w"]] = r["bits"]
    return words


def bloom_prune(
    df, col: str, words: list[int], m_bits: int, k: int = _MAX_K
):
    """Filter ``df`` to rows whose ``col`` might be in an
    xxhash64-keyed Bloom filter (built by :func:`bloom_build_spark`) —
    the hot path: a flat AND of k codegen'd probes over the literal word
    array, kept by Catalyst in the Filter directly above the scan,
    before any exchange. xxhash64 is re-evaluated per probe by design
    (see :func:`_xx_h12`); at ~ns per hash that beats every let-binding
    workaround for FilterExec's missing subexpression elimination.
    """
    if len(words) * 64 != m_bits:
        raise ValueError("words length inconsistent with m_bits")
    if not 1 <= k <= _MAX_K:
        raise ValueError(f"k must be in 1..{_MAX_K}, got {k}")
    h1, h2 = _xx_h12(_norm_key(df, col))
    lw = F.lit(words).cast("array<bigint>")
    probes = []
    for i in range(k):
        p = (h1 + F.lit(i) * h2).bitwiseAND(F.lit(m_bits - 1))
        word = F.element_at(lw, F.shiftright(p, 6).cast("int") + F.lit(1))
        probes.append(F.getbit(word, p.bitwiseAND(F.lit(63))) == 1)
    return df.filter(reduce(lambda a, b: a & b, probes))

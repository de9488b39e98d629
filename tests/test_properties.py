"""Property-based tests (hypothesis): the Spark plans must agree with an
independent pure-Python model of the reference's semantics (round-then-sum,
flag != 'A' bucketing, >= threshold, NULL on zero weight) on arbitrary
small inputs — not just the hand-picked fixtures."""

from __future__ import annotations

import math

import pytest

from hypothesis import given, settings, strategies as st

from analysis_of_flight_delay_data_by_mapreduce_spark.plans.flight_queries import (
    q1_delay,
    q2_late,
)
from analysis_of_flight_delay_data_by_mapreduce_spark.schema import FLIGHT_PUNCTUALITY

from test_flight_queries import _flight_row

# a row: (airport, A/D flag, flights, delay, late31 pct)
_row = st.tuples(
    st.sampled_from(["AAA", "BBB"]),
    st.sampled_from(["A", "D", "X"]),
    st.integers(min_value=0, max_value=50),
    st.floats(min_value=0.0, max_value=60.0, allow_nan=False, width=32),
    st.floats(min_value=0.0, max_value=100.0, allow_nan=False, width=32),
)


def _half_up(x: float) -> int:
    return math.floor(x + 0.5)  # Java Math.round for non-negative inputs


def _model_q1(rows):
    acc: dict[str, list[int]] = {}
    for airport, ad, flights, delay, _ in rows:
        if flights == 0:
            continue
        a = acc.setdefault(airport, [0, 0, 0, 0])
        wd = _half_up(flights * delay)
        if ad == "A":
            a[0] += wd
            a[1] += flights
        else:  # reference else-branch: anything not 'A' is a departure
            a[2] += wd
            a[3] += flights
    return {
        k: (
            (a[0] / a[1]) if a[1] else None,
            (a[2] / a[3]) if a[3] else None,
        )
        for k, a in acc.items()
    }


@settings(max_examples=12, deadline=None)
@given(st.lists(_row, min_size=1, max_size=12))
def test_q1_matches_model(spark, rows):
    df = spark.createDataFrame(
        [
            _flight_row(airport=r[0], ad=r[1], flights=r[2], delay=float(r[3]))
            for r in rows
        ],
        FLIGHT_PUNCTUALITY,
    )
    got = {
        r.reporting_airport: (r.avg_arrival_delay, r.avg_departure_delay)
        for r in q1_delay(df).collect()
    }
    expected = _model_q1(rows)
    assert set(got) == set(expected)
    for k in expected:
        for g, e in zip(got[k], expected[k]):
            if e is None:
                assert g is None
            else:
                assert g is not None and math.isclose(g, e, rel_tol=1e-12)


def _model_q2(rows, theta=0.5):
    acc: dict[str, list[int]] = {}
    for airline, ad, flights, _, late_pct in rows:
        if flights == 0 or ad != "D":
            continue
        a = acc.setdefault(airline, [0, 0])
        a[0] += _half_up(flights * (late_pct / 100.0))
        a[1] += flights
    return {
        k: a[0] / a[1] for k, a in acc.items() if a[1] > 0 and a[0] / a[1] >= theta
    }


@settings(max_examples=12, deadline=None)
@given(st.lists(_row, min_size=1, max_size=12))
def test_q2_matches_model(spark, rows):
    df = spark.createDataFrame(
        [
            _flight_row(
                airline=r[0], period="201101", ad=r[1], flights=r[2], b31=float(r[4])
            )
            for r in rows
        ],
        FLIGHT_PUNCTUALITY,
    )
    got = {r.airline_name: r.late_ratio for r in q2_late(df).collect()}
    expected = _model_q2(rows)
    assert set(got) == set(expected)
    for k in expected:
        assert math.isclose(got[k], expected[k], rel_tol=1e-12)


def _py_word_trigrams(text: str) -> set[str]:
    toks = text.split()
    if len(toks) >= 3:
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    return {" ".join(toks)}


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=30),
        min_size=2,
        max_size=6,
    )
)
def test_ngram_jaccard_matches_model(spark, texts):
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", shingle_k=3, mode="word", threshold=0.0
        ).collect()
    }
    expected = {}
    for i, a in rows:
        for j, b in rows:
            if i < j:
                sa, sb = _py_word_trigrams(a), _py_word_trigrams(b)
                inter = len(sa & sb)
                if inter:
                    expected[(i, j)] = inter / len(sa | sb)
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert math.isclose(got[k], v, rel_tol=1e-12)


@pytest.mark.parametrize("algorithm", ["min_label", "star"])
@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1,
        max_size=20,
    )
)
def test_connected_components_matches_union_find(spark, algorithm, edges):
    """Both algorithms (min-label propagation and large-star/small-star)
    must equal a classic union-find on arbitrary small graphs (self-loops
    and duplicate edges included)."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.graph import (
        connected_components,
    )

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    # component label = min node of each set
    comp_min: dict[int, int] = {}
    for n in parent:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    expected = {n: comp_min[find(n)] for n in parent}

    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {
        r.id: r.component
        for r in connected_components(df, algorithm=algorithm).collect()
    }
    assert got == expected


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet="ab1 .-@+x" + "9",
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_scrub_pii_matches_python_re_model(spark, texts):
    """scrub_pii must equal a pure-Python re.sub chain with the same
    patterns on adversarial text drawn from the PII alphabet (digits,
    dots, dashes, @, +) — counts and scrubbed output both."""
    import re as _re

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.text import (
        PII_PATTERNS,
        scrub_pii,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in scrub_pii(df, "text").collect()}

    for i, t in rows:
        cur = t
        counts = {}
        for kind, pat, tag in PII_PATTERNS:
            counts[kind] = len(_re.findall(pat, cur))
            cur = _re.sub(pat, tag, cur)
        r = got[i]
        assert r.scrubbed == cur, (t, r.scrubbed, cur)
        for kind, _, _ in PII_PATTERNS:
            assert getattr(r, f"n_{kind}") == counts[kind], (t, kind)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 200), st.integers(0, 9)),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[1],
    ),
    st.integers(1, 4),
)
def test_topk_per_group_matches_model(spark, rows, k):
    """Salted two-phase rank == pure-Python sort model for arbitrary
    group/score shapes (incl. heavy ties and groups smaller than k)."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.aggregates import (
        topk_per_group,
    )

    df = spark.createDataFrame(
        [(g, i, float(v)) for g, i, v in rows], "grp long, id long, score double"
    )
    got = {
        (r.grp, r.rk): r.id
        for r in topk_per_group(
            df, ["grp"], "score", k, tiebreak="id", n_salts=3
        ).collect()
    }
    expected = {}
    by_group: dict[int, list[tuple[int, int]]] = {}
    for g, i, v in rows:
        by_group.setdefault(g, []).append((i, v))
    for g, members in by_group.items():
        ranked = sorted(members, key=lambda t: (-t[1], t[0]))[:k]
        for rk, (i, _) in enumerate(ranked, start=1):
            expected[(g, rk)] = i
    assert got == expected


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 1000), st.floats(0, 100, allow_nan=False)),
        min_size=4,
        max_size=60,
    )
)
def test_zorder_key_matches_interleave_model(spark, rows):
    """The Catalyst Morton fold == a pure-Python bit-interleave over the
    same quantile cells (cells recomputed with an identical >=-count)."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.layout import (
        zorder_key,
    )

    df = spark.createDataFrame(
        [(int(a), float(b)) for a, b in rows], "a long, b double"
    )
    bits = 3
    keyed = {
        (r.a, r.b): r["__z"]
        for r in zorder_key(df, ["a", "b"], bits=bits).collect()
    }
    n_cells = 1 << bits
    probs = [i / n_cells for i in range(1, n_cells)]
    bounds = df.stat.approxQuantile(["a", "b"], probs, 1.0 / (4 * n_cells))
    ba = sorted(set(float(x) for x in bounds[0]))
    bb = sorted(set(float(x) for x in bounds[1]))
    for (a, b), z in keyed.items():
        ca = sum(1 for t in ba if float(a) >= t)
        cb = sum(1 for t in bb if float(b) >= t)
        want = 0
        for bit in range(bits):
            want |= ((ca >> bit) & 1) << (bit * 2)
            want |= ((cb >> bit) & 1) << (bit * 2 + 1)
        assert z == want, (a, b, z, want)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=30),
        min_size=1,
        max_size=4,
    ),
    st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=30),
        min_size=1,
        max_size=4,
    ),
)
def test_jaccard_matches_between_matches_model(spark, new_texts, old_texts):
    """Cross-corpus inverted-index Jaccard == pure-Python trigram model:
    only new×old pairs, exact values, threshold 0 keeps every overlap."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.dedup import (
        jaccard_matches_between,
    )

    new_rows = [(i, t) for i, t in enumerate(new_texts)]
    old_rows = [(100 + i, t) for i, t in enumerate(old_texts)]
    new_df = spark.createDataFrame(new_rows, "doc_id long, text string")
    old_df = spark.createDataFrame(old_rows, "doc_id long, text string")
    got = {
        (r.new_id, r.old_id): r.jaccard
        for r in jaccard_matches_between(
            new_df, old_df, "doc_id", "text",
            shingle_k=3, mode="word", threshold=0.0,
        ).collect()
    }
    expected = {}
    for i, a in new_rows:
        for j, b in old_rows:
            sa, sb = _py_word_trigrams(a), _py_word_trigrams(b)
            inter = len(sa & sb)
            if inter:
                expected[(i, j)] = inter / len(sa | sb)
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert math.isclose(got[k], v, rel_tol=1e-12)


_HOT = "a b c a b c"


@settings(max_examples=4, deadline=None)
@given(
    st.lists(st.text(alphabet="ab c", min_size=0, max_size=24), max_size=4),
    st.lists(st.text(alphabet="ab c", min_size=0, max_size=24), max_size=4),
)
def test_between_matchers_equal_cross_pairs_of_self_operators(
    spark, new_texts, old_texts
):
    """Self / between duality: on corpora A (new) and B (old) with
    disjoint ids, each new × history matcher returns exactly the A × B
    pairs of its within-corpus operator on A ∪ B, same parameters, with
    and without its cap. One A and two B copies of a hot text make both
    caps bite: its shingles sit in 3 documents (``max_doc_freq=2``) and
    its band buckets hold 3 (``max_bucket=2``), so its pairs appear only
    uncapped."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.dedup import (
        jaccard_matches_between,
        minhash_lsh_dedup,
        minhash_matches_between,
        ngram_jaccard_pairs,
    )

    new_rows = list(enumerate([*new_texts, _HOT]))
    old_rows = [(100 + i, t) for i, t in enumerate([*old_texts, _HOT, _HOT])]
    new_df = spark.createDataFrame(new_rows, "doc_id long, text string")
    old_df = spark.createDataFrame(old_rows, "doc_id long, text string")
    both = new_df.unionAll(old_df)
    new_ids = {i for i, _ in new_rows}
    hot = (len(new_rows) - 1, old_rows[-1][0])

    def cross(rows):
        """Self pairs ``(id_a, id_b, *vals)`` that join A to B, as
        ``{(new, old): vals}``."""
        out = {}
        for a, b, *vals in rows:
            if (a in new_ids) != (b in new_ids):
                out[(a, b) if a in new_ids else (b, a)] = tuple(vals)
        return out

    jac = dict(shingle_k=3, mode="word", threshold=0.3)
    lsh = dict(
        num_hashes=16, bands=8, shingle_k=3, mode="word", verify_jaccard=0.3
    )
    for cap in (None, 2):
        between = {
            (r.new_id, r.old_id): (r.jaccard,)
            for r in jaccard_matches_between(
                new_df, old_df, "doc_id", "text", max_doc_freq=cap, **jac
            ).collect()
        }
        within = ngram_jaccard_pairs(
            both, "doc_id", "text", max_doc_freq=cap, **jac
        ).collect()
        assert between == cross(within)
        assert (hot in between) == (cap is None)
        between = {
            (r.new_id, r.old_id): ()
            for r in minhash_matches_between(
                new_df, old_df, "doc_id", "text", max_bucket=cap, **lsh
            ).collect()
        }
        within = minhash_lsh_dedup(
            both, "doc_id", "text", max_bucket=cap, **lsh
        ).collect()
        assert between == cross(within)
        assert (hot in between) == (cap is None)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(0, 2**62), min_size=1, max_size=40))
def test_qsketch_bucket_matches_python_model_high_octaves(spark, xs):
    """The Catalyst bucket math (length(bin(x)) + ANSI shifts) == the pure
    Python model across ALL octaves including values far above anything
    in the registered corpora (the sf tables only exercise small token
    counts / cent values) — and every value lies inside its own bucket."""
    from collections import Counter

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.sketch import (
        QSKETCH_PREC,
        qsketch_build,
    )

    df = spark.createDataFrame([(int(x),) for x in xs], "x long")
    grid = {
        (r.shift, r.sub): r.cnt for r in qsketch_build(df, "x").collect()
    }

    def bucket(x: int) -> tuple[int, int]:
        shift = max(x.bit_length() - (QSKETCH_PREC + 1), 0)
        return shift, x >> shift

    assert grid == dict(Counter(bucket(int(x)) for x in xs))
    for x in xs:
        shift, sub = bucket(int(x))
        assert (sub << shift) <= int(x) <= ((sub + 1) << shift) - 1


def test_qsketch_rejects_negative_values(spark):
    """bin() of a negative bigint is 64 chars and div truncates toward
    zero, so a negative would silently mis-bucket (and diverge from the
    DuckDB floor-division oracle) — the contract is enforced instead."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkRuntimeError

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.sketch import (
        qsketch_build,
    )

    df = spark.createDataFrame([(5,), (-1,)], "x long")
    with pytest.raises((Py4JJavaError, PySparkRuntimeError, Exception)) as ei:
        qsketch_build(df, "x").collect()
    assert "non-negative" in str(ei.value)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=15,
    ),
    st.integers(1, 4),
)
def test_pagerank_integer_matches_replica_on_random_graphs(
    spark, raw_edges, iters
):
    """Integer PageRank equals the pure-Python floor-division recurrence
    on arbitrary small undirected graphs (self-loops and duplicate edges
    included — both become ordinary directed edges after symmetrize +
    distinct, exactly as the operator contract states)."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.graph import (
        pagerank_integer,
    )

    directed = sorted({(a, b) for a, b in raw_edges} | {(b, a) for a, b in raw_edges})
    df = spark.createDataFrame(directed, "src long, dst long")
    got = {
        r.node: r.rank for r in pagerank_integer(df, iters=iters).collect()
    }

    SCALE, D = 10**12, 85
    nodes = sorted({a for a, _ in directed} | {b for _, b in directed})
    out: dict[int, list[int]] = {}
    for a, b in directed:
        out.setdefault(a, []).append(b)
    n = len(nodes)
    r0 = SCALE // n
    base = ((100 - D) * r0) // 100
    r = {v: r0 for v in nodes}
    for _ in range(iters):
        inm = {v: 0 for v in nodes}
        for u, dsts in out.items():
            share = r[u] // len(dsts)
            for v in dsts:
                inm[v] += share
        r = {v: base + (D * inm[v]) // 100 for v in nodes}
    assert got == r

"""Dedup operators on planted fixtures: exact survivors, minhash recall on
true near-duplicates, simhash stability, jaccard exactness."""

from __future__ import annotations

import math

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
from analysis_of_flight_delay_data_by_mapreduce_spark.operators.text import fingerprint


BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill in the afternoon sun"
)
NEAR = BASE.replace("afternoon", "morning")  # one-word edit → high jaccard
FAR = "completely different content about spark catalyst optimizer internals and shuffle partitioning strategies"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact dup of 1
        (3, NEAR),  # near dup of 1
        (4, FAR),
        (5, "  THE QUICK  brown fox jumps over the lazy dog while the cat watches from the warm windowsill in the afternoon sun"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_survivor_is_min_id(spark, docs):
    fp = fingerprint(docs)
    got = {r.doc_id for r in exact_dedup(fp, ["fp"], "doc_id").collect()}
    # 1 and 2 collapse (and 5 normalizes to the same text: case + whitespace)
    assert got == {1, 3, 4}


def test_ngram_jaccard_exact_value(spark):
    # hand-checkable: texts 'abcde' vs 'abcdef' with k=5 →
    # shingles {abcde} vs {abcde, bcdef}: jaccard = 1/2
    df = spark.createDataFrame([(1, "abcde"), (2, "abcdef")], "doc_id long, text string")
    rows = ngram_jaccard_pairs(df, "doc_id", "text", shingle_k=5, threshold=0.0).collect()
    assert len(rows) == 1
    assert math.isclose(rows[0].jaccard, 0.5)


def test_minhash_lsh_finds_planted_near_dups(spark, docs):
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_dedup(
            docs, "doc_id", "text", num_hashes=32, bands=16, verify_jaccard=0.5
        ).collect()
    }
    assert (1, 2) in pairs  # exact dup always collides
    assert (1, 3) in pairs  # one-word edit, char-5-gram jaccard >> 0.5
    assert all(4 not in p for p in pairs)  # unrelated text never verified


def test_simhash_identical_and_different(spark, docs):
    fps = {r.doc_id: r.simhash for r in simhash(docs, "doc_id", "text").collect()}
    assert fps[1] == fps[2]  # identical text → identical fingerprint
    ham = bin(fps[1] ^ fps[4]).count("1")
    assert ham > 10  # unrelated text → far fingerprint
    pairs = {(r.id_a, r.id_b) for r in simhash_near_dup(docs, "doc_id", "text").collect()}
    assert (1, 2) in pairs


def test_embedding_near_dup_planted(spark):
    v = [1.0] + [0.0] * 7
    near = [0.999] + [0.04] + [0.0] * 6
    far = [0.0] * 7 + [1.0]
    df = spark.createDataFrame(
        [(1, v), (2, v), (3, near), (4, far)], "vec_id long, embedding array<float>"
    )
    planes = random_hyperplanes(n_bits=4, dim=8, seed=7)
    pairs = {
        (r.id_a, r.id_b): r.cos_sim
        for r in embedding_near_dup(df, "vec_id", "embedding", planes, 0.95).collect()
    }
    assert (1, 2) in pairs and math.isclose(pairs[(1, 2)], 1.0)
    assert (1, 3) in pairs  # cos ~0.9988
    assert all(4 not in p for p in pairs)


def test_prefix_filter_equals_naive(spark):
    # PPJoin prefix filtering must be exact: identical pair sets and
    # jaccard values vs the naive inverted-index join, across thresholds.
    from analysis_of_flight_delay_data_by_mapreduce_spark.sources import (
        read_parquet_table,
    )
    from conftest import SF_DIR

    docs = read_parquet_table(spark, SF_DIR, "documents")
    for t in (0.2, 0.5, 0.8):
        naive = {
            (r.id_a, r.id_b): round(r.jaccard, 12)
            for r in ngram_jaccard_pairs(
                docs, "doc_id", "text", shingle_k=3, mode="word", threshold=t
            ).collect()
        }
        ppj = {
            (r.id_a, r.id_b): round(r.jaccard, 12)
            for r in ngram_jaccard_pairs(
                docs, "doc_id", "text", shingle_k=3, mode="word", threshold=t,
                prefix_filter=True,
            ).collect()
        }
        assert ppj == naive, f"threshold {t}: prefix={len(ppj)} naive={len(naive)}"


def test_connected_components_chain_and_singleton(spark):
    """A 4-hop chain (needs multiple propagation rounds), a separate pair,
    and a no-edge singleton: labels must be the component-min id; the
    singleton keeps itself via dedup_clusters."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.graph import (
        connected_components,
        dedup_clusters,
    )

    edges = spark.createDataFrame(
        [(10, 2), (2, 30), (30, 4), (4, 50), (7, 8)], ["id_a", "id_b"]
    )
    comp = {r.id: r.component for r in connected_components(edges).collect()}
    assert comp == {10: 2, 2: 2, 30: 2, 4: 2, 50: 2, 7: 7, 8: 7}

    docs = spark.createDataFrame([(i,) for i in [10, 2, 30, 4, 50, 7, 8, 99]], ["doc_id"])
    clusters = {r.doc_id: r.cluster for r in dedup_clusters(docs, edges).collect()}
    assert clusters[99] == 99  # singleton labels itself
    assert {k: v for k, v in clusters.items() if k != 99} == comp
    # survivor rule: one doc per cluster survives
    survivors = sorted(k for k, v in clusters.items() if k == v)
    assert survivors == [2, 7, 99]


def test_jaccard_matches_between_increment_vs_history(spark):
    """Cross-corpus inverted-index Jaccard: a new batch matches only its
    true near-twins in the history, never new×new or old×old pairs, and
    the jaccard value equals the hand-computed shingle overlap."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.dedup import (
        jaccard_matches_between,
    )

    old = spark.createDataFrame(
        [(1, BASE), (2, FAR), (3, "unrelated history entry about parquet")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(10, NEAR), (11, "totally fresh content with no twin at all")],
        ["doc_id", "text"],
    )
    got = jaccard_matches_between(
        new, old, "doc_id", "text", shingle_k=3, mode="word", threshold=0.5
    ).collect()
    assert [(r["new_id"], r["old_id"]) for r in got] == [(10, 1)]
    # hand value: word trigram sets of BASE vs NEAR (one word differs →
    # exactly 3 of the 18 distinct trigrams change)
    a = set(zip(BASE.split(), BASE.split()[1:], BASE.split()[2:]))
    b = set(zip(NEAR.split(), NEAR.split()[1:], NEAR.split()[2:]))
    expect = len(a & b) / len(a | b)
    assert math.isclose(got[0]["jaccard"], expect, rel_tol=1e-12)


def test_jaccard_matches_between_stop_shingle_cap(spark):
    """max_doc_freq drops postings measured over the UNION of both sides:
    a shingle present in every document joins nothing once capped."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.dedup import (
        jaccard_matches_between,
    )

    shared = "alpha beta gamma"
    old = spark.createDataFrame(
        [(1, shared), (2, shared)], ["doc_id", "text"]
    )
    new = spark.createDataFrame([(10, shared)], ["doc_id", "text"])
    uncapped = jaccard_matches_between(
        new, old, "doc_id", "text", shingle_k=3, mode="word", threshold=0.5
    )
    assert uncapped.count() == 2  # matches both history twins
    capped = jaccard_matches_between(
        new, old, "doc_id", "text", shingle_k=3, mode="word",
        threshold=0.5, max_doc_freq=2,
    )
    assert capped.count() == 0  # the only shingle occurs in 3 docs > cap


def test_ngram_jaccard_stop_shingle_cap_filtered_semantics(spark):
    """r13 (the count-over-window rewrite of the max_doc_freq path): the
    cap excludes over-frequent shingles from BOTH the join and the set
    sizes — the well-defined filtered Jaccard. A shingle shared by all
    three docs is dropped at max_doc_freq=2, so the pair score is
    computed over the remaining shingles only; brute-force replica."""
    docs = spark.createDataFrame(
        [
            (1, "common one two alpha beta gamma"),
            (2, "common one two alpha beta delta"),
            (3, "common one two zeta eta theta"),
        ],
        ["doc_id", "text"],
    )

    def sh(text):
        w = text.split()
        return set(zip(w, w[1:], w[2:]))

    sets = {1: sh("common one two alpha beta gamma"),
            2: sh("common one two alpha beta delta"),
            3: sh("common one two zeta eta theta")}
    # document frequency over distinct shingles
    from collections import Counter
    df_count = Counter(s for v in sets.values() for s in v)
    kept = {k: {s for s in v if df_count[s] <= 2} for k, v in sets.items()}

    def jac(x, y):
        i = len(kept[x] & kept[y])
        return i / (len(kept[x]) + len(kept[y]) - i) if i else 0.0

    got = {
        (r.id_a, r.id_b): round(r.jaccard, 12)
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", shingle_k=3, mode="word",
            threshold=0.01, max_doc_freq=2,
        ).collect()
    }
    want = {
        (x, y): round(jac(x, y), 12)
        for x in sets for y in sets if x < y and jac(x, y) >= 0.01
    }
    assert got == want


def test_ngram_jaccard_cap_and_prefix_mutually_exclusive(spark, docs):
    """max_doc_freq + prefix_filter compose neither path; r13 raises
    instead of silently skipping prefix pruning (ADVICE r12)."""
    with pytest.raises(ValueError, match="mutually exclusive"):
        ngram_jaccard_pairs(
            docs, "doc_id", "text", max_doc_freq=5, prefix_filter=True
        )


def test_topk_per_group_salted_equals_naive(spark):
    """The two-phase salted rank returns exactly the naive window's rows
    (phase 1 can't drop a true winner), including on planted ties where
    only the deterministic tiebreak orders them."""
    from pyspark.sql import functions as F

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.aggregates import (
        topk_per_group,
    )

    rows = [
        ("a", i, float(v))
        for i, v in enumerate([5, 9, 9, 9, 1, 7, 3, 9, 2, 8])
    ] + [("b", 100 + i, float(i % 4)) for i in range(12)]
    df = spark.createDataFrame(rows, ["grp", "id", "score"])
    salted = topk_per_group(
        df, ["grp"], "score", 3, tiebreak="id", n_salts=4
    )
    naive = topk_per_group(
        df, ["grp"], "score", 3, tiebreak="id", n_salts=None
    )
    key = lambda r: (r["grp"], r["rk"])
    got = {key(r): r["id"] for r in salted.collect()}
    want = {key(r): r["id"] for r in naive.collect()}
    assert got == want and len(want) == 6
    # ties resolve by ascending id: the three 9s with smallest ids win 'a'
    assert [want[("a", k)] for k in (1, 2, 3)] == [1, 2, 3]


def test_semantic_dedup_planted_neighborhoods(spark):
    """Planted clusters: near-identical vectors inside a cluster collapse
    to the min-id representative; cross-cluster near-parallel vectors do
    NOT pair (candidates are within-cluster only); max_cluster skips pair
    generation in hot clusters (their members all survive)."""
    from pyspark.sql import functions as F

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.dedup import (
        semantic_dedup,
    )

    # two well-separated centroids in 4-d
    C = [[10.0, 0.0, 0.0, 0.0], [0.0, 10.0, 0.0, 0.0]]
    rows = [
        # cluster 0: ids 1,2 nearly parallel (cos ~1) -> 2 dropped; id 3 orthogonal-ish
        (1, [9.0, 0.1, 0.0, 0.0]),
        (2, [9.1, 0.1, 0.0, 0.0]),
        (3, [8.0, 0.0, 5.0, 0.0]),
        # cluster 1: ids 4,5 nearly parallel -> 5 dropped
        (4, [0.1, 9.0, 0.0, 0.2]),
        (5, [0.1, 9.2, 0.0, 0.2]),
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    got = {
        (r.id, r.cluster)
        for r in semantic_dedup(df, "id", "v", C, threshold=0.9).collect()
    }
    assert got == {(1, 0), (3, 0), (4, 1)}

    # hot-cluster cap: cluster 0 (3 members) exceeds cap=2 -> no pairs
    # generated there, every member survives; cluster 1 still dedups
    capped = {
        r.id
        for r in semantic_dedup(
            df, "id", "v", C, threshold=0.9, max_cluster=2
        ).collect()
    }
    assert capped == {1, 2, 3, 4}


def test_semantic_matches_between_increment_only(spark):
    """The incremental matcher pairs new-vs-old within a cluster only:
    never new-vs-new, never cross-cluster."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.dedup import (
        semantic_matches_between,
    )

    C = [[10.0, 0.0], [0.0, 10.0]]
    old = spark.createDataFrame(
        [(1, [9.0, 0.1]), (2, [0.1, 9.0])], "id long, v array<double>"
    )
    new = spark.createDataFrame(
        # 10: near-dup of old 1 (cluster 0); 11: near-dup of old 2
        # (cluster 1); 12: cluster 0 but angled away (cos ~0.79 vs old 1)
        [(10, [9.2, 0.1]), (11, [0.1, 9.3]), (12, [5.0, 4.0])],
        "id long, v array<double>",
    )
    got = {
        (r.new_id, r.old_id)
        for r in semantic_matches_between(
            new, old, "id", "v", C, threshold=0.999
        ).collect()
    }
    assert got == {(10, 1), (11, 2)}


def test_semantic_dedup_matches_numpy_reference(spark):
    """Property-style hardening: on the real sf0.001 embeddings, the
    operator's survivor set equals an independent numpy brute-force
    implementation of the same spec (assign to nearest trained centroid,
    drop rows with a lower-id same-cluster neighbor at cos >= tau)."""
    import numpy as np
    import pyarrow.parquet as pq

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.dedup import (
        semantic_dedup,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.similarity import (
        train_ivf_centroids_parquet,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.sources import (
        read_parquet_table,
    )

    sf_dir = "/root/testdata/sf0.001"
    C = train_ivf_centroids_parquet(f"{sf_dir}/embeddings.parquet")
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    got = {
        (r.vec_id, r.cluster)
        for r in semantic_dedup(emb, "vec_id", "embedding", C, 0.35).collect()
    }

    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    vid = np.asarray(t.column("vec_id"))
    X = np.stack(t.column("embedding").to_pylist()).astype("float64")
    Ca = np.asarray(C)
    d = ((X[:, None, :] - Ca[None, :, :]) ** 2).sum(axis=2)
    assign = d.argmin(axis=1)
    norms = np.linalg.norm(X, axis=1)
    want = set()
    order = np.argsort(vid, kind="stable")
    for i in order:
        dup = False
        for j in order:
            if vid[j] >= vid[i] or assign[j] != assign[i]:
                continue
            cos = float(X[i] @ X[j]) / (norms[i] * norms[j])
            if cos >= 0.35:
                dup = True
                break
        if not dup:
            want.add((int(vid[i]), int(assign[i])))
    assert got == want


def test_duplicate_spans_planted_cross_doc_run(spark):
    """Two docs share an 8-token run -> one maximal 8-token span each
    (4 consecutive duplicated 5-gram positions merged); the unique doc
    emits nothing; positions are 0-based first-token indices."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.dedup import (
        duplicate_spans,
    )

    shared = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (1, "aa bb " + shared + " cc"),
            (2, shared + " zz yy xx ww"),
            (3, "totally different words without any overlap here"),
        ],
        "doc_id bigint, text string",
    )
    got = sorted(
        (r.doc_id, r.span_start, r.span_len)
        for r in duplicate_spans(docs, "doc_id", "text", k=5).collect()
    )
    # doc 1: run starts at token 2; doc 2: at token 0; both 8 tokens long
    assert got == [(1, 2, 8), (2, 0, 8)]


def test_duplicate_spans_within_doc_repeat_counts_as_site(spark):
    """min_sites counts (doc, pos) SITES, so a gram repeated twice inside
    ONE doc is a duplicated substring too (self-memorization)."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.dedup import (
        duplicate_spans,
    )

    run = "p q r s t"  # exactly one 5-gram
    docs = spark.createDataFrame(
        [(1, run + " gap1 gap2 " + run), (2, "other words entirely here now")],
        "doc_id bigint, text string",
    )
    got = sorted(
        (r.doc_id, r.span_start, r.span_len)
        for r in duplicate_spans(docs, "doc_id", "text", k=5).collect()
    )
    assert got == [(1, 0, 5), (1, 7, 5)]


def test_duplicate_span_profile_counts_and_zeros(spark):
    """Profile covers EVERY doc: gram totals, duplicated-gram counts,
    span counts, longest span; zeros (not NULLs) for clean/short docs."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.dedup import (
        duplicate_span_profile,
    )

    shared = "one two three four five six seven eight"  # 8 tokens, 4 grams
    docs = spark.createDataFrame(
        [
            (1, "aa bb " + shared + " cc"),  # 11 tokens -> 7 grams, 4 dup
            (2, shared),                     # 8 tokens -> 4 grams, all dup
            (3, "clean words with no duplication at all present"),  # 8 -> 4
            (4, "too short"),                # < k tokens -> 0 grams
        ],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: (r.n_grams, r.dup_grams, r.n_spans, r.max_span_len)
        for r in duplicate_span_profile(docs, "doc_id", "text", k=5).collect()
    }
    assert got == {
        1: (7, 4, 1, 8),
        2: (4, 4, 1, 8),
        3: (4, 0, 0, 0),
        4: (0, 0, 0, 0),
    }


def test_strip_duplicate_spans_cuts_all_sites(spark):
    """Cut-all policy: the shared run disappears from BOTH docs, the
    surrounding unique tokens survive in order, untouched docs pass
    through verbatim, and a fully-duplicated doc becomes empty."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.dedup import (
        strip_duplicate_spans,
    )

    shared = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (1, "aa bb " + shared + " cc"),
            (2, shared + " zz yy xx ww"),
            (3, "totally different words without any overlap here"),
            (4, shared),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: (r.kept_tokens, r.clean_text)
        for r in strip_duplicate_spans(docs, "doc_id", "text", k=5).collect()
    }
    assert got == {
        1: (3, "aa bb cc"),
        2: (4, "zz yy xx ww"),
        3: (7, "totally different words without any overlap here"),
        4: (0, ""),
    }


def test_tfidf_cosine_pairs_planted(spark):
    """Identical docs score exactly 1.0; docs sharing no shingle produce
    no pair; a pair sharing ~half its shingles lands strictly between."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.dedup import (
        tfidf_cosine_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # exact dup of 1 -> cosine 1.0
            (3, base + " eta theta iota kappa"),  # shares a prefix with 1/2
            (4, "uno dos tres cuatro cinco seis"),  # disjoint
        ],
        "doc_id bigint, text string",
    )
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in tfidf_cosine_pairs(
            docs, "doc_id", "text", threshold=0.1
        ).collect()
    }
    assert got[(1, 2)] == 1.0
    assert 0.1 <= got[(1, 3)] < 1.0 and got[(1, 3)] == got[(2, 3)]
    assert not any(4 in pair for pair in got)


def _pagerank_replica(directed, iters, scale=10**12, damping=85):
    """Pure-Python replica of ``pagerank_integer``'s floor-division
    recurrence over a directed edge list."""
    nodes = {a for a, _ in directed} | {b for _, b in directed}
    out: dict[int, list[int]] = {}
    for a, b in directed:
        out.setdefault(a, []).append(b)
    r0 = scale // len(nodes)
    base = ((100 - damping) * r0) // 100
    r = {v: r0 for v in nodes}
    for _ in range(iters):
        inm = {v: 0 for v in nodes}
        for u, dsts in out.items():
            for v in dsts:
                inm[v] += r[u] // len(dsts)
        r = {v: base + (damping * inm[v]) // 100 for v in nodes}
    return r


def test_pagerank_integer_matches_python_replica(spark):
    """Five integer-PageRank iterations equal a pure-Python replica of
    the same floor-division recurrence bit-for-bit, on a graph with
    asymmetric degrees; a symmetric 2-cycle splits mass equally; total
    mass stays within iters·|V| floor-loss units of scale."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.graph import (
        pagerank_integer,
    )

    # undirected star 1-2, 1-3, 1-4 plus edge 2-3 (hub + triangle side)
    und = [(1, 2), (1, 3), (1, 4), (2, 3)]
    directed = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(directed, "src long, dst long")
    got = {
        r.node: r.rank
        for r in pagerank_integer(edges, iters=5).collect()
    }

    assert got == _pagerank_replica(directed, 5)
    assert got[1] == max(got.values())  # the hub is the authority
    assert abs(sum(got.values()) - 10**12) <= 5 * len(got) * 100

    two = spark.createDataFrame([(7, 8), (8, 7)], "src long, dst long")
    pair = {r.node: r.rank for r in pagerank_integer(two, iters=3).collect()}
    assert pair[7] == pair[8]


def test_pagerank_integer_matches_replica_on_cycle_and_seeded_graph(spark):
    """The recurrence holds bit-for-bit on a 4-cycle with a chord and on
    a seeded 60-node graph with hubs, leaves and uneven degrees."""
    import random

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.graph import (
        pagerank_integer,
    )

    und = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    directed = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(directed, "src long, dst long")
    got = {r.node: r.rank for r in pagerank_integer(edges, iters=4).collect()}
    assert got == _pagerank_replica(directed, 4)

    rng = random.Random(7)
    und2 = {(rng.randrange(60), rng.randrange(60)) for _ in range(150)}
    und2 = [(x, y) for x, y in und2 if x != y]
    directed2 = sorted(set(und2) | {(y, x) for x, y in und2})
    big = spark.createDataFrame(directed2, "src long, dst long")
    got2 = {r.node: r.rank for r in pagerank_integer(big, iters=3).collect()}
    assert len(got2) >= 50 and got2 == _pagerank_replica(directed2, 3)


def test_xxh64_twin_matches_spark_expression(spark):
    """operators/xxh64.py is a BIT-exact twin of Spark's xxhash64 for
    every encoding the dedup twins use: string (UTF-8 bytes), long
    (8-byte lane), int literal (4-byte lane), the left-fold column
    chaining, and the public-spec reference vectors. This is the parity
    that lets the dedup_minhash/dedup_simhash oracles recompute the LSH
    pipelines outside Spark (VERDICT r10 item 4)."""
    from pyspark.sql import functions as F

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.xxh64 import (
        xxh64_bytes,
        xxh64_chain,
        xxh64_int,
        xxh64_long,
        xxh64_long_vec,
        xxh64_string,
    )

    # public XXH64 test vectors (xxhash.com reference implementation)
    assert xxh64_bytes(b"", 0) & (2**64 - 1) == 0xEF46DB3751D8E999
    assert xxh64_bytes(b"a", 0) & (2**64 - 1) == 0xD24EC4F1A98C6E5B

    rows = [
        ("hello world", 12345, 7),
        ("", -9999999999, 0),
        ("a b c", 2**62, -3),
        ("sig fold é", -1, 2**31 - 1),
    ]
    df = spark.createDataFrame(rows, "st string, lg long, it int")
    got = df.select(
        F.xxhash64("st").alias("hs"),
        F.xxhash64("lg").alias("hl"),
        F.xxhash64("it").alias("hi"),
        F.xxhash64(F.lit(5), F.col("lg")).alias("hseed"),
        F.xxhash64(F.col("lg"), F.col("st")).alias("hfold"),
    ).collect()
    for (st, lg, it), r in zip(rows, got):
        assert r.hs == xxh64_string(st)
        assert r.hl == xxh64_long(lg)
        assert r.hi == xxh64_int(it)
        assert r.hseed == xxh64_chain([("int", 5), ("long", lg)])
        assert r.hfold == xxh64_chain([("long", lg), ("str", st)])

    # vectorized long path == scalar path, including per-element seeds
    import numpy as np

    vals = np.array([0, 1, -5, 2**62, -(2**63), 42], dtype=np.int64)
    assert xxh64_long_vec(vals, 42).view(np.int64).tolist() == [
        xxh64_long(int(v)) for v in vals
    ]
    seeds = xxh64_long_vec(vals, 42)
    chained = xxh64_long_vec(vals, seeds).view(np.int64).tolist()
    assert chained == [
        xxh64_long(int(v), int(s)) for v, s in zip(vals, seeds.tolist())
    ]


def test_dedup_twins_match_spark_pipelines(spark):
    """The pyarrow+numpy twins reproduce minhash_lsh_dedup and
    simhash_near_dup EXACTLY on real corpus data — every stage from
    tokenization to the hot-bucket cap. This equality is what the
    r11 VALUES-literal oracles stand on."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.dedup import (
        minhash_lsh_dedup,
        simhash_near_dup,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.dedup_twin import (
        minhash_lsh_pairs_parquet,
        simhash_pairs_parquet,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.sources.readers import (
        read_parquet_table,
    )

    sf = "/root/testdata/sf0.001"
    docs = read_parquet_table(spark, sf, "documents")
    mh_spark = sorted(
        (r.id_a, r.id_b)
        for r in minhash_lsh_dedup(
            docs, "doc_id", "text", num_hashes=32, bands=8, shingle_k=3,
            mode="word", verify_jaccard=0.3,
        ).collect()
    )
    assert mh_spark == minhash_lsh_pairs_parquet(sf) and mh_spark

    sh_spark = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_dup(docs, "doc_id", "text").collect()
    )
    assert sh_spark == simhash_pairs_parquet(sf) and sh_spark


def test_cms_twin_matches_spark_grid(spark):
    """sketch.cms_token_cells_parquet reproduces the tokens_cms_sketch
    grid exactly — every (seed, cell, cnt) row — via the xxh64 twin of
    pmod(xxhash64(seed, token), width)."""
    from pyspark.sql import functions as F

    from analysis_of_flight_delay_data_by_mapreduce_spark.functions import word_tokens
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.sketch import (
        cms_build,
        cms_token_cells_parquet,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.sources.readers import (
        read_parquet_table,
    )

    sf = "/root/testdata/sf0.001"
    docs = read_parquet_table(spark, sf, "documents")
    toks = docs.select(F.explode(word_tokens(F.col("text"))).alias("tok"))
    got = sorted(
        (r.seed, r.cell, r.cnt)
        for r in cms_build(toks, "tok", depth=4, width=1024).collect()
    )
    assert got == cms_token_cells_parquet(sf) and got


def test_ivf_topk_twin_matches_spark_raw_doubles(spark):
    """cosine_topk_ivf_parquet reproduces the ann_cosine_topk_ivf face
    BIT-exactly including the raw double scores — the left-to-right
    float64 fold replicates Catalyst's sequential aggregate lambda, so
    no rounding layer is needed for the r11 oracle."""
    import os

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.similarity import (
        cosine_topk_ivf_parquet,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.plans import synthetic

    sf = "/root/testdata/sf0.001"
    spark_rows = [
        (r.vec_id, r.score)
        for r in synthetic.QUERIES["ann_cosine_topk_ivf"](spark, sf).collect()
    ]
    twin = cosine_topk_ivf_parquet(os.path.join(sf, "embeddings.parquet"))
    assert spark_rows == twin and len(twin) == 10

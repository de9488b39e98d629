"""Iterative graph operators for dedup cluster closure (extension tier).

Near-duplicate detection yields PAIRS; production dedup needs CLUSTERS
(the transitive closure: if A~B and B~C, keep one of {A,B,C}). The
reference has nothing of the kind (SURVEY §2.4); this module adds the
missing step as an iterative DataFrame algorithm.

``connected_components`` offers two interchangeable algorithms behind one
contract (same inputs, identical output labels — the component min):

- ``algorithm="star"`` (default): alternating large-star/small-star
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14). Each round rewires edges toward the locally-smallest node;
  the edge set converges to a union of stars centered at each
  component's minimum in **O(log n)** rounds even on adversarially long
  path graphs. Per round: one aggregation + one join per star step —
  all shuffles keyed on node id.
- ``algorithm="min_label"``: classic min-label propagation — every node
  repeatedly adopts the smallest label among itself and its neighbors.
  One join + one aggregation per round, but rounds equal the graph
  DIAMETER, which is fine for shallow dedup-cluster graphs (cliques-ish)
  and pathological for long chains.

Both stay. Every registered closure face runs min-label (through
``dedup_clusters``), which beat star on each of them at sf0.1 (4 vCPUs,
4 alternating reps, identical row digests): ``dedup_components`` 5.2 s
vs 10.0 s, ``corpus_prepare_cc`` 5.7 vs 11.4 s,
``corpus_prepare_cc_best`` 6.1 vs 10.6 s, ``corpus_prepare_audit`` 5.4
vs 9.5 s. Star is the one path for graphs deeper than ``max_iter``
(long chains), which ``tests/test_properties.py`` exercises.

Loop control reads ONE scalar per round (the changed-label count) — that
is the standard driver-side fixpoint test, not a data collect. Lineage is
truncated every round with ``localCheckpoint`` (an executor-local
materialization; a real cluster job pointing at HDFS/S3 would use
``checkpoint`` for fault tolerance instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["connected_components", "dedup_clusters", "pagerank_integer"]


def pagerank_integer(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> DataFrame:
    """Fixed-iteration PageRank in EXACT integer arithmetic — the
    authority-scoring pass (Page et al. 1999; in a data pipeline:
    weighting sources/domains by link authority before sampling).

    Classic PageRank is float division + order-dependent float sums —
    unreplicable bit-for-bit across engines. This face scales ranks to
    integers (``scale``, default 1e12) and makes every step a FLOOR
    division: ``r₀ = scale div N``; per iteration
    ``r'(v) = ((100−d)·(scale div N)) div 100
    + (d · Σ_{u→v} r(u) div outdeg(u)) div 100``. All BIGINT, all
    floor-div — deterministic under any partitioning, bit-replicable in
    SQL (the same move as the round-then-sum money shape, applied to the
    random-surfer mass). The per-step floor loses < outdeg·iters units
    of 1e-12 mass — irrelevant to ranking, essential to exactness.

    ``edges`` must be the DIRECTED edge list (pass both directions for
    an undirected graph, distinct-ed); nodes are whatever ids appear.
    Every node in ``edges`` has outdeg ≥ 1 by construction when the
    graph is undirected, so no dangling-mass term is needed — callers
    with genuinely dangling nodes should add self-loops or both
    directions. Scale posture: the edge table and the aggregated degree
    vector are cached once; each of the ``iters`` rounds broadcasts the
    node-sized rank vector into the edge join, so the edge table is
    never re-shuffled — the only per-round exchange is the tiny
    post-partial-agg one on ``dst``. Lineage is linear (each rank frame
    consumed exactly once, no recompute blowup). That is the
    nodes-fit-in-memory regime; past it, the web-scale formulation is
    plain equi-joins with the rank vector shuffled each round (bucket
    the edge table by ``src`` to keep its side exchange-free, and
    checkpoint ranks every few rounds). The output is checked against a
    pure-Python replica of the recurrence.

    Output: ``(node, rank)``, one row per node, ranks summing to ≈scale.
    """
    from .cache import scoped_persist

    # the edge list is consumed by every iteration plus outdeg/nodes —
    # materialize it once (it is often itself a join+distinct, which
    # would otherwise replay ~iters+2 times), and likewise the node set
    e = scoped_persist(
        edges.select(F.col(src).alias("__src"), F.col(dst).alias("__dst"))
    )
    nodes = scoped_persist(
        e.select(F.col("__src").alias("node"))
        .unionByName(e.select(F.col("__dst").alias("node")))
        .distinct()
    )
    # the aggregated degree vector is one row per node — cache it once
    # instead of re-aggregating the edge list every iteration
    outdeg = scoped_persist(
        e.groupBy(F.col("__src").alias("node")).agg(
            F.count(F.lit(1)).alias("__outdeg")
        )
    )
    # graph size as an in-plan 1-row aggregate (the corpus-N broadcast
    # pattern from text_tfidf) — plan builds without executing a job
    params = nodes.agg(F.count(F.lit(1)).alias("__n")).select(
        F.expr(f"cast({int(scale)} as bigint) div __n").alias("__r0"),
        F.expr(
            f"(({100 - damping_pct}) * (cast({int(scale)} as bigint) div __n))"
            " div 100"
        ).alias("__base"),
    )
    ranks = nodes.join(F.broadcast(params)).select(
        "node", F.col("__r0").cast("bigint").alias("rank")
    )
    for _ in range(iters):
        # rank and degree vectors are node-sized; broadcasting them keeps
        # the edge table exchange-FREE every round (one tiny
        # post-partial-agg shuffle per iteration instead of re-shuffling
        # |E| rows on src — both moves together measured ~10s → ~2s warm
        # at sf0.1 on the 1.2M-edge co-purchase graph). Valid while the
        # node set fits a broadcast (here 16k).
        share = ranks.join(F.broadcast(outdeg), "node").select(
            "node",
            F.expr("rank div __outdeg").cast("bigint").alias("__share"),
        )
        contrib = (
            e.join(F.broadcast(share), F.col("__src") == F.col("node"))
            .groupBy(F.col("__dst").alias("node"))
            .agg(F.sum("__share").alias("__in"))
        )
        ranks = (
            nodes.join(F.broadcast(contrib), "node", "left")
            .join(F.broadcast(params))
            .select(
                "node",
                (
                    F.col("__base").cast("bigint")
                    + F.expr(
                        f"({damping_pct} * coalesce(__in, 0)) div 100"
                    ).cast("bigint")
                ).alias("rank"),
            )
        )
    return ranks


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    algorithm: str = "star",
) -> DataFrame:
    """Component label (the minimum node id in the component) per node.

    Nodes are whatever ids appear in ``edges``; output is
    ``id, component``. Deterministic: min-labels are order-insensitive
    and both algorithms provably converge to the same labeling.
    Raises if the fixpoint is not reached within ``max_iter`` rounds
    (a correctness guard — silent truncation would mislabel components).
    """
    if algorithm == "star":
        return _cc_star(edges, src, dst, max_iter)
    if algorithm != "min_label":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = und.union(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    und = und.localCheckpoint(eager=True)

    # Round 0 needs no join: initial labels are the ids themselves, so
    # the neighbor-minimum IS min(id, min(neighbors)) straight off the
    # (bidirectional) edge set — one aggregation replaces the former
    # distinct-ids checkpoint + first join round.
    labels = (
        und.groupBy("a")
        .agg(F.least(F.min("b"), F.col("a")).alias("label"))
        .select(F.col("a").alias("id"), "label")
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # Propagate + fixpoint-test in ONE materialization: the self row
        # is tagged so the pre-round label rides the aggregation
        # (min over tag=1 rows — exactly one per id), and the changed
        # count is then a cheap scan of the checkpointed result instead
        # of a second join+shuffle job per round (2 jobs/round → 1 job +
        # 1 local-scan count).
        nbr = und.join(
            labels.select(F.col("id").alias("b"), "label"), "b"
        ).select(F.col("a").alias("id"), "label", F.lit(0).alias("__t"))
        new_labels = (
            nbr.union(labels.select("id", "label", F.lit(1).alias("__t")))
            .groupBy("id")
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("__t") == 1, F.col("label"))).alias("__old"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("label") != F.col("__old")).count()
        labels = new_labels.select("id", "label")
        if changed == 0:
            return labels.select(F.col("id"), F.col("label").alias("component"))
    raise RuntimeError(f"connected_components: no fixpoint after {max_iter} rounds")


def _cc_star(edges: DataFrame, src: str, dst: str, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star (Kiveris et al., SoCC'14).

    Large-star (per node u over its undirected neighborhood N(u)):
    link every strictly-larger neighbor to m = min(N(u) ∪ {u}).
    Small-star (per node u over its smaller neighbors, edges oriented
    big→small): link every neighbor and u itself to m. Both steps
    preserve connectivity; their alternation contracts any component onto
    a star centered at its minimum node in O(log n) rounds. Convergence
    test: the canonical (big, small) edge set stops changing.
    """
    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    nodes = (
        raw.select(F.col("a").alias("id"))
        .union(raw.select(F.col("b").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # canonical orientation big → small; self-loops carry no connectivity
    e = (
        raw.filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    def _sig(df: DataFrame):
        # bit_xor: order-insensitive over the (distinct) edge set and
        # cannot overflow (sum would under ANSI mode)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("a", "b")).alias("h"),
        ).first()
        return row["n"], row["h"]

    for _ in range(max_iter):
        # --- large-star: centers see the full undirected neighborhood
        bi = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = bi.groupBy("a").agg(F.min("b").alias("mn"))
        mins = mins.select("a", F.least(F.col("a"), F.col("mn")).alias("m"))
        large = (
            bi.join(mins, "a")
            .filter(F.col("b") > F.col("a"))  # strictly-larger neighbors
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .distinct()
        )
        # --- small-star: edges already oriented a > b after large-star
        mins2 = large.groupBy("a").agg(F.min("b").alias("m"))
        small = (
            large.join(mins2, "a")
            .filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(mins2.select(F.col("a"), F.col("m").alias("b")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # Cheap fixpoint probe: (count, order-insensitive hash-sum) of the
        # canonical edge set — one aggregate per round instead of two
        # exceptAll shuffles. On probe equality, confirm EXACTLY once with
        # exceptAll (the hash-sum could collide in principle; the exact
        # pass makes termination sound, and it runs once, not per round).
        if _sig(small) == _sig(e):
            exact_same = (
                small.exceptAll(e).union(e.exceptAll(small)).limit(1).count() == 0
            )
            e = small
            if exact_same:
                break
        else:
            e = small
    else:
        raise RuntimeError(
            f"connected_components(star): no fixpoint after {max_iter} rounds"
        )
    # fixpoint edge set is a union of stars (v → component min)
    labels = e.select(F.col("a").alias("id"), F.col("b").alias("component")).union(
        e.select(F.col("b").alias("id"), F.col("b").alias("component")).distinct()
    )
    return nodes.join(labels, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Cluster every document: near-dup components get their min-id as
    ``cluster``; documents in no pair are their own singleton cluster.
    The downstream survivor rule is then one filter:
    ``cluster == id`` keeps exactly one doc per cluster.

    Runs min-label: near-dup cluster graphs are shallow BY CONSTRUCTION
    (verified pairs form cliques-ish blobs, diameter ~2-3), where
    min-label's lighter rounds beat star's on every registered closure
    face at sf0.1 (5.2-6.1 s vs 9.5-11.4 s; the per-face numbers are in
    the module docstring).
    """
    comp = connected_components(pairs, src, dst, algorithm="min_label")
    return (
        docs.select(F.col(id_col))
        .join(comp, docs[id_col] == comp["id"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster"),
        )
    )

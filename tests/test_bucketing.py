"""Bucketed join: no Exchange on either side, identical results to the
shuffled join."""

from __future__ import annotations

from analysis_of_flight_delay_data_by_mapreduce_spark.operators.bucketing import (
    write_bucketed,
)
from analysis_of_flight_delay_data_by_mapreduce_spark.plans.inspect import plan_text
from analysis_of_flight_delay_data_by_mapreduce_spark.sources import read_parquet_table

from conftest import SF_DIR


def test_bucketed_join_no_shuffle(spark):
    li = read_parquet_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_quantity"
    ).withColumnRenamed("l_orderkey", "okey")
    orders = read_parquet_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice"
    ).withColumnRenamed("o_orderkey", "okey")

    write_bucketed(li, "li_bucketed", "okey", n_buckets=8)
    write_bucketed(orders, "orders_bucketed", "okey", n_buckets=8)

    # the MERGE hint: at test scale Catalyst would otherwise broadcast the
    # small side; the hint shows the bucketed sort-merge plan a
    # fact-to-fact join takes when neither side fits in memory
    joined = (
        spark.table("li_bucketed")
        .hint("merge")
        .join(spark.table("orders_bucketed"), "okey")
    )
    txt = plan_text(joined, "simple")
    assert "Exchange" not in txt  # co-located buckets: zero shuffles
    assert "SortMergeJoin" in txt

    # results identical to the plain (shuffled) join
    plain = li.join(orders, "okey")
    assert joined.count() == plain.count()


def test_band_index_join_reads_history_without_exchange(spark):
    """The materialized MinHash band index: candidates of an increment
    against the bucketed history equal the in-plan between-matcher's
    candidate set, and the HISTORY side of the join plans with no
    Exchange (its bucketed layout satisfies the join distribution) —
    the write-once posture that stops re-hashing 100 TB per increment."""
    from pyspark.sql import functions as F

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.dedup import (
        build_band_index,
        minhash_candidates_against_index,
        minhash_matches_between,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.plans.inspect import (
        plan_text,
    )

    docs = read_parquet_table(spark, SF_DIR, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 4)
    old = docs.filter(F.col("doc_id") % 5 != 4)

    build_band_index(old, "band_index_hist", "doc_id", "text")
    cand = minhash_candidates_against_index(
        spark, new, "band_index_hist", "doc_id", "text"
    )
    got = {(r.new_id, r.old_id) for r in cand.collect()}
    want = {
        (r.new_id, r.old_id)
        for r in minhash_matches_between(
            new, old, "doc_id", "text", verify_jaccard=None, max_bucket=None
        ).collect()
    }
    assert got == want and got  # same candidates, non-empty

    txt = plan_text(cand, "simple")
    # exactly one exchange pair feeds the join: the increment side (plus
    # the distinct's own exchange); the bucketed scan must contribute none.
    scan_part = txt[txt.index("FileScan") :] if "FileScan" in txt else txt
    lines = txt.splitlines()
    scan_idx = max(i for i, l in enumerate(lines) if "band_index_hist" in l)
    assert not any(
        "Exchange" in l for l in lines[scan_idx - 2 : scan_idx + 1]
    ), "history side must read co-located buckets without a shuffle"
    assert "SortMergeJoin" in txt

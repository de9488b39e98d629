"""Runtime Bloom-filter pruning (operators.bloom): zero false negatives
by construction, bounded false-positive rate, exact-result equality of
the pruned semi-join, and parameter validation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from analysis_of_flight_delay_data_by_mapreduce_spark.operators.bloom import (
    bloom_build_spark,
    bloom_params,
    bloom_prune,
)


def test_spark_built_filter_no_false_negatives_and_fp_bound(spark):
    dim = spark.range(0, 5000, 5).withColumnRenamed("id", "key")
    m, k = bloom_params(dim.count())
    words = bloom_build_spark(dim, "key", m, k)
    assert len(words) * 64 == m
    facts = spark.range(0, 30000)
    passed = bloom_prune(facts, "id", words, m, k)
    member = passed.filter((F.col("id") % 5 == 0) & (F.col("id") < 5000))
    assert member.count() == 1000  # every dim key survives
    fp = passed.count() - 1000
    assert fp / (30000 - 1000) < 0.01


def test_pruned_semijoin_result_is_exact(spark):
    """bloom_prune + exact semi-join == plain semi-join, row for row —
    the property that keeps the registered query's oracle Bloom-free."""
    dim = spark.range(0, 400, 7).withColumnRenamed("id", "key")
    m, k = bloom_params(dim.count())
    words = bloom_build_spark(dim, "key", m, k)
    facts = spark.range(0, 4000)
    plain = facts.join(dim, facts["id"] == dim["key"], "left_semi")
    pruned = bloom_prune(facts, "id", words, m, k).join(
        dim, F.col("id") == dim["key"], "left_semi"
    )
    assert pruned.exceptAll(plain).count() == 0
    assert plain.exceptAll(pruned).count() == 0
    assert plain.count() == dim.count()  # every dim key occurs in facts


def test_bloom_prune_filters_before_any_exchange(spark):
    """The probe predicate must sit in a Filter directly over the scan —
    pruning AFTER a shuffle would defeat the operator's purpose."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.plans.inspect import (
        plan_text,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.plans.synthetic import (
        QUERIES,
    )

    df = QUERIES["orders_bloom_semijoin"](spark, "/root/testdata/sf0.001")
    txt = plan_text(df, "simple")
    # tree prints top-down: the fact-side Exchange must appear ABOVE the
    # getbit Filter, i.e. the probes execute before the shuffle
    assert txt.index("Exchange hashpartitioning(o_custkey") < txt.index("getbit")
    assert "ShuffledHashJoin" in txt and "LeftSemi" in txt
    assert "BroadcastHashJoin" not in txt  # models non-broadcastable dim


def test_parameter_validation(spark):
    dim = spark.range(0, 10).withColumnRenamed("id", "key")
    with pytest.raises(ValueError):
        bloom_build_spark(dim, "key", 100)  # not a power of two
    with pytest.raises(ValueError):
        bloom_build_spark(dim, "key", 128, k=8)  # overflow bound
    with pytest.raises(ValueError):
        bloom_prune(dim, "key", [0, 0], 64)  # words/m mismatch
    with pytest.raises(ValueError):
        bloom_prune(dim, "key", [0], 64, k=8)  # overflow bound
    m, k = bloom_params(1000)
    assert m == 16384 and k == 7


def test_xxhash_bloom_is_key_type_insensitive(spark):
    """xxhash64 hashes int and bigint encodings of the same value
    differently; the filter must normalize, or an int-typed dim key
    against a bigint fact key silently drops every true match."""
    dim = spark.range(0, 200, 2).select(F.col("id").cast("int").alias("key"))
    m, k = bloom_params(100)
    words = bloom_build_spark(dim, "key", m, k)
    facts = spark.range(0, 200)  # bigint ids
    passed = bloom_prune(facts, "id", words, m, k)
    assert passed.filter(F.col("id") % 2 == 0).count() == 100  # no FNs

"""CSV/weblog/text reader dialect tests (SURVEY §1.3, §2.1)."""

from __future__ import annotations

import textwrap

from pyspark.sql import functions as F

from analysis_of_flight_delay_data_by_mapreduce_spark.sources import (
    read_flight_csv,
    read_text_corpus,
    read_weblog,
)

_HEADER = (
    "run_date,reporting_period,reporting_airport,origin_destination_country,"
    "origin_destination,airline_name,arrival_departure,scheduled_charter,"
    "number_flights_matched,actual_flights_unmatched,"
    "early_to_15_mins_late_percent,flts_16_to_30_mins_late_percent,"
    "flts_31_to_60_mins_late_percent,flts_61_to_180_mins_late_percent,"
    "flts_181_to_360_mins_late_percent,more_than_360_mins_late_percent,"
    "average_delay_mins,planned_flights_unmatched,"
    "previous_year_month_flights_matched,"
    "previous_year_month_early_to_15_mins_late_percent,"
    "previous_year_month_average_delay"
)


def test_read_flight_csv_dialect(tmp_path, spark):
    # space-padded numerics, a quoted field with a comma, and a blank line —
    # the reference's dialect quirks (SURVEY §1.3) minus its quote-retention bug
    csv = _HEADER + "\n" + textwrap.dedent(
        """\
        05-Apr-2011 13:31,201101,BIRMINGHAM,BELGIUM,BRUSSELS,"AIR, QUOTED",A,S, 109 , 0 , 92.5 , 2.7 , 0.9 , 2.7 , 0.9 , 0 , 6.3 , 0 , 106 , 76.4 , 13.7

        05-Apr-2011 13:31,201102,LEEDS,SPAIN,MADRID,PLAIN AIR,D,C, 5 , 0 , 60 , 20 , 0 , 20 , 0 , 0 , 37.2 , 0 , 5 , 60 , 13.6
        """
    )
    p = tmp_path / "flights.csv"
    p.write_text(csv)
    df = read_flight_csv(spark, str(p))
    rows = sorted(df.collect(), key=lambda r: r.reporting_period)
    assert len(rows) == 2  # header consumed, blank line dropped
    r = rows[0]
    assert r.airline_name == "AIR, QUOTED"  # quotes parsed, not retained
    assert r.number_flights_matched == 109  # padded int trimmed + cast
    assert abs(r.average_delay_mins - 6.3) < 1e-9
    assert rows[1].scheduled_charter == "C"


def test_read_weblog(tmp_path, spark):
    p = tmp_path / "weblog.txt"
    p.write_text("alice 2017-01-01 /a\n\nbob   2017-01-02   /b\n")
    rows = sorted(read_weblog(spark, str(p)).collect())
    assert [tuple(r) for r in rows] == [
        ("alice", "2017-01-01", "/a"),
        ("bob", "2017-01-02", "/b"),
    ]


def test_read_text_corpus(tmp_path, spark):
    p = tmp_path / "corpus.txt"
    p.write_text("hello world\nsecond line\n")
    assert read_text_corpus(spark, str(p)).columns == ["line"]
    assert read_text_corpus(spark, str(p)).count() == 2


def test_sink_roundtrip_parquet_partitioned(tmp_path, spark):
    from analysis_of_flight_delay_data_by_mapreduce_spark.sources import (
        read_parquet_table,
        write_parquet,
    )
    from conftest import SF_DIR

    ev = read_parquet_table(spark, SF_DIR, "events").limit(200)
    out = str(tmp_path / "ev_parts")
    write_parquet(ev, out, partition_by=["event_type"])
    back = spark.read.parquet(out)
    assert back.count() == 200
    # hive-style layout → partition pruning is physical
    import os

    assert any(d.startswith("event_type=") for d in os.listdir(out))
    from analysis_of_flight_delay_data_by_mapreduce_spark.plans.inspect import plan_text

    txt = plan_text(back.filter(back.event_type == "purchase"))
    assert "PartitionFilters: [isnotnull(event_type" in txt


def test_sink_tsv(tmp_path, spark):
    from analysis_of_flight_delay_data_by_mapreduce_spark.sources import write_tsv

    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    out = str(tmp_path / "tsv")
    write_tsv(df, out)
    lines = sorted(
        l for p in __import__("pathlib").Path(out).glob("part-*") for l in p.read_text().splitlines()
    )
    assert lines == ["a\t1", "b\t2"]


def test_read_jsonl_explicit_schema_and_corrupt_quarantine(spark, tmp_path):
    """JSONL with explicit schema: typed fields come back exact; a
    malformed line is quarantined in _corrupt_record, not an error."""
    from pyspark.sql import types as T

    from analysis_of_flight_delay_data_by_mapreduce_spark.sources.readers import read_jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world", "score": 0.5}\n'
        "not json at all\n"
        '{"doc_id": 2, "text": "bye", "score": 1.25}\n'
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    df = read_jsonl(spark, str(p), schema)
    rows = df.collect()
    good = {r.doc_id: (r.text, r.score) for r in rows if r._corrupt_record is None}
    bad = [r._corrupt_record for r in rows if r._corrupt_record is not None]
    assert good == {1: ("hello world", 0.5), 2: ("bye", 1.25)}
    assert bad == ["not json at all"]


def test_write_training_shards_layout_and_determinism(spark, tmp_path):
    """Split/shard partitioned write: hive layout on disk, every row in
    exactly one (split, shard), and the assignment is identical when
    written twice (id-hash, not rand)."""
    import os

    from analysis_of_flight_delay_data_by_mapreduce_spark.sources import read_parquet_table
    from analysis_of_flight_delay_data_by_mapreduce_spark.sources.sinks import (
        write_training_shards,
    )
    from conftest import SF_DIR

    docs = read_parquet_table(spark, SF_DIR, "documents").select("doc_id", "text")
    out1, out2 = str(tmp_path / "run1"), str(tmp_path / "run2")
    write_training_shards(docs, out1, "doc_id", n_shards=4)
    write_training_shards(docs, out2, "doc_id", n_shards=4)

    splits = sorted(d for d in os.listdir(out1) if d.startswith("split="))
    assert splits == ["split=test", "split=train", "split=val"]

    back1 = spark.read.parquet(out1).select("doc_id", "split", "shard")
    back2 = spark.read.parquet(out2).select("doc_id", "split", "shard")
    a = {r.doc_id: (r.split, r.shard) for r in back1.collect()}
    b = {r.doc_id: (r.split, r.shard) for r in back2.collect()}
    assert a == b  # deterministic across runs
    assert len(a) == docs.count()  # every row exactly once
    assert all(0 <= s < 4 for _, s in a.values())
    # pruning: reading one split dir touches only that split
    train_only = spark.read.parquet(out1).filter("split = 'train'")
    assert 0 < train_only.count() < len(a)


def test_upsert_partitions_replaces_only_present_days(spark, tmp_path):
    """Dynamic partition overwrite: re-writing one day replaces exactly
    that day's partition (idempotent retry) and leaves others untouched."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.sources.sinks import (
        upsert_partitions,
    )

    path = str(tmp_path / "lake")
    day1 = [(1, "2024-01-01", 10.0), (2, "2024-01-01", 20.0)]
    day2 = [(3, "2024-01-02", 30.0)]
    schema = "id long, day string, v double"
    upsert_partitions(spark.createDataFrame(day1 + day2, schema), path, ["day"])

    # re-run day2 with corrected data: only day2 changes
    fixed_day2 = [(3, "2024-01-02", 99.0), (4, "2024-01-02", 40.0)]
    upsert_partitions(spark.createDataFrame(fixed_day2, schema), path, ["day"])

    # hive partition discovery type-infers the day column as DATE
    got = {
        (r.id, str(r.day)): r.v for r in spark.read.parquet(path).collect()
    }
    assert got == {
        (1, "2024-01-01"): 10.0,
        (2, "2024-01-01"): 20.0,
        (3, "2024-01-02"): 99.0,
        (4, "2024-01-02"): 40.0,
    }
    # partition pruning still works on the layout
    one_day = spark.read.parquet(path).filter("day = '2024-01-01'")
    assert one_day.count() == 2


def test_orc_roundtrip_pushdown_and_partition_pruning(spark, tmp_path):
    """ORC sink/scan parity with parquet: values round-trip, filters reach
    the ORC scan (PushedFilters), unused columns are pruned from
    ReadSchema, and hive partitioning prunes directories."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.sources.readers import (
        read_orc,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.sources.sinks import (
        write_orc,
    )

    df = spark.createDataFrame(
        [(i, f"u{i % 3}", float(i)) for i in range(100)],
        "id long, bucket string, v double",
    )
    path = str(tmp_path / "orc_plain")
    write_orc(df, path)
    back = read_orc(spark, path)
    assert sorted(r.id for r in back.collect()) == list(range(100))

    flt = back.filter(F.col("id") > 90).select("id")
    txt = flt._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,90)]" in txt
    read_schema = next(l for l in txt.splitlines() if "ReadSchema" in l)
    assert "bucket" not in read_schema and "v" not in read_schema

    part_path = str(tmp_path / "orc_part")
    write_orc(df, part_path, partition_by=["bucket"])
    pruned = read_orc(spark, part_path).filter(F.col("bucket") == "u1")
    ptxt = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in ptxt
    assert pruned.count() == 33


def test_compact_parquet_merges_small_files(spark, tmp_path):
    """Compaction collapses a many-tiny-files directory to the computed
    target count, preserves every row, and survives re-reading."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.sources.sinks import (
        compact_parquet,
    )

    p = str(tmp_path / "frag")
    df = spark.range(0, 10_000).withColumnRenamed("id", "v")
    df.repartition(64).write.parquet(p)  # 64 tiny files
    import glob

    assert len(glob.glob(f"{p}/part-*.parquet")) == 64
    before = df.count()
    n = compact_parquet(spark, p, target_file_bytes=1 << 30)  # everything fits one
    files = glob.glob(f"{p}/part-*.parquet")
    assert n == 1 and len(files) == 1
    back = spark.read.parquet(p)
    assert back.count() == before
    assert back.agg({"v": "sum"}).first()[0] == sum(range(10_000))
    # no leftover staging dirs
    import os

    assert not os.path.exists(p + "__compact_tmp")
    assert not os.path.exists(p + "__compact_old")


def test_compact_parquet_preserves_hive_partitions(spark, tmp_path):
    """Partitioned directories compact one leaf at a time: the hive layout
    (and its partition pruning) survives, partition columns do NOT
    flatten into the data files, and rows are preserved."""
    import glob

    from analysis_of_flight_delay_data_by_mapreduce_spark.sources.sinks import (
        compact_parquet,
    )

    p = str(tmp_path / "hive")
    df = spark.range(0, 6_000).select(
        F.col("id").alias("v"), (F.col("id") % 3).cast("string").alias("pt")
    )
    df.repartition(16).write.partitionBy("pt").parquet(p)
    assert len(glob.glob(f"{p}/pt=*/part-*.parquet")) > 3

    n = compact_parquet(spark, p, target_file_bytes=1 << 30)
    assert n == 3  # one file per partition leaf
    for k in range(3):
        leaf = glob.glob(f"{p}/pt={k}/part-*.parquet")
        assert len(leaf) == 1
        import pyarrow.parquet as pq

        # partition column stays in the directory name, not the file
        assert "pt" not in pq.ParquetFile(leaf[0]).schema_arrow.names

    back = spark.read.parquet(p)
    assert back.count() == 6_000
    pruned = back.filter(F.col("pt") == "1")
    ptxt = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in ptxt and pruned.count() == 2_000

    # already-compact: a re-run is a no-op with the same file count
    assert compact_parquet(spark, p, target_file_bytes=1 << 30) == 3


def test_compact_parquet_stale_staging_dirs(spark, tmp_path):
    """A stale tmp dir (partial rewrite of ours) is cleaned and redone; a
    stale backup dir (original data from a crashed swap) refuses — Hadoop
    rename would otherwise NEST the source inside it."""
    import glob
    import os

    import pytest as _pytest

    from analysis_of_flight_delay_data_by_mapreduce_spark.sources.sinks import (
        compact_parquet,
    )

    p = str(tmp_path / "frag2")
    df = spark.range(0, 1_000).withColumnRenamed("id", "v")
    df.repartition(8).write.parquet(p)

    os.makedirs(p + "__compact_tmp/garbage", exist_ok=True)
    assert compact_parquet(spark, p, target_file_bytes=1 << 30) == 1
    assert not os.path.exists(p + "__compact_tmp")
    assert spark.read.parquet(p).count() == 1_000

    q = str(tmp_path / "frag3")
    df.repartition(8).write.parquet(q)
    os.makedirs(q + "__compact_old", exist_ok=True)
    with _pytest.raises(IOError, match="crashed compaction"):
        compact_parquet(spark, q, target_file_bytes=1 << 30)
    # original directory untouched
    assert len(glob.glob(f"{q}/part-*.parquet")) == 8


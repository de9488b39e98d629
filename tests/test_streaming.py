"""Streaming layer: the same transform must produce identical results via
readStream (availableNow) and plain batch read — the batch/stream parity
contract from SURVEY §7.3."""

from __future__ import annotations

from analysis_of_flight_delay_data_by_mapreduce_spark.sources import read_parquet_table
from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.windows import (
    read_events_stream,
    run_stream_to_memory,
    sessionized_counts,
    windowed_event_counts,
)

from conftest import SF_DIR


def test_windowed_counts_stream_equals_batch(spark):
    batch = windowed_event_counts(read_parquet_table(spark, SF_DIR, "events"))
    expected = {
        (r.window_start, r.event_type): (r.n, r.value_cents) for r in batch.collect()
    }

    stream = read_events_stream(spark, SF_DIR)
    agg = windowed_event_counts(stream, watermark="30 minutes")
    q = run_stream_to_memory(agg, "win_counts", mode="complete")
    try:
        got = {
            (r.window_start, r.event_type): (r.n, r.value_cents)
            for r in spark.sql("SELECT * FROM win_counts").collect()
        }
    finally:
        q.stop()
    assert got == expected
    assert len(got) > 0


def test_sessionized_counts_batch(spark):
    ev = read_parquet_table(spark, SF_DIR, "events")
    sessions = sessionized_counts(ev, gap="30 minutes")
    rows = sessions.collect()
    assert len(rows) > 0
    assert sum(r.n for r in rows) == ev.count()  # every event in exactly one session
    assert all(r.session_end > r.session_start for r in rows)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Rows older than the watermark at batch boundaries are dropped: two
    files processed as separate micro-batches; the second contains a row
    far older than the first batch's max ts."""
    import pandas as pd
    from pyspark.sql import functions as F

    land = tmp_path / "landing"
    land.mkdir()

    def write_batch(name, rows):
        pdf = pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": [pd.Timestamp(r[1]).value for r in rows],  # int64 nanos
                "user_id": [1] * len(rows),
                "event_type": ["x"] * len(rows),
                "value": [1.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        )
        pdf.to_parquet(land / name)

    from analysis_of_flight_delay_data_by_mapreduce_spark.schema import EVENTS
    from pyspark.sql import types as T

    raw_schema = T.StructType(
        [T.StructField(f.name, T.LongType()) if f.name == "ts" else f for f in EVENTS.fields]
    )
    ckpt = str(tmp_path / "ckpt")

    def run_once(qname):
        stream = (
            spark.readStream.schema(raw_schema)
            .format("parquet")
            .load(str(land))
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )
        agg = windowed_event_counts(stream, window="1 hour", watermark="30 minutes")
        updates: list = []

        def sink(batch_df, _epoch):
            updates.extend(batch_df.collect())

        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(sink)
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        out: dict[str, int] = {}
        for r in updates:
            k = str(r.window_start)
            out[k] = max(out.get(k, 0), r.n)
        return out

    # run 1: only fresh rows; advances the persisted watermark to 10:20
    write_batch("b1.parquet", [(1, "2024-01-01 10:05"), (2, "2024-01-01 10:50")])
    got1 = run_once("late_run1")
    assert got1.get("2024-01-01 10:00:00") == 2

    # run 2 (same checkpoint): one row far below the watermark, one fresh
    write_batch("b2.parquet", [(3, "2024-01-01 08:00"), (4, "2024-01-01 10:55")])
    got2 = run_once("late_run2")
    # the 08:00 row is dropped (window end 09:00 < watermark 10:20);
    # the 10:55 row updates the 10:00 window
    assert got2.get("2024-01-01 10:00:00") == 3
    assert "2024-01-01 08:00:00" not in got2


def test_sessionized_counts_stream_equals_batch(spark):
    """Native session_window through readStream (availableNow) must equal
    the same transform over a batch read — gap-merge semantics and counts
    identical; the batch face is also oracle-checked (events_session_window)."""
    batch = sessionized_counts(
        read_parquet_table(spark, SF_DIR, "events"), gap="30 minutes"
    )
    expected = {
        (r.user_id, r.session_start, r.session_end): r.n for r in batch.collect()
    }

    stream = read_events_stream(spark, SF_DIR)
    agg = sessionized_counts(stream, gap="30 minutes")
    q = run_stream_to_memory(agg, "sess_counts", mode="complete")
    try:
        got = {
            (r.user_id, r.session_start, r.session_end): r.n
            for r in spark.sql("SELECT * FROM sess_counts").collect()
        }
    finally:
        q.stop()
    assert got == expected
    assert len(got) > 0


def test_sliding_counts_stream_equals_batch(spark):
    """Sliding (1h/15m) windowed counts through readStream (availableNow)
    must equal the same transform over a batch read; the batch face is
    also oracle-checked (events_sliding)."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.windows import sliding_event_counts

    batch = sliding_event_counts(read_parquet_table(spark, SF_DIR, "events"))
    expected = {(r.window_start, r.event_type): r.n for r in batch.collect()}

    stream = read_events_stream(spark, SF_DIR)
    agg = sliding_event_counts(stream)
    q = run_stream_to_memory(agg, "slide_counts", mode="complete")
    try:
        got = {
            (r.window_start, r.event_type): r.n
            for r in spark.sql("SELECT * FROM slide_counts").collect()
        }
    finally:
        q.stop()
    assert got == expected
    assert len(got) > 0


def test_interval_join_stream_equals_batch(spark):
    """Stream-stream interval join (purchase → error within 1h per user),
    both sides watermarked, must equal the identical transform on batch
    frames. Append mode: watermarked stream-stream inner joins emit each
    match exactly once."""
    from pyspark.sql import functions as F

    from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.joins import (
        interval_join_streams,
    )

    ev = read_parquet_table(spark, SF_DIR, "events")
    batch = interval_join_streams(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "error"),
    )
    expected = sorted((r.user_id, r.l_ts, r.r_ts) for r in batch.collect())
    assert len(expected) > 0

    stream = read_events_stream(spark, SF_DIR)
    joined = interval_join_streams(
        stream.filter(F.col("event_type") == "purchase"),
        stream.filter(F.col("event_type") == "error"),
    )
    q = run_stream_to_memory(joined, "sjoin", mode="append")
    try:
        got = sorted(
            (r.user_id, r.l_ts, r.r_ts)
            for r in spark.sql("SELECT * FROM sjoin").collect()
        )
    finally:
        q.stop()
    assert got == expected


def test_stream_dedup_drops_duplicates_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: re-sent events inside the horizon are
    dropped; the deduped stream equals batch dropDuplicates on the same
    landing data."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.windows import (
        dedup_events_stream,
    )

    land = tmp_path / "landing"
    land.mkdir()
    rows = [
        (1, "2024-01-01 10:00:00", 7, "view", 1.0),
        (1, "2024-01-01 10:00:00", 7, "view", 1.0),  # duplicate arrival
        (2, "2024-01-01 10:05:00", 7, "click", 2.0),
        (2, "2024-01-01 10:05:00", 7, "click", 2.0),  # duplicate arrival
        (3, "2024-01-01 10:06:00", 8, "view", 3.0),
    ]
    pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": [pd.Timestamp(r[1]) for r in rows],
            "user_id": [r[2] for r in rows],
            "event_type": [r[3] for r in rows],
            "value": [r[4] for r in rows],
        }
    ).to_parquet(land / "batch1.parquet", coerce_timestamps="us")

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = spark.readStream.schema(schema).format("parquet").load(str(land))
    deduped = dedup_events_stream(stream, ["event_id"])
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("sdedup")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        got = sorted(
            (r.event_id, r.event_type)
            for r in spark.sql("SELECT * FROM sdedup").collect()
        )
    finally:
        q.stop()
    from datetime import datetime

    batch = spark.createDataFrame(
        [
            (r[0], datetime.fromisoformat(r[1]), r[2], r[3], r[4])
            for r in rows
        ],
        schema,
    )
    expected = sorted(
        (r.event_id, r.event_type)
        for r in dedup_events_stream(batch, ["event_id"]).collect()
    )
    assert got == expected == [(1, "view"), (2, "click"), (3, "view")]


def test_stream_static_enrichment_parity(spark):
    """Stream-static join: purchase events (stream) enriched against the
    customer dimension (static broadcast), aggregated per segment — must
    equal the same transform on a batch read (oracle-checked as
    events_segment_spend)."""
    from pyspark.sql import functions as F

    from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.joins import (
        enrich_with_dim,
    )

    cust = read_parquet_table(spark, SF_DIR, "customer").select(
        "c_custkey", "c_mktsegment"
    )

    def agg(ev):
        return enrich_with_dim(
            ev.filter(F.col("event_type") == "purchase"), cust
        ).groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("spend_cents"),
        )

    batch = agg(read_parquet_table(spark, SF_DIR, "events"))
    expected = {r.c_mktsegment: (r.n, r.spend_cents) for r in batch.collect()}

    q = run_stream_to_memory(
        agg(read_events_stream(spark, SF_DIR)), "seg_spend", mode="complete"
    )
    try:
        got = {
            r.c_mktsegment: (r.n, r.spend_cents)
            for r in spark.sql("SELECT * FROM seg_spend").collect()
        }
    finally:
        q.stop()
    assert got == expected
    assert len(got) > 0


def test_stream_upsert_sink_matches_batch_and_is_idempotent(spark, tmp_path):
    """foreachBatch + dynamic partition overwrite: the streamed
    (day, type)-partitioned rollup equals the batch rollup, and replaying
    the whole stream from a fresh checkpoint rewrites the same partitions
    with the same data — no duplicates (the exactly-once-per-partition
    claim)."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.sinks import (
        stream_daily_type_counts_upsert,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.windows import (
        read_events_stream,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.sources.readers import (
        read_parquet_table,
    )

    sf_dir = "/root/testdata/sf0.001"
    out = str(tmp_path / "rollup")

    def run(ckpt_name):
        stream_daily_type_counts_upsert(
            read_events_stream(spark, sf_dir), out, str(tmp_path / ckpt_name)
        )
        rows = {
            (str(r.day), r.event_type): r.n
            for r in spark.read.parquet(out).collect()
        }
        return rows

    got = run("ckpt1")

    from pyspark.sql import functions as F

    ev = read_parquet_table(spark, sf_dir, "events")
    want = {
        (str(r.day), r.event_type): r.n
        for r in ev.groupBy(
            F.to_date("ts").alias("day"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want

    # full replay from a fresh checkpoint: same partitions, same values
    assert run("ckpt2") == want


def test_stream_dedup_against_index_matches_batch(spark):
    """Streaming incremental dedup == batch face: the surviving
    fingerprint set from the streamed new batch (anti-joined against the
    static history) equals the same operator applied to batch frames."""
    from pyspark.sql import functions as F

    from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.dedup import (
        dedup_stream_against_index,
        read_documents_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    batch_docs = read_parquet_table(spark, sf_dir, "documents")
    new_b = batch_docs.filter(F.col("doc_id") % 5 == 4)
    old_b = batch_docs.filter(F.col("doc_id") % 5 != 4)

    want = {
        r.fp for r in dedup_stream_against_index(new_b, old_b).collect()
    }
    assert want  # fixture sanity: the new batch has exact-new docs

    stream_new = read_documents_stream(spark, sf_dir).filter(
        F.col("doc_id") % 5 == 4
    )
    surv = dedup_stream_against_index(stream_new, old_b)
    q = run_stream_to_memory(surv, "inc_dedup", mode="append")
    got = {r.fp for r in spark.sql("SELECT fp FROM inc_dedup").collect()}
    q.stop()
    assert got == want


def test_stream_minhash_dedup_matches_batch(spark, tmp_path):
    """Streaming MinHash-LSH incremental dedup == batch stage, including
    across a micro-batch split: the union of per-epoch survivors equals
    the whole-batch survivors (decisions are per-document against the
    static index), and survivors are exactly the docs with no verified
    near-dup in the index."""
    from pyspark.sql import functions as F

    from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.dedup import (
        dedup_stream_against_index_minhash,
        run_minhash_dedup_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    docs = read_parquet_table(spark, sf_dir, "documents")
    new_b = docs.filter(F.col("doc_id") % 5 == 4)
    old_b = docs.filter(F.col("doc_id") % 5 != 4)

    batch_surv = dedup_stream_against_index_minhash(
        new_b, old_b, threshold=0.3
    )
    want = {r.doc_id for r in batch_surv.select("doc_id").collect()}
    n_new = new_b.count()
    assert 0 < len(want) < n_new  # fixture sanity: some dupes, some new

    # two-file landing dir -> two micro-batches (maxFilesPerTrigger=1)
    land = str(tmp_path / "land")
    new_b.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        land, mode="overwrite"
    )
    new_b.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(land)
    stream = (
        spark.readStream.schema(new_b.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(land)
    )
    out = str(tmp_path / "surv")
    q = run_minhash_dedup_stream(
        stream, old_b, out, str(tmp_path / "ckpt"), threshold=0.3
    )
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    assert got == want

    # epoch replay must NOT duplicate survivors (ADVICE r5): a fresh
    # checkpoint reprocesses every epoch against the same sink — the
    # epoch-partitioned idempotent overwrite rewrites the same
    # partitions, where a blind append would double every row
    q2 = run_minhash_dedup_stream(
        stream, old_b, out, str(tmp_path / "ckpt-replay"), threshold=0.3
    )
    q2.awaitTermination(120)
    replayed = spark.read.parquet(out)
    assert replayed.count() == len(want)
    assert {r.doc_id for r in replayed.select("doc_id").collect()} == want


def test_minhash_matches_between_subset_and_recall(spark):
    """The banded between-matcher's verified pairs are a subset of the
    exact inverted-index matches (precision exact by construction) and
    recover all of them at this operating point."""
    from pyspark.sql import functions as F

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.dedup import (
        jaccard_matches_between,
        minhash_matches_between,
    )

    docs = read_parquet_table(spark, "/root/testdata/sf0.001", "documents")
    new = docs.filter(F.col("doc_id") % 5 == 4)
    old = docs.filter(F.col("doc_id") % 5 != 4)
    lsh = {
        (r.new_id, r.old_id)
        for r in minhash_matches_between(
            new, old, "doc_id", "text", verify_jaccard=0.3
        ).collect()
    }
    exact = {
        (r.new_id, r.old_id)
        for r in jaccard_matches_between(
            new, old, "doc_id", "text", threshold=0.3
        ).collect()
    }
    assert exact  # fixture sanity
    assert lsh <= exact
    assert len(lsh) >= -(-95 * len(exact) // 100)  # ceil(0.95 * n)


def test_stream_semantic_dedup_matches_batch(spark, tmp_path):
    """Streaming semantic incremental dedup == batch stage across a
    micro-batch split (per-document decisions against the static index),
    with centroids from the engine-independent pyarrow trainer."""
    from pyspark.sql import functions as F

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.similarity import (
        train_ivf_centroids_parquet,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.dedup import (
        dedup_stream_against_index_semantic,
        run_semantic_dedup_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    C = train_ivf_centroids_parquet(f"{sf_dir}/embeddings.parquet")
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    new_b = emb.filter(F.col("vec_id") % 5 == 4)
    old_b = emb.filter(F.col("vec_id") % 5 != 4)

    want = {
        r.vec_id
        for r in dedup_stream_against_index_semantic(new_b, old_b, C)
        .select("vec_id")
        .collect()
    }
    n_new = new_b.count()
    assert 0 < len(want) <= n_new

    land = str(tmp_path / "land")
    new_b.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(
        land, mode="overwrite"
    )
    new_b.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(land)
    stream = (
        spark.readStream.schema(new_b.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(land)
    )
    out = str(tmp_path / "surv")
    q = run_semantic_dedup_stream(
        stream, old_b, C, out, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    got = {r.vec_id for r in spark.read.parquet(out).select("vec_id").collect()}
    assert got == want


def test_stream_quantile_grid_upsert_matches_batch_and_is_idempotent(
    spark, tmp_path
):
    """The streamed day-partitioned quantile-sketch grid equals the batch
    per-day qsketch grid cell-for-cell, and a full replay from a fresh
    checkpoint rewrites the same partitions (exactly-once per cell)."""
    from pyspark.sql import functions as F

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.sketch import (
        with_qsketch_bucket,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.sources.readers import (
        read_parquet_table,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.sinks import (
        stream_daily_quantile_grid_upsert,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.windows import (
        read_events_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    out = str(tmp_path / "grid")

    def run(ckpt_name):
        stream_daily_quantile_grid_upsert(
            read_events_stream(spark, sf_dir), out, str(tmp_path / ckpt_name)
        )
        return {
            (str(r.day), r.shift, r.sub): r.cnt
            for r in spark.read.parquet(out).collect()
        }

    got = run("ckpt1")

    ev = read_parquet_table(spark, sf_dir, "events").withColumn(
        "__cents", F.round(F.col("value") * 100, 0).cast("bigint")
    )
    want = {
        (str(r.day), r.shift, r.sub): r.cnt
        for r in with_qsketch_bucket(ev, "__cents")
        .groupBy(F.to_date("ts").alias("day"), "shift", "sub")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == want
    assert len(got) > 10

    # full replay from a fresh checkpoint: same partitions, same values
    assert run("ckpt2") == want


def test_stream_cms_upsert_matches_batch_and_is_idempotent(spark, tmp_path):
    """The streamed day-partitioned count-min grid equals the batch
    per-day CMS cell-for-cell, and a full replay from a fresh checkpoint
    rewrites the same partitions (exactly-once per cell)."""
    from pyspark.sql import functions as F

    from analysis_of_flight_delay_data_by_mapreduce_spark.functions import word_tokens
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.sketch import _cell
    from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.sinks import (
        stream_daily_cms_upsert,
    )

    sf_dir = "/root/testdata/sf0.001"
    # documents carry no event time: attach a deterministic 2-day ts
    docs = (
        read_parquet_table(spark, sf_dir, "documents")
        .withColumn(
            "ts",
            F.to_timestamp(
                F.lit("2024-01-01 00:00:00")
            ) + F.make_interval(days=(F.col("doc_id") % 2).cast("int")),
        )
    )
    land = str(tmp_path / "land")
    docs.coalesce(1).write.parquet(land)
    out = str(tmp_path / "grid")

    def run(ckpt):
        stream_daily_cms_upsert(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(land),
            out,
            str(tmp_path / ckpt),
            depth=2,
            width=64,
        )
        return {
            (str(r.day), r.seed, r.cell): r.cnt
            for r in spark.read.parquet(out).collect()
        }

    got = run("ckpt1")

    toks = docs.select(
        "ts", F.explode(word_tokens(F.col("text"))).alias("__tok")
    ).select(
        "ts", "__tok", F.explode(F.sequence(F.lit(0), F.lit(1))).alias("seed")
    )
    want = {
        (str(r.day), r.seed, r.cell): r.cnt
        for r in toks.groupBy(
            F.to_date("ts").alias("day"),
            "seed",
            _cell(F.col("seed"), F.col("__tok"), 64).alias("cell"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == want
    assert len({d for d, _, _ in got}) == 2  # both days present
    assert run("ckpt2") == want  # replay: same partitions, same values


def test_stream_dsir_select_matches_batch(spark, tmp_path):
    """Streaming DSIR selection == the batch dsir_select, including
    across a micro-batch split (per-document decisions against frozen
    trained literals), and epoch replay does not duplicate selections."""
    from pyspark.sql import functions as F

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.selection import (
        dsir_select,
        dsir_scores,
        train_dsir_logratios_parquet,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.selection import (
        run_dsir_select_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    docs = read_parquet_table(spark, sf_dir, "documents")
    lr = train_dsir_logratios_parquet(
        f"{sf_dir}/documents.parquet", "text", "lang", "en"
    )
    # a median positive score: selection is non-empty and non-total
    pos = sorted(
        r.dsir_score
        for r in dsir_scores(docs, "doc_id", "text", lr).collect()
        if r.dsir_score > 0
    )
    assert pos, "fixture sanity: some docs must score positive"
    thr = pos[len(pos) // 2]

    want = {
        (r.doc_id, r.dsir_score)
        for r in dsir_select(docs, "doc_id", "text", lr, thr)
        .select("doc_id", "dsir_score")
        .collect()
    }
    assert 0 < len(want) < docs.count()

    land = str(tmp_path / "land")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(land)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(land)
    out = str(tmp_path / "sel")

    def run(ckpt):
        q = run_dsir_select_stream(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(land),
            lr,
            thr,
            out,
            str(tmp_path / ckpt),
        )
        q.awaitTermination(120)
        return {
            (r.doc_id, r.dsir_score)
            for r in spark.read.parquet(out)
            .select("doc_id", "dsir_score")
            .collect()
        }

    assert run("ckpt1") == want
    replayed = run("ckpt2")  # fresh checkpoint replays every epoch
    assert replayed == want
    assert spark.read.parquet(out).count() == len(want)


def test_stream_hot_key_alerts_match_batch(spark, tmp_path):
    """Streaming CMS hot-key alerts == the batch probe of the same
    increment against the same frozen grid, across a micro-batch split
    (per-key decisions against a frozen grid are batch-split-invariant),
    and epoch replay does not duplicate alerts. est >= true keeps the
    alert set a superset of the truly-hot keys."""
    from pyspark.sql import functions as F

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.sketch import (
        cms_build,
        cms_estimate,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.hotkeys import (
        run_hot_key_alert_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    orders = read_parquet_table(spark, sf_dir, "orders")
    hist = orders.select(F.col("o_custkey").alias("k"))
    grid_path = str(tmp_path / "grid")
    cms_build(hist, "k", depth=4, width=1024).write.parquet(grid_path)

    inc = orders.filter(F.col("o_orderkey") % 8 == 0).select(
        "o_orderkey", "o_custkey"
    )
    grid = spark.read.parquet(grid_path)
    want = {
        (r.o_custkey, r.est)
        for r in cms_estimate(
            grid, inc.select(F.col("o_custkey").alias("__k")).distinct(),
            "__k", 4, 1024,
        )
        .filter(F.col("est") >= 15)
        .select(F.col("__k").alias("o_custkey"), "est")
        .collect()
    }
    assert 0 < len(want) < inc.select("o_custkey").distinct().count()
    # no false negatives vs exact history counts
    truly_hot = {
        r.o_custkey
        for r in orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(
            (F.col("n") >= 15)
            & F.col("o_custkey").isin([int(k) for k, _ in want] or [0])
        )
        .collect()
    }
    assert truly_hot <= {k for k, _ in want}

    land = str(tmp_path / "land")
    inc.filter(F.col("o_orderkey") % 16 == 0).coalesce(1).write.parquet(land)
    inc.filter(F.col("o_orderkey") % 16 == 8).coalesce(1).write.mode(
        "append"
    ).parquet(land)
    out = str(tmp_path / "alerts")

    def run(ckpt):
        q = run_hot_key_alert_stream(
            spark.readStream.schema(inc.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(land),
            "o_custkey",
            grid_path,
            15,
            out,
            str(tmp_path / ckpt),
        )
        q.awaitTermination(120)
        return {
            (r.o_custkey, r.est)
            for r in spark.read.parquet(out).select("o_custkey", "est").collect()
        }

    assert run("ckpt1") == want
    assert run("ckpt2") == want  # fresh checkpoint = full epoch replay


def test_stream_weighted_sample_matches_batch(spark, tmp_path):
    """The rolling A-ES sample state after a micro-batch-split drain ==
    the batch weighted_sample_topk over the union (mergeability across
    epochs), and a fresh-checkpoint replay over the same backlog
    rewrites the same epochs with the same rows."""
    from pyspark.sql import functions as F

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.selection import (
        weighted_sample_topk,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.sampling import (
        latest_sample_state,
        run_weighted_sample_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    docs = read_parquet_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    want = {
        (r.source, r.doc_id, r.key_micro, r.rk)
        for r in weighted_sample_topk(
            docs, ["source"], "doc_id", "n_chars", k=3
        ).collect()
    }
    assert want

    land = str(tmp_path / "land")
    for third in range(3):
        docs.filter(F.col("doc_id") % 3 == third).coalesce(1).write.mode(
            "append"
        ).parquet(land)
    state = str(tmp_path / "state")

    def run(ckpt):
        q = run_weighted_sample_stream(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(land),
            ["source"],
            "doc_id",
            "n_chars",
            3,
            state,
            str(tmp_path / ckpt),
        )
        q.awaitTermination(120)
        return {
            (r.source, r.doc_id, r.key_micro, r.rk)
            for r in latest_sample_state(spark, state).collect()
        }

    assert run("ckpt1") == want
    assert run("ckpt2") == want  # aligned replay: same epochs, same rows


def test_compact_sample_state_keeps_latest_and_continues(spark, tmp_path):
    """Compacting old sampling epochs preserves the newest state (and its
    predecessor for replay safety), and a later drain merges on top of
    the compacted state correctly."""
    from pyspark.sql import functions as F

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.selection import (
        weighted_sample_topk,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.sampling import (
        _epochs_on_disk,
        compact_sample_state,
        latest_sample_state,
        run_weighted_sample_stream,
    )

    docs = read_parquet_table(spark, "/root/testdata/sf0.001", "documents").select(
        "source", "doc_id", "n_chars"
    )
    land = str(tmp_path / "land")
    for third in range(3):
        docs.filter(F.col("doc_id") % 3 == third).coalesce(1).write.mode(
            "append"
        ).parquet(land)
    state = str(tmp_path / "state")
    q = run_weighted_sample_stream(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(land),
        ["source"], "doc_id", "n_chars", 3, state, str(tmp_path / "ck1"),
    )
    q.awaitTermination(120)
    before = {
        (r.source, r.doc_id, r.rk)
        for r in latest_sample_state(spark, state).collect()
    }
    dropped = compact_sample_state(spark, state, keep_last=2)
    assert dropped == ["run=0/epoch=0"]
    assert _epochs_on_disk(spark, state, run=0) == [1, 2]
    after = {
        (r.source, r.doc_id, r.rk)
        for r in latest_sample_state(spark, state).collect()
    }
    assert after == before
    # a later increment merges on top of the compacted state
    docs.limit(0).coalesce(1).write.mode("append").parquet(land)  # no-op file
    extra = docs.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    extra.coalesce(1).write.mode("append").parquet(land)
    q2 = run_weighted_sample_stream(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(land),
        ["source"], "doc_id", "n_chars", 3, state, str(tmp_path / "ck1"),
    )
    q2.awaitTermination(120)
    want = {
        (r.source, r.doc_id, r.rk)
        for r in weighted_sample_topk(
            docs.unionByName(extra), ["source"], "doc_id", "n_chars", 3
        ).collect()
    }
    got = {
        (r.source, r.doc_id, r.rk)
        for r in latest_sample_state(spark, state).collect()
    }
    assert got == want


def test_fresh_checkpoint_new_run_not_shadowed_by_stale_epochs(spark, tmp_path):
    """ADVICE r8: a fresh-checkpoint restart against an existing
    state_path must NOT serve stale higher-numbered epochs from the
    previous run. The first run drains 3 files (epochs 0..2); the
    second run (fresh checkpoint) drains a SMALLER backlog (1 file →
    epoch 0 only). latest_sample_state must return the new run's
    selection, not the old run's epoch 2."""
    from pyspark.sql import functions as F

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.selection import (
        weighted_sample_topk,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.sampling import (
        _runs_on_disk,
        latest_sample_state,
        run_weighted_sample_stream,
    )

    docs = read_parquet_table(spark, "/root/testdata/sf0.001", "documents").select(
        "source", "doc_id", "n_chars"
    )
    state = str(tmp_path / "state")

    land1 = str(tmp_path / "land1")
    for third in range(3):
        docs.filter(F.col("doc_id") % 3 == third).coalesce(1).write.mode(
            "append"
        ).parquet(land1)
    q1 = run_weighted_sample_stream(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(land1),
        ["source"], "doc_id", "n_chars", 3, state, str(tmp_path / "ck1"),
    )
    q1.awaitTermination(120)

    small = docs.filter(F.col("doc_id") % 3 == 0)
    land2 = str(tmp_path / "land2")
    small.coalesce(1).write.parquet(land2)
    q2 = run_weighted_sample_stream(
        spark.readStream.schema(docs.schema).parquet(land2),
        ["source"], "doc_id", "n_chars", 3, state, str(tmp_path / "ck2"),
    )
    q2.awaitTermination(120)

    assert _runs_on_disk(spark, state) == [0, 1]
    want = {
        (r.source, r.doc_id, r.rk)
        for r in weighted_sample_topk(
            small, ["source"], "doc_id", "n_chars", 3
        ).collect()
    }
    got = {
        (r.source, r.doc_id, r.rk)
        for r in latest_sample_state(spark, state).collect()
    }
    assert got == want  # pre-fence, the stale run-0 epoch=2 would win


def test_compact_sample_state_rejects_unsafe_keep_last(spark, tmp_path):
    """keep_last=1 would let an at-least-once replay of the newest epoch
    find no predecessor and silently rebuild from its batch alone —
    rejected loudly (ADVICE r8)."""
    import pytest

    from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.sampling import (
        compact_sample_state,
    )

    with pytest.raises(ValueError, match="keep_last"):
        compact_sample_state(spark, str(tmp_path / "state"), keep_last=1)


def test_weighted_sample_merge_conflicting_weights_deterministic(spark):
    """ADVICE r8: duplicate ids with DIFFERENT weights across parts
    (re-ingested doc) must resolve deterministically — the max-key row
    wins atomically (key and weight travel together), so the merge
    cannot return a run-to-run-varying mix of the two rows."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.selection import (
        weighted_sample_merge,
        weighted_sample_topk,
    )

    docs = read_parquet_table(spark, "/root/testdata/sf0.001", "documents").select(
        "source", "doc_id", "n_chars"
    )
    from pyspark.sql import functions as F

    a = weighted_sample_topk(docs, ["source"], "doc_id", "n_chars", k=4)
    reweighted = docs.withColumn("n_chars", F.col("n_chars") * 2 + 1)
    b = weighted_sample_topk(reweighted, ["source"], "doc_id", "n_chars", k=4)
    runs = [
        {
            tuple(r)
            for r in weighted_sample_merge(
                [a, b] if flip else [b, a], ["source"], "doc_id", k=4
            ).collect()
        }
        for flip in (False, True, False)
    ]
    assert runs[0] == runs[1] == runs[2]
    # and every surviving row is one COHERENT source row: its key_micro
    # must be exactly the key of (doc_id, its own n_chars)
    both = a.unionByName(b).select("doc_id", "n_chars", "key_micro").distinct()
    valid = {(r.doc_id, r.n_chars, r.key_micro) for r in both.collect()}
    merged = weighted_sample_merge([a, b], ["source"], "doc_id", k=4)
    for r in merged.collect():
        assert (r.doc_id, r.n_chars, r.key_micro) in valid


def test_stream_h264_census_parity(spark):
    """The H.264 metadata census (r12) is stateless mapInArrow end to
    end (attach avc1 fixture -> avcC/SPS bit-parse -> per-sample NAL
    census), so it must run UNCHANGED on a streaming source: the
    per-(geometry, profile, keyframe-count) census of
    h264_video_summary over a streamed documents table equals the batch
    read's — extends the stream==batch parity contract to the H.264
    tier."""
    from pyspark.sql import functions as F

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        attach_synthetic_h264_mp4,
        h264_video_summary,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.dedup import (
        read_documents_stream,
    )

    def agg(docs):
        summary = h264_video_summary(
            attach_synthetic_h264_mp4(docs.select("doc_id"), "doc_id")
        )
        return summary.groupBy(
            "width", "height", "profile_idc", "n_idr",
            "sync_match", "params_ok",
        ).agg(F.count(F.lit(1)).alias("n"))

    batch = {
        tuple(r)[:-1]: r.n
        for r in agg(read_parquet_table(spark, SF_DIR, "documents")).collect()
    }
    assert all(k[4] and k[5] for k in batch)  # sync_match, params_ok

    q = run_stream_to_memory(
        agg(read_documents_stream(spark, SF_DIR)), "h264_parity",
        mode="complete",
    )
    try:
        got = {
            tuple(r)[:-1]: r.n
            for r in spark.sql("SELECT * FROM h264_parity").collect()
        }
    finally:
        q.stop()
    assert got == batch


def test_stream_video_frame_decode_parity(spark):
    """The multimodal codec path is stateless mapInArrow end to end
    (attach fixture -> stbl walk -> MJPEG pixel decode -> digest), so it
    must run UNCHANGED on a streaming source: the per-corpus frame count
    and distinct decoded-pixel digest count of sample_video_frames over
    a streamed documents table equal the batch read's (r11 — extends the
    parity contract to the coded-video tier)."""
    from pyspark.sql import functions as F

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        attach_synthetic_mjpeg_mp4,
        sample_video_frames,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.dedup import (
        read_documents_stream,
    )

    def agg(docs):
        frames = sample_video_frames(
            attach_synthetic_mjpeg_mp4(docs.select("doc_id"), "doc_id"),
            every_n_frames=2,
        )
        # per-digest counts (COUNT DISTINCT is unsupported on streams;
        # the grouped form carries the same information)
        return frames.groupBy("frame_sha256").agg(
            F.count(F.lit(1)).alias("n")
        )

    batch = {
        r.frame_sha256: r.n
        for r in agg(read_parquet_table(spark, SF_DIR, "documents")).collect()
    }

    q = run_stream_to_memory(
        agg(read_documents_stream(spark, SF_DIR)), "vid_parity", mode="complete"
    )
    try:
        got = {
            r.frame_sha256: r.n
            for r in spark.sql("SELECT * FROM vid_parity").collect()
        }
    finally:
        q.stop()
    assert got == batch
    assert len(got) > 1 and sum(got.values()) > len(got)

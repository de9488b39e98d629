"""applyInPandasWithState: running totals across micro-batches must end at
the batch groupBy answer."""

from __future__ import annotations

from pyspark.sql import functions as F

from analysis_of_flight_delay_data_by_mapreduce_spark.sources import read_parquet_table
from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.stateful import (
    running_user_totals,
)
from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.windows import (
    read_events_stream,
)

from conftest import SF_DIR


def test_running_totals_match_batch(spark):
    stream = read_events_stream(spark, SF_DIR)
    q = (
        running_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("user_totals")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        # last emitted row per user = final running total
        got = {
            r.user_id: (r.n_events, r.value_cents)
            for r in spark.sql("SELECT * FROM user_totals").collect()
        }
    finally:
        q.stop()

    ev = read_parquet_table(spark, SF_DIR, "events")
    expected = {
        r.user_id: (r.n, r.cents)
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
        )
        .collect()
    }
    assert got == expected


# The transformWithStateInPandas parity test was removed with the operator
# in round 4 (google.protobuf absent from this image -> the test was a
# permanent skip; an assertion that never runs documents nothing). The
# intended TWS shape is recorded in ROADMAP.md.


def test_sessionize_stream_matches_batch_summary(spark, tmp_path):
    """Streamed gap sessions == batch session_summary, end to end: inline
    closes (same-key event past the gap), event-time-timeout closes
    (watermark passes last+gap with no key traffic), and per-key
    session_idx numbering. A far-future sentinel key in the last
    micro-batch advances the watermark past every real deadline, so ALL
    real sessions must be emitted; only the sentinel's stays open."""
    import datetime as dt
    import time

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.sessions import (
        session_summary,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.stateful import (
        sessionize_stream,
    )

    def ts(minute, second=0):
        return dt.datetime(2024, 1, 1, 10, minute, second)

    GAP = 60  # strictly-greater-than-60s silence opens a new session
    # user 1: [0s..30s] then [5m..5m10s] then [20m]; user 2: [1m..1m59s];
    # user 3: [0m10s] closed by TIMEOUT mid-stream (no u3 data in batch 2,
    # watermark passes its deadline), then RETURNS at [30m] — its second
    # session must be numbered 2, not 1 (the counter survives the
    # timeout close)
    fix = [
        (1, ts(0, 0)), (1, ts(0, 30)),
        (1, ts(5, 0)), (1, ts(5, 10)),
        (1, ts(20, 0)),
        (2, ts(1, 0)), (2, ts(1, 59)),
        (2, ts(2, 59)),  # exactly 60s after 1:59 -> SAME session (> gap)
        (3, ts(0, 10)),
        (3, ts(30, 0)),
    ]
    batch1 = [r for r in fix if r[1] < ts(4)]
    batch2 = [r for r in fix if ts(4) <= r[1] < ts(25)]
    batch3 = [r for r in fix if r[1] >= ts(25)] + [(999, ts(59, 0))]
    batch4 = [(998, ts(59, 30))]  # advances the watermark: closes u3 s2

    land = str(tmp_path / "land")
    schema = "user_id long, ts timestamp"
    for i, rows in enumerate([batch1, batch2, batch3, batch4]):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(land)
        time.sleep(1.1)  # distinct mtimes -> deterministic file order

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(land)
    )
    q = (
        sessionize_stream(stream, "user_id", "ts", GAP, "0 seconds")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    got = {
        (r.user_id, r.session_idx): (r.n_events, r.start_us, r.end_us, r.duration_s)
        for r in spark.sql(
            "SELECT * FROM sessions_out WHERE user_id < 900"
        ).collect()
    }

    batch = spark.createDataFrame(fix, schema)
    want = {
        (r.user_id, r.session_idx): (
            r.n_events,
            int(
                dt.datetime.fromisoformat(r.start_s)
                .replace(tzinfo=dt.timezone.utc)
                .timestamp()
                * 1_000_000
            ),
            int(
                dt.datetime.fromisoformat(r.end_s)
                .replace(tzinfo=dt.timezone.utc)
                .timestamp()
                * 1_000_000
            ),
            r.duration_s,
        )
        for r in session_summary(batch, "user_id", "ts", GAP).collect()
    }
    assert got == want
    # u1 x3 sessions, u2 x1 (60s edge merged), u3 x2 (the second one
    # proves the counter survived the mid-stream timeout close)
    assert len(want) == 6
    assert (3, 2) in got and (3, 1) in got


def test_dedup_stream_stateful_first_seen(spark, tmp_path):
    """In-state exact dedup: one survivor per fingerprint, emitted in the
    first micro-batch that carries it (min id within that batch); a
    fingerprint seen again in a later batch emits nothing — even when
    the later sighting has a smaller id."""
    import time

    from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.dedup import (
        dedup_stream_stateful,
    )

    schema = "doc_id long, fp string"
    batch1 = [(10, "a"), (12, "a"), (20, "b")]
    batch2 = [(1, "a"), (30, "b"), (40, "c"), (44, "c")]
    land = str(tmp_path / "land")
    for rows in (batch1, batch2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(land)
        time.sleep(1.1)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(land)
    )
    q = (
        dedup_stream_stateful(stream, "doc_id", "fp")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("fs_dedup")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    got = {
        (r.fp, r.doc_id) for r in spark.sql("SELECT * FROM fs_dedup").collect()
    }
    assert got == {("a", 10), ("b", 20), ("c", 40)}


# ---------------------------------------------------------------------------
# VERDICT r8 item 5: kill-and-resume recovery parity. A stopped stream
# (availableNow drains the current backlog and exits — exactly the
# state a killed job leaves after its last checkpoint commit) must,
# after state compaction and more arrivals, RESUME from the same
# checkpoint to the same answer an uninterrupted run produces.
# ---------------------------------------------------------------------------


def test_weighted_sample_kill_compact_resume_matches_uninterrupted(
    spark, tmp_path
):
    """Rolling A-ES sample: drain half the backlog (run 'killed' at the
    checkpoint boundary) → compact the epoch state → land more files →
    resume the SAME checkpoint. The resumed state must equal both an
    uninterrupted single-drain run over the full backlog and the batch
    operator on the union."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.selection import (
        weighted_sample_topk,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.sampling import (
        compact_sample_state,
        latest_sample_state,
        run_weighted_sample_stream,
    )

    docs = read_parquet_table(spark, "/root/testdata/sf0.001", "documents").select(
        "source", "doc_id", "n_chars"
    )
    land = str(tmp_path / "land")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")

    def _drain(land_dir, state_dir, ckpt):
        q = run_weighted_sample_stream(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(land_dir),
            ["source"], "doc_id", "n_chars", 3, state_dir, ckpt,
        )
        q.awaitTermination(120)

    for quarter in (0, 1):
        docs.filter(F.col("doc_id") % 4 == quarter).coalesce(1).write.mode(
            "append"
        ).parquet(land)
    _drain(land, state, ck)  # epochs 0,1 committed — the "kill" point
    dropped = compact_sample_state(spark, state, keep_last=2)
    assert dropped == []  # only 2 epochs exist; predecessor preserved

    for quarter in (2, 3):
        docs.filter(F.col("doc_id") % 4 == quarter).coalesce(1).write.mode(
            "append"
        ).parquet(land)
    _drain(land, state, ck)  # RESUME: same checkpoint, epochs 2,3

    resumed = {
        (r.source, r.doc_id, r.key_micro, r.rk)
        for r in latest_sample_state(spark, state).collect()
    }
    # uninterrupted control: one drain over the identical full backlog
    control_state = str(tmp_path / "state2")
    _drain(land, control_state, str(tmp_path / "ck2"))
    control = {
        (r.source, r.doc_id, r.key_micro, r.rk)
        for r in latest_sample_state(spark, control_state).collect()
    }
    want = {
        (r.source, r.doc_id, r.key_micro, r.rk)
        for r in weighted_sample_topk(
            docs, ["source"], "doc_id", "n_chars", k=3
        ).collect()
    }
    assert resumed == control == want


def test_minhash_dedup_stream_kill_resume_union_parity(spark, tmp_path):
    """Incremental MinHash dedup: drain half the backlog, 'kill', land
    the other half, resume the SAME checkpoint — the union of epoch
    partitions equals the whole-batch survivor set (no lost epochs, no
    replayed duplicates)."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.dedup import (
        dedup_stream_against_index_minhash,
        run_minhash_dedup_stream,
    )

    docs = read_parquet_table(spark, "/root/testdata/sf0.001", "documents")
    new_b = docs.filter(F.col("doc_id") % 5 == 4)
    old_b = docs.filter(F.col("doc_id") % 5 != 4)
    want = {
        r.doc_id
        for r in dedup_stream_against_index_minhash(new_b, old_b, threshold=0.3)
        .select("doc_id")
        .collect()
    }
    assert 0 < len(want) < new_b.count()

    land = str(tmp_path / "land")
    out = str(tmp_path / "surv")
    ck = str(tmp_path / "ck")
    new_b.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(land)

    def _drain():
        q = run_minhash_dedup_stream(
            spark.readStream.schema(new_b.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(land),
            old_b, out, ck, threshold=0.3,
        )
        q.awaitTermination(120)

    _drain()  # epoch 0 committed — the "kill" point
    partial = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    assert partial < want  # strictly a prefix of the answer

    new_b.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(land)
    _drain()  # RESUME: same checkpoint processes only the new file
    got = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    assert got == want


def test_semantic_dedup_stream_kill_resume_union_parity(spark, tmp_path):
    """Incremental semantic (embedding) dedup: same kill-and-resume
    contract as the MinHash face, with trained-centroid literals."""
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
    assert want

    land = str(tmp_path / "land")
    out = str(tmp_path / "surv")
    ck = str(tmp_path / "ck")
    new_b.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(land)

    def _drain():
        q = run_semantic_dedup_stream(
            spark.readStream.schema(new_b.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(land),
            old_b, C, out, ck,
        )
        q.awaitTermination(120)

    _drain()
    new_b.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(land)
    _drain()
    got = {r.vec_id for r in spark.read.parquet(out).select("vec_id").collect()}
    assert got == want


def test_ann_ingest_stream_matches_batch_build(spark, tmp_path):
    """Streaming IVF-PQ ingest: embeddings drained in micro-batches
    through run_ann_ingest_stream produce EXACTLY the index a one-shot
    build_ivfpq_table writes — same (id, code, cluster) rows — and the
    probe-pruned query returns the same top-k."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.similarity import (
        build_ivfpq_table,
        query_ivfpq_table,
        train_ivf_centroids_parquet,
        train_pq_codebooks_parquet,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.ann import (
        run_ann_ingest_stream,
    )

    src = f"{SF_DIR}/embeddings.parquet"
    C = train_ivf_centroids_parquet(src, n_clusters=16, seed=42)
    cb = train_pq_codebooks_parquet(src, m=16, ksub=16, seed=42)
    emb = read_parquet_table(spark, SF_DIR, "embeddings")

    land = str(tmp_path / "land")
    for part in (0, 1, 2):
        emb.filter(F.col("vec_id") % 3 == part).coalesce(1).write.mode(
            "append"
        ).parquet(land)

    streamed = str(tmp_path / "streamed")
    q = run_ann_ingest_stream(
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(land),
        streamed, C, cb, str(tmp_path / "ck"),
    )
    q.awaitTermination(120)

    batch = str(tmp_path / "batch")
    build_ivfpq_table(emb, batch, "vec_id", "embedding", centroids=C, codebooks=cb)

    def _rows(path):
        return {
            (r.vec_id, tuple(r.code), r.cluster)
            for r in spark.read.parquet(path).collect()
        }

    assert _rows(streamed) == _rows(batch)

    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    got = query_ivfpq_table(
        spark, streamed, emb, "vec_id", "embedding", qv, C, cb, k=10
    ).collect()
    want = query_ivfpq_table(
        spark, batch, emb, "vec_id", "embedding", qv, C, cb, k=10
    ).collect()
    assert [(r.vec_id, r.d2) for r in got] == [(r.vec_id, r.d2) for r in want]
    assert got[0].vec_id == 0  # the query vector finds itself


def test_ann_ingest_stream_kill_resume_reembed_relocates(spark, tmp_path):
    """Kill-and-resume + re-embedding through the streaming face: epoch 0
    lands WRONG (reversed) vectors for a slice of ids, the stream is
    'killed', the corrected vectors land, and the resumed checkpoint
    upserts them — the final index equals a clean full build (stale rows
    relocated across coarse clusters, no duplicate ids)."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.similarity import (
        assign_ivf_cluster,
        build_ivfpq_table,
        train_ivf_centroids_parquet,
        train_pq_codebooks_parquet,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.streaming.ann import (
        run_ann_ingest_stream,
    )

    src = f"{SF_DIR}/embeddings.parquet"
    C = train_ivf_centroids_parquet(src, n_clusters=16, seed=42)
    cb = train_pq_codebooks_parquet(src, m=16, ksub=16, seed=42)
    emb = read_parquet_table(spark, SF_DIR, "embeddings")
    hold = F.col("vec_id") % 5 == 0
    wrong = emb.filter(hold).withColumn("embedding", F.reverse("embedding"))

    # the wrong vectors must land at least one id in a different coarse
    # cluster, or the relocation path isn't exercised
    moved = (
        assign_ivf_cluster(wrong, "embedding", C)
        .select("vec_id", F.col("cluster").alias("wrong_cluster"))
        .join(
            assign_ivf_cluster(emb.filter(hold), "embedding", C).select(
                "vec_id", "cluster"
            ),
            "vec_id",
        )
        .filter(F.col("wrong_cluster") != F.col("cluster"))
        .count()
    )
    assert moved > 0

    land = str(tmp_path / "land")
    emb.filter(~hold).unionByName(wrong).coalesce(1).write.mode("append").parquet(land)

    streamed = str(tmp_path / "streamed")
    ck = str(tmp_path / "ck")

    def _drain():
        q = run_ann_ingest_stream(
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(land),
            streamed, C, cb, ck,
        )
        q.awaitTermination(120)

    _drain()  # epoch 0 committed (wrong vectors in) — the "kill" point
    emb.filter(hold).coalesce(1).write.mode("append").parquet(land)
    _drain()  # RESUME: the corrective batch replaces the wrong rows

    batch = str(tmp_path / "batch")
    build_ivfpq_table(emb, batch, "vec_id", "embedding", centroids=C, codebooks=cb)

    def _rows(path):
        return {
            (r.vec_id, tuple(r.code), r.cluster)
            for r in spark.read.parquet(path).collect()
        }

    got = spark.read.parquet(streamed)
    assert got.count() == emb.count()
    assert got.select("vec_id").distinct().count() == emb.count()
    assert _rows(streamed) == _rows(batch)

"""Streaming-layer tests: micro-batch replay of the generator's fault
patterns (SURVEY.md §5 — gaps, duplicates, late events) through real
Structured Streaming queries with file sources (one file = one
micro-batch) and memory/foreachBatch sinks.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from kafka_spark_streaming_pipeline_spark.schemas import LIVE_CHUNK_SCHEMA
from kafka_spark_streaming_pipeline_spark.sources.files import parquet_stream
from kafka_spark_streaming_pipeline_spark.sources.kafka import decode_json_values
from kafka_spark_streaming_pipeline_spark.streaming.pipeline import (
    deduplicated_stream,
    live_transform,
    start_foreach_batch,
    with_watermarked_windows,
)
from kafka_spark_streaming_pipeline_spark.streaming.state import dvr_manifests, track_gaps


def _event(stream_id: str, idx: int, seq: int | None = None, ts: str = "2024-01-01T00:00:00+00:00"):
    import hashlib

    size = 1000 + idx
    return {
        "stream_id": stream_id,
        "chunk_index": idx,
        "sequence_number": seq if seq is not None else idx,
        "timestamp": ts,
        "size_bytes": size,
        "stream_type": "live",
        "status": "received",
        "checksum": hashlib.md5(f"{stream_id}-{idx}-{size}".encode()).hexdigest(),
        "duration_ms": 2000,
        "keyframe_aligned": True,
        "audio_track_id": f"audio-{stream_id}",
        "video_track_id": f"video-{stream_id}",
        "match_home": "A",
        "match_away": "B",
        "competition": "X",
    }


def _write_batch_files(spark, tmpdir: str, batches: list[list[dict]]) -> str:
    """One parquet FILE per micro-batch under tmpdir/in (the streaming
    file source lists plain files, so the Spark-written part file is
    moved up out of its directory)."""
    import glob
    import shutil

    in_dir = os.path.join(tmpdir, "in")
    os.makedirs(in_dir, exist_ok=True)
    for i, rows in enumerate(batches):
        staging = os.path.join(tmpdir, f"stage_{i}")
        spark.createDataFrame(rows, LIVE_CHUNK_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        [part] = glob.glob(os.path.join(staging, "part-*.parquet"))
        shutil.move(part, os.path.join(in_dir, f"batch_{i}.parquet"))
    return in_dir


def _drain(query):
    query.processAllAvailable()
    query.stop()
    query.awaitTermination(30)


# --------------------------------------------------------------- decode


def test_kafka_value_decode(spark):
    raw = spark.createDataFrame(
        [(json.dumps(_event("live-a", 0)),), ("not json at all",)], "value string"
    )
    decoded = decode_json_values(raw, LIVE_CHUNK_SCHEMA)
    rows = decoded.collect()
    assert len(rows) == 2
    good = [r for r in rows if r.stream_id is not None]
    assert good[0].chunk_index == 0 and good[0].stream_type == "live"
    # malformed JSON -> null row, not an exception (vs reference's try/except)
    assert any(r.stream_id is None for r in rows)

    # dead-letter mode: _raw_value carries the original payload for
    # every row that did not decode cleanly; routing PARTITIONS on
    # this one column (main = IS NULL, quarantine = IS NOT NULL)
    dl = decode_json_values(raw, LIVE_CHUNK_SCHEMA, dead_letter=True).collect()
    bad = [r for r in dl if r._raw_value is not None]
    assert len(bad) == 1 and bad[0]._raw_value == "not json at all"
    assert all(r._raw_value is None for r in dl if r.stream_id is not None)

    # partially-corrupt record (type mismatch on one field): decoded
    # fields may be populated, but _raw_value is SET, so the partition
    # contract sends it to quarantine only — never to both sinks
    partial = json.dumps({**_event("live-b", 1), "chunk_index": "oops"})
    dl2 = decode_json_values(
        spark.createDataFrame([(partial,)], "value string"),
        LIVE_CHUNK_SCHEMA,
        dead_letter=True,
    ).collect()
    assert len(dl2) == 1 and dl2[0]._raw_value == partial
    main = [r for r in dl2 if r._raw_value is None]
    assert main == []  # the row belongs to exactly one side


def test_live_transform_checksum_and_paths(spark):
    ev = _event("live-a", 3)
    bad = _event("live-a", 4)
    bad["checksum"] = "0" * 32
    df = spark.createDataFrame([ev, bad], LIVE_CHUNK_SCHEMA)
    out = live_transform(df).collect()
    by_idx = {r.chunk_index: r for r in out}
    assert by_idx[3].checksum_ok is True
    assert by_idx[4].checksum_ok is False
    assert by_idx[3].chunk_path == "live-a/chunks/3.ts"
    assert by_idx[3].manifest_path == "live-a/playlist.m3u8"
    assert by_idx[3].dvr_window_start == 0
    assert by_idx[3].processing_latency_ms > 0


# ----------------------------------------------------- stateful operators


def test_gap_detection_across_batches(spark, tmp_path):
    # reference fault pattern: one gap (skip 2 seqs) mid-stream
    batches = [
        [_event("s1", i, seq=i) for i in range(5)],
        [_event("s1", i, seq=i + 2) for i in range(5, 10)],  # jump: 4 -> 7
        [_event("s2", i, seq=i) for i in range(3)],
    ]
    in_dir = _write_batch_files(spark, str(tmp_path), batches)
    stream = parquet_stream(spark, in_dir, LIVE_CHUNK_SCHEMA, max_files_per_trigger=1)
    out = track_gaps(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("gaps")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    _drain(q)
    final = {
        r.stream_id: r
        for r in spark.sql(
            "SELECT * FROM gaps WHERE (stream_id, last_seq) IN "
            "(SELECT stream_id, max(last_seq) FROM gaps GROUP BY stream_id)"
        ).collect()
    }
    assert final["s1"].gap_events == 1
    assert final["s1"].missing_total == 2  # counts MISSING chunks (ref :382)
    assert final["s1"].last_seq == 11
    assert final["s2"].gap_events == 0


def test_gap_fold_is_chunk_order_independent():
    """One key's micro-batch can arrive as several UNORDERED Arrow
    chunks (arrow.maxRecordsPerBatch); the fold must globally sort
    across chunks.  Regression: seqs 1-10 delivered as [6-10],[1-5]
    used to report gap_events=1, missing_total=5."""
    import pandas as pd

    from kafka_spark_streaming_pipeline_spark.streaming.state import _track_gaps_fn

    class FakeState:
        exists = False

        def update(self, value):
            self.value = value

    state = FakeState()
    chunks = iter(
        [
            pd.DataFrame({"sequence_number": [6, 7, 8, 9, 10]}),
            pd.DataFrame({"sequence_number": [1, 2, 3, 4, 5]}),
        ]
    )
    [out] = list(_track_gaps_fn(("s1",), chunks, state))
    row = out.iloc[0]
    assert row["gap_events"] == 0
    assert row["missing_total"] == 0
    assert row["last_seq"] == 10
    assert row["n_chunks"] == 10


def test_dvr_state_slides_and_advances(spark, tmp_path):
    batches = [
        [_event("s1", i) for i in range(8)],
        [_event("s1", i) for i in range(8, 14)],
    ]
    in_dir = _write_batch_files(spark, str(tmp_path), batches)
    stream = parquet_stream(spark, in_dir, LIVE_CHUNK_SCHEMA, max_files_per_trigger=1)
    q = (
        dvr_manifests(stream)
        .writeStream.format("memory")
        .queryName("dvr")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    _drain(q)
    rows = spark.sql("SELECT * FROM dvr ORDER BY media_sequence").collect()
    last = rows[-1]
    assert last.media_sequence == 4  # max_chunk 13 -> 13-10+1
    assert last.n_segments == 10
    assert "s1/chunks/13.ts" in last.manifest
    assert "s1/chunks/3.ts" not in last.manifest
    # earlier batch emitted the pre-slide view (cross-batch state is real)
    assert rows[0].media_sequence == 0 and rows[0].n_segments == 8


def test_state_survives_checkpoint_restart(spark, tmp_path):
    """SURVEY §7 hard-items 1+3: kill the query, restart from the SAME
    checkpoint, and prove keyed state carried over.  The gap verdict in
    run 2 (4 -> 7 jump) is only computable if run 1's last_seq=4
    survived; the DVR n_segments=10 in run 2 is only reachable if 4 of
    run 1's 8 segments are still in state (run 2 adds just 6)."""
    in_dir = os.path.join(str(tmp_path), "in")
    os.makedirs(in_dir, exist_ok=True)
    gap_ckpt = str(tmp_path / "ckpt_gaps")
    dvr_ckpt = str(tmp_path / "ckpt_dvr")

    def run(suffix: str):
        # memory sink cannot recover a checkpoint; foreachBatch can —
        # each run appends its emissions to its own parquet dir
        def appender(out_dir: str):
            def fn(batch_df, batch_id):
                if not batch_df.isEmpty():
                    batch_df.write.mode("append").parquet(out_dir)

            return fn

        stream = parquet_stream(spark, in_dir, LIVE_CHUNK_SCHEMA, max_files_per_trigger=1)
        qg = (
            track_gaps(stream)
            .writeStream.foreachBatch(appender(str(tmp_path / f"gaps_{suffix}")))
            .outputMode("update")
            .option("checkpointLocation", gap_ckpt)
            .start()
        )
        qd = (
            dvr_manifests(stream)
            .writeStream.foreachBatch(appender(str(tmp_path / f"dvr_{suffix}")))
            .outputMode("update")
            .option("checkpointLocation", dvr_ckpt)
            .start()
        )
        for q in (qg, qd):
            _drain(q)

    # run 1: chunks/seqs 0..7, then the query is STOPPED
    _write_batch_files(spark, str(tmp_path), [[_event("s1", i) for i in range(8)]])
    run("r1")
    gaps_r1 = spark.read.parquet(str(tmp_path / "gaps_r1"))
    assert gaps_r1.agg(F.max("last_seq")).first()[0] == 7

    # run 2: fresh query objects, same checkpoints; 6 new chunks with a
    # 2-seq gap relative to run 1's state (7 -> 10)
    batch2 = [_event("s1", 8 + i, seq=10 + i) for i in range(6)]
    staging = str(tmp_path / "stage_r2")
    import glob
    import shutil

    spark.createDataFrame(batch2, LIVE_CHUNK_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(staging)
    [part] = glob.glob(os.path.join(staging, "part-*.parquet"))
    shutil.move(part, os.path.join(in_dir, "batch_r2.parquet"))
    run("r2")

    gap = spark.read.parquet(str(tmp_path / "gaps_r2")).collect()
    assert len(gap) == 1  # only the new batch re-emits
    assert gap[0].last_seq == 15
    assert gap[0].gap_events == 1  # needs last_seq=7 from run 1's state
    assert gap[0].missing_total == 2  # seqs 8, 9

    dvr = spark.read.parquet(str(tmp_path / "dvr_r2")).collect()
    assert len(dvr) == 1
    assert dvr[0].media_sequence == 4  # max_chunk 13 -> 13-10+1
    assert dvr[0].n_segments == 10  # 6 new + 4 remembered from run 1
    assert "s1/chunks/4.ts" in dvr[0].manifest  # a run-1 segment, from state
    assert "s1/chunks/3.ts" not in dvr[0].manifest  # slid out


def test_windowed_aggregation_with_watermark(spark, tmp_path):
    base = "2024-01-01T00:00:{s:02d}+00:00"
    batch = [_event("s1", i, ts=base.format(s=i)) for i in range(20)]
    in_dir = _write_batch_files(spark, str(tmp_path), [batch])
    stream = parquet_stream(spark, in_dir, LIVE_CHUNK_SCHEMA, max_files_per_trigger=1)
    agg = with_watermarked_windows(live_transform(stream), window_duration="10 seconds")
    q = (
        agg.writeStream.format("memory")
        .queryName("winagg")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    _drain(q)
    rows = spark.sql("SELECT * FROM winagg").collect()
    assert sum(r.n_chunks for r in rows) == 20
    assert len(rows) == 2  # two 10s tumbling windows


def test_session_windows_split_on_inactivity(spark, tmp_path):
    from kafka_spark_streaming_pipeline_spark.streaming.pipeline import session_windows

    # 3 chunks at t=0..2s, a >30s silence, then 2 chunks at t=120s —
    # two sessions for the same stream.
    early = [_event("s1", i, ts=f"2024-01-01T00:00:{i:02d}+00:00") for i in range(3)]
    late = [_event("s1", 10 + i, ts=f"2024-01-01T00:02:{i:02d}+00:00") for i in range(2)]
    # sessions only EMIT (append mode) once the watermark passes their
    # close — the sentinel batch pushes the watermark far ahead
    sentinel = [_event("s-sentinel", 0, ts="2024-01-01T00:10:00+00:00")]
    in_dir = _write_batch_files(spark, str(tmp_path), [early + late, sentinel])
    stream = parquet_stream(spark, in_dir, LIVE_CHUNK_SCHEMA, max_files_per_trigger=1)
    q = (
        session_windows(live_transform(stream), gap="30 seconds")
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    _drain(q)
    rows = sorted(
        spark.sql("SELECT * FROM sessions WHERE stream_id = 's1'").collect(),
        key=lambda r: r.session_start,
    )
    assert len(rows) == 2
    assert rows[0].n_chunks == 3 and rows[0].last_chunk == 2
    assert rows[1].n_chunks == 2 and rows[1].first_chunk == 10
    assert rows[1].total_duration_ms == 4000


def test_sliding_rates_overlap(spark, tmp_path):
    from kafka_spark_streaming_pipeline_spark.streaming.pipeline import sliding_rates

    # 20 chunks, one per second: every event lands in exactly two
    # 10s/5s sliding windows.
    batch = [_event("s1", i, ts=f"2024-01-01T00:00:{i:02d}+00:00") for i in range(20)]
    in_dir = _write_batch_files(spark, str(tmp_path), [batch])
    stream = parquet_stream(spark, in_dir, LIVE_CHUNK_SCHEMA, max_files_per_trigger=1)
    q = (
        sliding_rates(live_transform(stream), window_duration="10 seconds", slide="5 seconds")
        .writeStream.format("memory")
        .queryName("rates")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    _drain(q)
    rows = spark.sql("SELECT * FROM rates").collect()
    assert sum(r.n_chunks for r in rows) == 40  # each event counted twice
    full = [r for r in rows if r.n_chunks == 10]
    assert full and all(r.chunks_per_sec == 1.0 for r in full)


def test_stream_dedup_within_watermark(spark, tmp_path):
    ev = _event("s1", 0)
    batch = [ev, dict(ev), _event("s1", 1)]  # duplicate chunk 0 (replay)
    in_dir = _write_batch_files(spark, str(tmp_path), [batch])
    stream = parquet_stream(spark, in_dir, LIVE_CHUNK_SCHEMA, max_files_per_trigger=1)
    q = (
        deduplicated_stream(live_transform(stream))
        .select("stream_id", "chunk_index")
        .writeStream.format("memory")
        .queryName("dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    _drain(q)
    rows = spark.sql("SELECT * FROM dedup").collect()
    assert len(rows) == 2  # duplicate suppressed


# ----------------------------------------------------------------- sinks


def test_upsert_sink_idempotent_under_replay(spark, tmp_path):
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        append_log_upsert,
        latest_view,
    )

    table = str(tmp_path / "meta")
    keys = ["stream_id", "chunk_index"]
    df = spark.createDataFrame([_event("s1", i) for i in range(4)], LIVE_CHUNK_SCHEMA)
    append_log_upsert(df, table, batch_id=0)
    # replay the same batch (checkpoint recovery scenario, ST3)
    append_log_upsert(df, table, batch_id=0)
    out = latest_view(spark, table, keys, "sequence_number")
    assert out.count() == 4
    # update wins: new status for chunk 0 replaces the old row
    upd = _event("s1", 0)
    upd["status"] = "live"
    append_log_upsert(spark.createDataFrame([upd], LIVE_CHUNK_SCHEMA), table, batch_id=1)
    out = latest_view(spark, table, keys, "sequence_number")
    assert out.count() == 4
    assert out.filter(F.col("chunk_index") == 0).collect()[0].status == "live"


def test_end_to_end_live_query(spark, tmp_path):
    """Full topology on the merge-on-read, crash-atomic live sink:
    file-source micro-batches -> transform -> foreachBatch dual sink
    (metadata log upsert + chunk objects)."""
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        latest_view,
        make_live_log_sink,
    )

    batches = [
        [_event("s1", i) for i in range(3)],
        [_event("s1", i) for i in range(2, 5)],  # overlap: replayed chunk 2
    ]
    in_dir = _write_batch_files(spark, str(tmp_path), batches)
    stream = parquet_stream(spark, in_dir, LIVE_CHUNK_SCHEMA, max_files_per_trigger=1)
    meta = str(tmp_path / "meta")
    chunks = str(tmp_path / "chunks")
    q = start_foreach_batch(
        live_transform(stream),
        make_live_log_sink(meta, chunks),
        checkpoint_dir=str(tmp_path / "ckpt"),
        query_name="live_e2e",
        available_now=False,
    )
    _drain(q)
    out = latest_view(spark, meta, ["stream_id", "chunk_index"], "sequence_number")
    assert out.count() == 5  # chunk 2 upserted once
    assert set(r.chunk_index for r in out.collect()) == set(range(5))
    assert spark.read.parquet(chunks).count() >= 5


# --------------------------------------------------------------- metrics


def test_observed_metrics_listener(spark, tmp_path):
    """S10 — observe() metrics ride the streaming plan and the listener
    folds them into monotonic counters across micro-batches."""
    from kafka_spark_streaming_pipeline_spark.streaming.metrics import (
        PipelineMetricsListener,
        with_pipeline_metrics,
    )

    batches = [
        [_event("s1", i) for i in range(3)],
        [_event("s1", i) for i in range(3, 5)] + [_event("s2", 0)],
    ]
    in_dir = _write_batch_files(spark, str(tmp_path), batches)
    listener = PipelineMetricsListener()
    spark.streams.addListener(listener)
    try:
        stream = live_transform(parquet_stream(spark, in_dir, LIVE_CHUNK_SCHEMA))
        observed = with_pipeline_metrics(stream)
        q = start_foreach_batch(
            observed,
            lambda df, _id: df.count(),
            checkpoint_dir=str(tmp_path / "ckpt"),
            available_now=True,
            query_name="metrics_test",
        )
        _drain(q)
        # listener callbacks are async — poll briefly
        import time

        for _ in range(50):
            if listener.counters.get("n_chunks", 0) >= 6:
                break
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    assert listener.counters["n_chunks"] == 6          # monotonic across batches
    assert listener.counters["n_checksum_failed"] == 0  # all checksums valid
    assert listener.counters["rows_in_total"] == 6
    assert listener.gauges["approx_streams"] >= 1
    assert "max_latency_ms" in listener.gauges
    assert listener.batches >= 1


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream join with watermarks: chunks pair with their
    stream's start event within the interval; chunks of streams with
    no start (or starts after the chunk) don't match."""
    from kafka_spark_streaming_pipeline_spark.streaming.pipeline import (
        enrich_with_stream_start,
    )

    chunk_rows = [
        _event("s1", 0, ts="2024-01-01T00:10:00+00:00"),
        _event("s1", 1, ts="2024-01-01T00:11:00+00:00"),
        _event("s2", 0, ts="2024-01-01T00:10:00+00:00"),  # no start event
    ]
    in_dir = _write_batch_files(spark, str(tmp_path), [chunk_rows])
    chunks = parquet_stream(spark, in_dir, LIVE_CHUNK_SCHEMA).withColumn(
        "event_ts", F.to_timestamp("timestamp")
    )
    start_rows = [("s1", "2024-01-01T00:05:00+00:00", "Match A-B")]
    starts_dir = os.path.join(str(tmp_path), "starts")
    os.makedirs(starts_dir, exist_ok=True)
    spark.createDataFrame(
        start_rows, "stream_id string, start string, title string"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(starts_dir, "d"))
    import glob
    import shutil

    [part] = glob.glob(os.path.join(starts_dir, "d", "part-*.parquet"))
    shutil.move(part, os.path.join(starts_dir, "b0.parquet"))
    starts = (
        spark.readStream.schema("stream_id string, start string, title string")
        .option("maxFilesPerTrigger", "1")
        .parquet(starts_dir)
        .withColumn("event_ts", F.to_timestamp("start"))
    )
    out = enrich_with_stream_start(chunks.select("stream_id", "chunk_index", "event_ts"), starts)
    results = []
    q = start_foreach_batch(
        out,
        lambda df, _id: results.extend(df.collect()),
        checkpoint_dir=str(tmp_path / "ckpt_ss"),
        available_now=True,
        query_name="ss_join_test",
    )
    _drain(q)
    matched = {(r.stream_id, r.chunk_index): r.title for r in results}
    assert matched == {("s1", 0): "Match A-B", ("s1", 1): "Match A-B"}


def test_vod_streaming_path_variants_and_manifest(spark, tmp_path):
    """SURVEY §3.1 as a stream: VOD chunks -> transform (defaults,
    checksum, 4-rendition fan-out) -> per-variant object rows + ordered
    manifest materialization inside foreachBatch."""
    from kafka_spark_streaming_pipeline_spark.functions.manifest import vod_manifests
    from kafka_spark_streaming_pipeline_spark.schemas import VOD_RENDITIONS
    from kafka_spark_streaming_pipeline_spark.streaming.pipeline import vod_transform

    batches = [
        [dict(_event("ep-1", i), stream_type="vod", status="uploaded") for i in range(3)],
        [dict(_event("ep-1", 3), stream_type="vod", status="uploaded")],
    ]
    in_dir = _write_batch_files(spark, str(tmp_path), batches)
    stream = vod_transform(parquet_stream(spark, in_dir, LIVE_CHUNK_SCHEMA))

    variant_rows, manifests = [], {}

    def sink(df, _id):
        exploded = df.select(
            "stream_id", "chunk_index", F.explode("variant_paths").alias("variant_path")
        )
        variant_rows.extend(exploded.collect())
        for r in vod_manifests(df.select("stream_id", "chunk_index", "duration_ms")).collect():
            manifests[r.stream_id] = r.manifest

    q = start_foreach_batch(
        stream, sink, checkpoint_dir=str(tmp_path / "ckpt_vod"),
        available_now=True, query_name="vod_path",
    )
    _drain(q)
    assert len(variant_rows) == 4 * len(VOD_RENDITIONS)  # 4 chunks x renditions
    assert {r.variant_path for r in variant_rows if r.chunk_index == 0} == {
        f"ep-1/{rend}/0.ts" for rend in VOD_RENDITIONS
    }
    # last batch's manifest covers only that batch's rows (per-batch view);
    # full-table manifest semantics are oracle-checked in p03
    assert "ep-1/" in manifests["ep-1"]


def test_log_sink_latest_view_and_compaction(spark, tmp_path):
    """Merge-on-read: appends replace on key at read time; replays are
    idempotent (same commit wins once); compaction preserves the view."""
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        append_log_upsert,
        compact_log,
        latest_view,
    )

    path = str(tmp_path / "log")
    rows1 = spark.createDataFrame(
        [("s1", 0, 1, "v1"), ("s1", 1, 1, "v1")],
        "stream_id string, chunk_index long, sequence_number long, payload string",
    )
    rows2 = spark.createDataFrame(
        [("s1", 0, 2, "v2")],  # update of (s1, 0)
        "stream_id string, chunk_index long, sequence_number long, payload string",
    )
    append_log_upsert(rows1, path, batch_id=1)
    append_log_upsert(rows2, path, batch_id=2)
    append_log_upsert(rows2, path, batch_id=2)  # replay of batch 2

    keys = ["stream_id", "chunk_index"]
    view = latest_view(spark, path, keys, "sequence_number")
    got = {(r.stream_id, r.chunk_index): r.payload for r in view.collect()}
    assert got == {("s1", 0): "v2", ("s1", 1): "v1"}

    compact_log(spark, path, keys, "sequence_number")
    from kafka_spark_streaming_pipeline_spark.streaming.txn import AtomicParquetTable

    assert AtomicParquetTable(path).read(spark).count() == 2  # one row per key now
    after = {
        (r.stream_id, r.chunk_index): r.payload
        for r in latest_view(spark, path, keys, "sequence_number").collect()
    }
    assert after == got

    # a later batch wins on its key even with an equal order_col value,
    # and merges with the compacted history
    rows3 = spark.createDataFrame(
        [("s1", 1, 1, "v3")],
        "stream_id string, chunk_index long, sequence_number long, payload string",
    )
    append_log_upsert(rows3, path, batch_id=3)
    final = {
        (r.stream_id, r.chunk_index): r.payload
        for r in latest_view(spark, path, keys, "sequence_number").collect()
    }
    assert final == {("s1", 0): "v2", ("s1", 1): "v3"}


def test_ewma_anomaly_stream_flags_spike_across_batches(spark, tmp_path):
    from kafka_spark_streaming_pipeline_spark.streaming.state import ewma_anomalies

    # steady sizes in batch 1; batch 2 opens with a 100x spike
    b1 = [_event("s1", i, seq=i) for i in range(6)]          # sizes 1000..1005
    spike = _event("s1", 6, seq=6)
    spike["size_bytes"] = 200_000
    b2 = [spike] + [_event("s1", i, seq=i) for i in range(7, 10)]
    in_dir = _write_batch_files(spark, str(tmp_path), [b1, b2])
    stream = parquet_stream(spark, in_dir, LIVE_CHUNK_SCHEMA, max_files_per_trigger=1)
    q = (
        ewma_anomalies(stream)
        .writeStream.format("memory")
        .queryName("ewma_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    _drain(q)
    rows = {r.sequence_number: r for r in spark.sql("SELECT * FROM ewma_out").collect()}
    assert rows[6].is_anomaly            # the spike, first row of batch 2:
    # state (ewma/var of batch 1) survived the batch boundary
    assert rows[9].n_seen == 10          # counter accumulated across batches
    assert not rows[5].is_anomaly        # steady rows unflagged
    assert not rows[9].is_anomaly        # recovered after the spike
    assert rows[0].zscore is None        # warm-up rows unscored


def test_stream_static_dim_enrichment(spark, tmp_path):
    from kafka_spark_streaming_pipeline_spark.streaming.pipeline import enrich_with_static_dim

    batches = [[_event("s1", 0), _event("s2", 0)]]
    in_dir = _write_batch_files(spark, str(tmp_path), batches)
    dim = spark.createDataFrame(
        [("s1", "channel-A"), ("s3", "channel-C")], "stream_id string, channel string"
    )
    stream = parquet_stream(spark, in_dir, LIVE_CHUNK_SCHEMA, max_files_per_trigger=1)
    q = (
        enrich_with_static_dim(stream, dim)
        .select("stream_id", "chunk_index", "channel")
        .writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    _drain(q)
    rows = {r.stream_id: r.channel for r in spark.sql("SELECT * FROM enriched").collect()}
    assert rows == {"s1": "channel-A", "s2": None}  # left join keeps unmatched


def test_incremental_rollup_matches_batch_and_survives_replay(spark, tmp_path):
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_rollup,
        make_rollup_sink,
        rollup_view,
    )

    batches = [
        [_event("s1", i) for i in range(4)],
        [_event("s1", i) for i in range(4, 6)] + [_event("s2", i) for i in range(3)],
    ]
    in_dir = _write_batch_files(spark, str(tmp_path), batches)
    stream = parquet_stream(spark, in_dir, LIVE_CHUNK_SCHEMA, max_files_per_trigger=1)
    stream = stream.withColumn("event_ts", F.to_timestamp("timestamp"))
    rollup_path = str(tmp_path / "rollup")
    sink = make_rollup_sink(rollup_path, ["stream_id"])
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    _drain(q)

    def view_rows():
        return {
            (r.stream_id, r.bucket): (r.n_events, r.value_sum)
            for r in rollup_view(spark, rollup_path, ["stream_id"]).collect()
        }

    # merged view == direct batch aggregate over all the data
    all_rows = [e for b in batches for e in b]
    direct = (
        spark.createDataFrame(all_rows, LIVE_CHUNK_SCHEMA)
        .withColumn("event_ts", F.to_timestamp("timestamp"))
        .groupBy("stream_id", F.window("event_ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"), F.sum("size_bytes").alias("s"))
    )
    want = {(r.stream_id, r.w.start): (r.n, r.s) for r in direct.collect()}
    assert view_rows() == want

    # replay batch 1 (at-least-once retry): same commit id, same partial
    # rows appended again -> view must NOT double-count
    replay_df = spark.createDataFrame(batches[1], LIVE_CHUNK_SCHEMA).withColumn(
        "event_ts", F.to_timestamp("timestamp")
    )
    sink(replay_df, 1)
    assert view_rows() == want

    # compaction folds the log without changing the view
    compact_rollup(spark, rollup_path, ["stream_id"])
    assert view_rows() == want


def test_streaming_seasonal_anomalies_match_batch_with_outage_and_spike(
    spark, tmp_path
):
    """Continuous seasonal monitoring: hourly counts maintained as a
    mergeable streaming rollup, scored at read time through the SAME
    code path as the batch operator.  A planted SPIKE hour and a
    planted zero-count OUTAGE hour must both be flagged from the
    streamed state; the merged view must equal the batch operator on
    the union of all batches; replay and compaction must not change
    it."""
    import os

    from kafka_spark_streaming_pipeline_spark.operators.timeseries import (
        seasonal_anomalies,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_seasonal,
        make_seasonal_sink,
        seasonal_view,
    )

    # 3 days x 24 h, 5 events per (type, hour) baseline; day 2: a
    # 50-event spike at 10:00 for api, a total outage at 14:00 for api
    rows = []
    for day in (1, 2, 3):
        for hod in range(24):
            for typ in ("api", "web"):
                n = 5
                if typ == "api" and day == 2 and hod == 10:
                    n = 50
                if typ == "api" and day == 2 and hod == 14:
                    n = 0
                for i in range(n):
                    rows.append((typ, f"2026-01-0{day} {hod:02d}:{i % 60:02d}:00"))

    SCHEMA = "event_type string, ts_str string"
    in_dir = str(tmp_path / "ev_in")
    os.makedirs(in_dir)
    # one file per day -> three micro-batches
    for day in (1, 2, 3):
        day_rows = [r for r in rows if f"-0{day} " in r[1]]
        spark.createDataFrame(day_rows, SCHEMA).coalesce(1).write.parquet(
            f"{in_dir}/d{day}"
        )
    stream = parquet_stream(
        spark, in_dir + "/*", SCHEMA, max_files_per_trigger=1
    ).withColumn("ts", F.to_timestamp("ts_str"))
    counts_path = str(tmp_path / "hourly")
    sink = make_seasonal_sink(counts_path)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)

    def view_rows():
        return {
            (r.event_type, str(r.hour)): (r.cnt, r.z_score)
            for r in seasonal_view(spark, counts_path).collect()
        }

    got = view_rows()
    # the streamed state flags BOTH planted anomalies (constant
    # baseline -> sentinel z)
    assert got[("api", "2026-01-02 10:00:00")] == (50, 9999.0)
    assert got[("api", "2026-01-02 14:00:00")] == (0, -9999.0)

    # merged view == the batch operator over all the data
    batch = seasonal_anomalies(
        spark.createDataFrame(rows, SCHEMA).withColumn(
            "ts", F.to_timestamp("ts_str")
        )
    )
    want = {
        (r.event_type, str(r.hour)): (r.cnt, r.z_score) for r in batch.collect()
    }
    assert got == want

    # replay the day-2 batch (at-least-once retry) -> deduped
    day2 = (
        spark.createDataFrame([r for r in rows if "-02 " in r[1]], SCHEMA)
        .withColumn("ts", F.to_timestamp("ts_str"))
    )
    sink(day2, 1)
    assert view_rows() == want

    # compaction folds the count log without changing the scores
    compact_seasonal(spark, counts_path)
    assert view_rows() == want

    # a monitoring loop re-reading the view must not accumulate cached
    # hour-grids: every call scope-releases the frames the previous
    # call persisted, so the registry stays flat across reads
    from kafka_spark_streaming_pipeline_spark import cache as cache_reg

    n0 = len(cache_reg._TRACKED)
    for _ in range(3):
        assert view_rows() == want
        assert len(cache_reg._TRACKED) <= n0


def test_incremental_index_matches_batch_and_survives_replay(spark, tmp_path):
    from kafka_spark_streaming_pipeline_spark.operators.retrieval import inverted_index
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_index,
        index_view,
        make_index_sink,
    )

    DOC_SCHEMA = "doc_id bigint, text string"
    batches = [
        [(1, "alpha beta gamma"), (2, "alpha delta")],
        [(3, "beta gamma gamma epsilon")],
        [(4, "alpha zz epsilon")],
    ]
    in_dir = str(tmp_path / "docs_in")
    os.makedirs(in_dir)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, DOC_SCHEMA).coalesce(1).write.parquet(
            f"{in_dir}/b{i}"
        )
    stream = parquet_stream(
        spark, in_dir + "/*", DOC_SCHEMA, max_files_per_trigger=1
    )
    index_path = str(tmp_path / "index")
    sink = make_index_sink(index_path)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    _drain(q)

    def view_rows(**kw):
        return {
            r.term: (r.df, r.postings, r.postings_truncated)
            for r in index_view(spark, index_path, **kw).collect()
        }

    all_docs = spark.createDataFrame([r for b in batches for r in b], DOC_SCHEMA)
    want = {
        r.term: (r.df, r.postings, r.postings_truncated)
        for r in inverted_index(all_docs).collect()
    }
    got = view_rows()
    assert got == want
    # sub-min_token_len tokens never indexed
    assert "zz" not in got

    # replay one batch (at-least-once retry): same commit id, identical
    # partial -> the view is unchanged
    replayed = spark.createDataFrame(batches[1], DOC_SCHEMA)
    sink(replayed, 1)
    assert view_rows() == want

    # the truncation cap matches the batch operator's semantics
    capped = view_rows(max_postings=2)
    assert capped["alpha"] == (3, [1, 2], True)

    # compaction folds the log without changing the merged view
    compact_index(spark, index_path)
    assert view_rows() == want

    # a stream restarted on a FRESH checkpoint re-delivers batch id 0;
    # the compacted history (__commit=-1) must merge with it, not
    # collide in the per-commit dedup
    extra = spark.createDataFrame([(9, "alpha omega")], DOC_SCHEMA)
    sink(extra, 0)
    after = view_rows()
    assert after["alpha"][0] == want["alpha"][0] + 1  # df merged
    assert after["alpha"][1] == sorted(want["alpha"][1] + [9])
    assert after["omega"][0] == 1


def test_stream_stream_interval_join_left_outer_emits_orphans(spark, tmp_path):
    """Left-outer variant: a chunk whose stream never got a start event
    emits with a null title once the watermark passes its interval —
    the monitoring-friendly mode (inner silently hides broken streams)."""
    import glob
    import shutil

    from kafka_spark_streaming_pipeline_spark.streaming.pipeline import (
        enrich_with_stream_start,
    )

    def write_single(rows, schema, dest):
        tmp = dest + ".tmp"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        [part] = glob.glob(os.path.join(tmp, "part-*.parquet"))
        shutil.move(part, dest)
        shutil.rmtree(tmp)

    chunks_dir = str(tmp_path / "chunks_in")
    starts_dir = str(tmp_path / "starts_in")
    os.makedirs(chunks_dir)
    os.makedirs(starts_dir)
    write_single(
        [
            _event("s1", 0, ts="2024-01-01T00:10:00+00:00"),
            _event("s2", 0, ts="2024-01-01T00:10:00+00:00"),  # orphan
        ],
        LIVE_CHUNK_SCHEMA,
        os.path.join(chunks_dir, "b0.parquet"),
    )
    write_single(
        [("s1", "2024-01-01T00:05:00+00:00", "Match A-B")],
        "stream_id string, start string, title string",
        os.path.join(starts_dir, "b0.parquet"),
    )

    def run_once():
        chunks = parquet_stream(spark, chunks_dir, LIVE_CHUNK_SCHEMA).withColumn(
            "event_ts", F.to_timestamp("timestamp")
        )
        starts = (
            spark.readStream.schema("stream_id string, start string, title string")
            .option("maxFilesPerTrigger", "1")
            .parquet(starts_dir)
            .withColumn("event_ts", F.to_timestamp("start"))
        )
        out = enrich_with_stream_start(
            chunks.select("stream_id", "chunk_index", "event_ts"),
            starts,
            how="left_outer",
        )
        results = []
        q = start_foreach_batch(
            out,
            lambda df, _id: results.extend(df.collect()),
            checkpoint_dir=str(tmp_path / "ckpt_louter"),
            available_now=True,
            query_name="ss_louter_test",
        )
        _drain(q)
        return results

    got = {(r.stream_id, r.chunk_index): r.title for r in run_once()}
    assert got[("s1", 0)] == "Match A-B"  # matched pair emits immediately

    # sentinel events far in the future advance BOTH watermarks past the
    # orphan's interval; the next run's batches flush the null-padded row
    write_single(
        [_event("s9", 0, ts="2024-01-01T03:00:00+00:00")],
        LIVE_CHUNK_SCHEMA,
        os.path.join(chunks_dir, "b1.parquet"),
    )
    write_single(
        [("s9", "2024-01-01T03:00:00+00:00", "late sentinel")],
        "stream_id string, start string, title string",
        os.path.join(starts_dir, "b1.parquet"),
    )
    got2 = {(r.stream_id, r.chunk_index): r.title for r in run_once()}
    assert ("s2", 0) in got2 and got2[("s2", 0)] is None


def test_orc_stream_source_end_to_end(spark, tmp_path):
    from kafka_spark_streaming_pipeline_spark.sources.files import orc_stream

    in_dir = str(tmp_path / "orc_in")
    os.makedirs(in_dir)
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id bigint, v string"
    ).coalesce(1).write.orc(f"{in_dir}/b0")
    stream = orc_stream(spark, f"{in_dir}/*", "id bigint, v string")
    results = []
    q = (
        stream.writeStream.foreachBatch(lambda df, _id: results.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_orc"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    assert sorted((r.id, r.v) for r in results) == [(1, "a"), (2, "b")]


def test_online_compaction_drops_replayed_uncheckpointed_batch(spark, tmp_path):
    """compact_rollup(quiesced=False) under a live stream: a batch that
    was appended but NOT yet checkpointed gets folded; the restarted
    stream replays it under its original id.  The in-band watermark
    must drop that replay (no double count) while still merging truly
    new batches — the exact scenario the quiesced-only contract used
    to forbid."""
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_rollup,
        make_rollup_sink,
        rollup_view,
    )

    rollup_path = str(tmp_path / "rollup")
    sink = make_rollup_sink(rollup_path, ["stream_id"])

    def batch_df(events):
        return spark.createDataFrame(events, LIVE_CHUNK_SCHEMA).withColumn(
            "event_ts", F.to_timestamp("timestamp")
        )

    b0 = [_event("s1", i) for i in range(4)]
    b1 = [_event("s1", i) for i in range(4, 6)] + [_event("s2", i) for i in range(2)]
    sink(batch_df(b0), 0)
    sink(batch_df(b1), 1)  # appended; checkpoint for batch 1 never lands

    def view_rows():
        return {
            (r.stream_id, r.bucket): (r.n_events, r.value_sum)
            for r in rollup_view(spark, rollup_path, ["stream_id"]).collect()
        }

    want = view_rows()

    # online compaction while the stream is live
    compact_rollup(spark, rollup_path, ["stream_id"], quiesced=False)
    assert view_rows() == want

    # crash-restart replays batch 1 under its original id -> dropped
    sink(batch_df(b1), 1)
    assert view_rows() == want

    # a second online fold carries the watermark forward
    compact_rollup(spark, rollup_path, ["stream_id"], quiesced=False)
    sink(batch_df(b1), 1)
    assert view_rows() == want

    # a genuinely new batch (id above the watermark) still merges
    b2 = [_event("s3", i) for i in range(3)]
    sink(batch_df(b2), 2)
    after = view_rows()
    assert sum(v[0] for v in after.values()) == sum(v[0] for v in want.values()) + 3

    # a quiesced fold resets the stamp to -1, restoring the
    # fresh-checkpoint restart path (new batch id 0 must be ACCEPTED)
    compact_rollup(spark, rollup_path, ["stream_id"])
    fresh = [_event("s4", i) for i in range(2)]
    sink(batch_df(fresh), 0)
    final = view_rows()
    assert sum(v[0] for v in final.values()) == sum(v[0] for v in after.values()) + 2


def test_online_index_compaction_drops_replays(spark, tmp_path):
    """Same watermark contract for the incremental inverted index:
    online compaction + replay of the folded batch must not
    double-count df/postings."""
    from kafka_spark_streaming_pipeline_spark.operators.retrieval import inverted_index
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_index,
        index_view,
        make_index_sink,
    )

    DOC_SCHEMA = "doc_id bigint, text string"
    index_path = str(tmp_path / "index")
    sink = make_index_sink(index_path)
    b0 = [(1, "alpha beta gamma"), (2, "alpha delta")]
    b1 = [(3, "beta gamma epsilon")]
    sink(spark.createDataFrame(b0, DOC_SCHEMA), 0)
    sink(spark.createDataFrame(b1, DOC_SCHEMA), 1)

    def view_rows():
        return {
            r.term: (r.df, r.postings)
            for r in index_view(spark, index_path).collect()
        }

    want = {
        r.term: (r.df, r.postings)
        for r in inverted_index(spark.createDataFrame(b0 + b1, DOC_SCHEMA)).collect()
    }
    assert view_rows() == want

    compact_index(spark, index_path, quiesced=False)
    sink(spark.createDataFrame(b1, DOC_SCHEMA), 1)  # replay of folded batch
    assert view_rows() == want

    sink(spark.createDataFrame([(7, "alpha omega")], DOC_SCHEMA), 2)  # new batch
    after = view_rows()
    assert after["alpha"] == (want["alpha"][0] + 1, sorted(want["alpha"][1] + [7]))


def test_streaming_ivf_index_matches_batch_and_survives_replay(spark, tmp_path):
    """Incremental IVF: vectors streamed batch-by-batch through
    make_ivf_sink must be searchable with results IDENTICAL to a
    one-shot assignment of the same vectors against the same fixed
    centroids; replays dedupe; online compaction + replay stays
    exact."""
    from kafka_spark_streaming_pipeline_spark.operators.similarity import (
        _as_double,
        ivf_index_build,
        ivf_search_postings,
        nearest_cells,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_ivf,
        ivf_stream_search,
        ivf_stream_view,
        make_ivf_sink,
    )

    def vecs(ids):
        return spark.createDataFrame(
            [(i, [float((i * 7 + d * 3) % 13) - 6.0 for d in range(8)]) for i in ids],
            ["vec_id", "embedding"],
        )

    index_path = str(tmp_path / "ivf_stream")
    # centroids fixed at build time from an initial corpus
    ivf_index_build(vecs(range(40)), index_path, nlist=4)
    sink = make_ivf_sink(index_path)

    b0, b1 = list(range(100, 120)), list(range(120, 135))
    sink(vecs(b0), 0)
    sink(vecs(b1), 1)

    queries = vecs(range(3))
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivf_stream_search(spark, queries, index_path, k=3).collect()
    }

    # parity: one-shot assignment of the same vectors, same centroids
    cents = spark.read.parquet(f"{index_path}/centroids")
    allv = vecs(b0 + b1).select(
        F.col("vec_id").alias("neighbor_id"), _as_double(F.col("embedding")).alias("v")
    )
    want = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivf_search_postings(
            queries, cents, nearest_cells(allv, cents, 1, "cell"), k=3
        ).collect()
    }
    assert got == want

    # replay batch 1 -> per-commit dedup, unchanged results
    sink(vecs(b1), 1)
    assert {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivf_stream_search(spark, queries, index_path, k=3).collect()
    } == want
    assert ivf_stream_view(spark, index_path).count() == len(b0) + len(b1)

    # online compaction then replay of the folded batch -> still exact
    compact_ivf(spark, index_path, quiesced=False)
    sink(vecs(b1), 1)
    assert ivf_stream_view(spark, index_path).count() == len(b0) + len(b1)
    assert {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivf_stream_search(spark, queries, index_path, k=3).collect()
    } == want

    # a new batch above the watermark still lands
    sink(vecs([500]), 2)
    assert ivf_stream_view(spark, index_path).count() == len(b0) + len(b1) + 1


def test_streaming_cms_merges_exactly_and_never_underestimates(spark, tmp_path):
    """The streamed sketch must equal the batch-built sketch cell for
    cell (count-min merges exactly), survive replay and online
    compaction, and its estimates never undercount true frequencies."""
    from kafka_spark_streaming_pipeline_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        cms_view,
        compact_cms,
        make_cms_sink,
    )

    path = str(tmp_path / "cms")
    sink = make_cms_sink(path)
    b0 = [("alpha",)] * 5 + [("beta",)] * 2
    b1 = [("alpha",)] * 3 + [("gamma",)] * 4
    sink(spark.createDataFrame(b0, ["term"]), 0)
    sink(spark.createDataFrame(b1, ["term"]), 1)

    def cells():
        return {
            (r.depth, r.slot): r.cnt for r in cms_view(spark, path).collect()
        }

    want = {
        (r.depth, r.slot): r.cnt
        for r in cms_build(
            spark.createDataFrame(b0 + b1, ["term"]), "term"
        ).collect()
    }
    assert cells() == want

    sink(spark.createDataFrame(b1, ["term"]), 1)  # replay -> deduped
    assert cells() == want
    compact_cms(spark, path, quiesced=False)
    sink(spark.createDataFrame(b1, ["term"]), 1)  # replay of folded batch
    assert cells() == want

    terms = spark.createDataFrame([("alpha",), ("beta",), ("gamma",)], ["term"])
    est = {
        r.term: r.cms_estimate
        for r in cms_estimate(cms_view(spark, path), terms).collect()
    }
    assert est["alpha"] >= 8 and est["beta"] >= 2 and est["gamma"] >= 4


def test_streaming_datasheet_matches_batch_stats(spark, sf_dir, tmp_path):
    """The streamed datasheet must reproduce the batch-computed
    per-source stats: integer partials exactly, the HLL duplicate
    estimate within sketch error; replay- and compaction-safe."""
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_datasheet,
        datasheet_view,
        make_datasheet_sink,
    )

    docs = load_table(spark, sf_dir, "documents")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "ds")
    sink = make_datasheet_sink(path)
    sink(b0, 0)
    sink(b1, 1)

    def view():
        return {r.source: r for r in datasheet_view(spark, path).collect()}

    got = view()
    from kafka_spark_streaming_pipeline_spark.operators import text as tx

    t = F.col("text")
    want = {
        r.source: r
        for r in docs.select(
            "source",
            tx.token_count(t).alias("n_tokens"),
            (tx.quality_score(t) >= 0.9).cast("long").alias("hi_q"),
            tx.fingerprint(t).alias("fp"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("hi_q").alias("hi_q_docs"),
            F.countDistinct("fp").alias("distinct_fps"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for src, w in want.items():
        g = got[src]
        assert (g.n_docs, g.total_tokens) == (w.n_docs, w.total_tokens)
        assert abs(g.hi_quality_rate - w.hi_q_docs / w.n_docs) < 1e-6
        # HLL distinct within sketch error (256 registers, small range
        # -> linear counting keeps it tight)
        assert abs(g.approx_distinct_fps - w.distinct_fps) / w.distinct_fps < 0.15

    sink(b1, 1)  # replay -> deduped sums, idempotent registers
    assert view() == got
    compact_datasheet(spark, path, quiesced=False)
    sink(b1, 1)  # replay of folded batch
    assert view() == got


def test_streaming_heavy_hitters_track_true_top_terms(spark, tmp_path):
    """The sketch+candidates pair must surface the true heavy terms
    across batches (never undercounting them), survive replay, and
    keep both logs bounded."""
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_heavy_hitters,
        heavy_hitters_view,
        make_heavy_hitters_sink,
    )

    path = str(tmp_path / "hh")
    sink = make_heavy_hitters_sink(path, candidates_per_batch=4)
    # skewed stream: 'hot' dominates globally, 'warm' second; each
    # batch also carries unique cold terms that must NOT crowd the log
    b0 = [("hot",)] * 30 + [("warm",)] * 10 + [(f"cold{i}",) for i in range(20)]
    b1 = [("hot",)] * 25 + [("warm",)] * 15 + [(f"cold{i}",) for i in range(20, 40)]
    sink(spark.createDataFrame(b0, ["term"]), 0)
    sink(spark.createDataFrame(b1, ["term"]), 1)

    def top():
        return {r.term: r.cms_estimate
                for r in heavy_hitters_view(spark, path, k=2).collect()}

    est = top()
    assert set(est) == {"hot", "warm"}
    assert est["hot"] >= 55 and est["warm"] >= 25  # CMS never undercounts

    sink(spark.createDataFrame(b1, ["term"]), 1)  # replay -> identical
    assert top() == est
    compact_heavy_hitters(spark, path, quiesced=False)
    sink(spark.createDataFrame(b1, ["term"]), 1)  # replay of folded batch
    assert top() == est

    # candidate log stayed bounded: <= candidates_per_batch per commit
    from kafka_spark_streaming_pipeline_spark.streaming.txn import AtomicParquetTable

    cands = AtomicParquetTable(path + "/cands").read(spark)
    assert cands.count() <= 4 * 3 + 4  # 3 appends + folded rows


def test_streaming_heavy_hitters_candidate_floor_catches_crowded_out_terms(
    spark, tmp_path
):
    """Local-top-N candidacy alone is a heuristic: a steady moderate
    term crowded out of every batch's top-N by bursty terms never
    enters the candidate log and heavy_hitters_view permanently misses
    it.  The candidate_floor must close that hole — and without it the
    miss really happens (pinning the documented failure mode)."""
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        heavy_hitters_view,
        make_heavy_hitters_sink,
    )

    # 'steady' runs 8x per batch — globally 2nd overall — but four
    # bursty terms (10x each, different ones each batch) fill the
    # entire top-4 every time
    def batch(i):
        rows = [(f"burst{i}_{j}",) for j in range(4) for _ in range(10)]
        rows += [("steady",)] * 8 + [("hot",)] * 40
        return spark.createDataFrame(rows, ["term"])

    # top-4 per batch = hot + 3 bursts (40, 10, 10, 10 > 8): no floor
    # -> steady is never a candidate, however many batches pass
    p_miss = str(tmp_path / "hh_miss")
    sink = make_heavy_hitters_sink(p_miss, candidates_per_batch=4)
    for i in range(3):
        sink(batch(i), i)
    assert "steady" not in {
        r.term for r in heavy_hitters_view(spark, p_miss, k=5).collect()
    }

    # floor=8: steady logs on its first batch and ranks 2nd in the view
    p_floor = str(tmp_path / "hh_floor")
    sink = make_heavy_hitters_sink(p_floor, candidates_per_batch=4, candidate_floor=8)
    for i in range(3):
        sink(batch(i), i)
    view = [r.term for r in heavy_hitters_view(spark, p_floor, k=2).collect()]
    assert view == ["hot", "steady"]


def test_streaming_hll_merges_exactly_and_is_replay_idempotent(spark, tmp_path):
    """The streamed portable-HLL registers must equal the batch-built
    registers row for row (union = element-wise max), survive replay
    and online compaction (max is idempotent even WITHOUT commit
    dedup), and the merged estimate must equal the batch estimate."""
    from kafka_spark_streaming_pipeline_spark.operators.sketches import (
        hll_portable_estimate,
        hll_portable_registers,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_hll,
        hll_stream_view,
        make_hll_sink,
    )

    path = str(tmp_path / "hll")
    sink = make_hll_sink(path, ["grp"], "uid")
    b0 = [("a", i) for i in range(40)] + [("b", i) for i in range(10)]
    b1 = [("a", i) for i in range(20, 60)] + [("b", i) for i in range(5)]
    sink(spark.createDataFrame(b0, ["grp", "uid"]), 0)
    sink(spark.createDataFrame(b1, ["grp", "uid"]), 1)

    def regs():
        return sorted(
            map(tuple, hll_stream_view(spark, path, ["grp"]).collect())
        )

    want = sorted(
        map(
            tuple,
            hll_portable_registers(
                spark.createDataFrame(b0 + b1, ["grp", "uid"]), ["grp"], "uid"
            ).collect(),
        )
    )
    assert regs() == want

    sink(spark.createDataFrame(b1, ["grp", "uid"]), 1)  # replay -> deduped
    assert regs() == want
    compact_hll(spark, path, ["grp"], quiesced=False)
    sink(spark.createDataFrame(b1, ["grp", "uid"]), 1)  # replay of folded batch
    assert regs() == want

    est = {
        r.grp: r.approx_distinct
        for r in hll_portable_estimate(
            hll_stream_view(spark, path, ["grp"]), ["grp"]
        ).collect()
    }
    # exact distincts: a has 60 uids, b has 10; small-range linear
    # counting keeps the estimate tight at this cardinality
    assert abs(est["a"] - 60) / 60 < 0.15
    assert abs(est["b"] - 10) / 10 < 0.15


def test_compaction_cas_rejects_concurrent_commit(spark, tmp_path):
    """The pinned-snapshot CAS: an overwrite prepared against version V
    must FAIL (table untouched) if another writer committed V+1 in the
    meantime — the interleaving where a non-CAS compaction would
    silently drop the concurrent batch or stamp a stale watermark."""
    import pytest

    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        make_rollup_sink,
        rollup_view,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.txn import (
        AtomicParquetTable,
        ConcurrentWriteError,
    )

    rollup_path = str(tmp_path / "rollup")
    sink = make_rollup_sink(rollup_path, ["stream_id"])

    def batch_df(events):
        return spark.createDataFrame(events, LIVE_CHUNK_SCHEMA).withColumn(
            "event_ts", F.to_timestamp("timestamp")
        )

    sink(batch_df([_event("s1", i) for i in range(3)]), 0)
    table = AtomicParquetTable(rollup_path)
    pinned = table.version(spark)

    # a compactor pins `pinned`, then the live stream commits batch 1
    folded = table.read(spark, version=pinned)
    sink(batch_df([_event("s2", i) for i in range(2)]), 1)
    before = {
        (r.stream_id, r.bucket): (r.n_events, r.value_sum)
        for r in rollup_view(spark, rollup_path, ["stream_id"]).collect()
    }
    assert len(before) == 2  # both streams present

    with pytest.raises(ConcurrentWriteError):
        table.overwrite(folded, expect_version=pinned)
    # the losing CAS left the table untouched: both batches still merge
    after = {
        (r.stream_id, r.bucket): (r.n_events, r.value_sum)
        for r in rollup_view(spark, rollup_path, ["stream_id"]).collect()
    }
    assert after == before


def test_streaming_signature_history_matches_batch_and_survives_replay(spark, tmp_path):
    """Signatures streamed batch-by-batch through make_signature_sink
    must equal a one-shot batch signature pass over the same docs;
    replays dedupe; online compaction + replay stays exact; and the
    streaming near-dup check finds a planted near-dup through the
    merged view without touching history text."""
    from kafka_spark_streaming_pipeline_spark.operators.dedup import (
        minhash_signatures,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_signatures,
        make_signature_sink,
        neardup_stream_check,
        signature_view,
    )

    base = "shared canonical text about stream histories repeated verbatim here"

    def docs(rows):
        return spark.createDataFrame(rows, ["doc_id", "text"])

    path = str(tmp_path / "sig_history")
    sink = make_signature_sink(path)
    b0 = [(i, f"unique document number {i} with its own words {i * 7}") for i in range(5)]
    b0.append((5, base))
    b1 = [(i, f"other batch doc {i} talking about {i * 13}") for i in range(10, 14)]
    sink(docs(b0), 0)
    sink(docs(b1), 1)

    merged = {r.doc_id: list(r.sig) for r in signature_view(spark, path).collect()}
    want = {
        r.doc_id: list(r.sig)
        for r in minhash_signatures(docs(b0 + b1)).collect()
    }
    assert merged == want

    # replay batch 1 -> per-commit dedup, unchanged
    sink(docs(b1), 1)
    assert {
        r.doc_id: list(r.sig) for r in signature_view(spark, path).collect()
    } == want

    # a near-identical new doc matches the history row via signatures
    batch = docs([(100, base + " appended")])
    hits = neardup_stream_check(spark, batch, path, min_est_jaccard=0.3).collect()
    assert any(r.matched_id == 5 and r.from_history for r in hits)

    # online compaction then replay of the folded batch -> still exact
    compact_signatures(spark, path, quiesced=False)
    sink(docs(b1), 1)
    assert {
        r.doc_id: list(r.sig) for r in signature_view(spark, path).collect()
    } == want

    # a new batch above the watermark still lands
    sink(docs([(200, "fresh post-compaction document arrives")]), 2)
    assert signature_view(spark, path).count() == len(want) + 1


def test_streaming_substring_clean_matches_batch_and_survives_replay(spark, tmp_path):
    """Substring-dedup ingest streamed batch-by-batch through
    make_substring_clean_sink must equal the one-shot batch cleaner
    (x194) over the same corpus when arrival follows doc-id order;
    replays reproduce byte-identical rows and dedupe; online
    compaction of both logs + replay stays exact; history text is
    never re-read (the membership join sees only hashes)."""
    from kafka_spark_streaming_pipeline_spark.operators.dedup import (
        substring_dedup_clean,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_substring_clean,
        compact_window_hashes,
        make_substring_clean_sink,
        substring_clean_view,
        window_hash_view,
    )

    run8 = "alpha bravo charlie delta echo foxtrot golf hotel"

    def docs(rows):
        return spark.createDataFrame(rows, ["doc_id", "text"])

    hist_path = str(tmp_path / "window_hashes")
    clean_path = str(tmp_path / "cleaned")
    sink = make_substring_clean_sink(hist_path, clean_path)

    b0 = [
        (1, f"one two {run8} three"),
        (2, f"pre {run8} post"),
        (3, "totally unrelated words in the first batch entirely"),
    ]
    b1 = [
        (10, f"late copy {run8} arrives"),
        (11, "another unique later document with fresh words only"),
    ]
    sink(docs(b0), 0)
    sink(docs(b1), 1)

    def view_map():
        return {
            r.doc_id: (r.cleaned_text, r.n_tokens_removed)
            for r in substring_clean_view(spark, clean_path).collect()
        }

    want = {
        r.doc_id: (r.cleaned_text, r.n_tokens_removed)
        for r in substring_dedup_clean(docs(b0 + b1)).collect()
    }
    assert view_map() == want
    assert want[1] == (f"one two {run8} three", 0)
    assert want[2] == ("pre post", 8)
    assert want[10] == ("late copy arrives", 8)

    # replay batch 1 -> byte-identical rows, per-commit dedup
    sink(docs(b1), 1)
    assert view_map() == want

    # online compaction of BOTH logs, then replay -> still exact
    compact_window_hashes(spark, hist_path, quiesced=False)
    compact_substring_clean(spark, clean_path, quiesced=False)
    sink(docs(b1), 1)
    assert view_map() == want

    # a post-compaction batch repeating the run is still cleaned
    sink(docs([(20, f"{run8} after compaction")]), 2)
    out = view_map()
    assert out[20] == ("after compaction", 8)
    assert len(out) == len(want) + 1
    # the hash history stayed a distinct set through folding
    hv = window_hash_view(spark, hist_path)
    assert hv.count() == hv.distinct().count()


def test_streaming_bloom_filter_merges_exactly_no_false_negatives(spark, tmp_path):
    """The streamed bloom filter must equal the batch-built filter
    word for word (bit_or merges exactly), survive replay + online
    compaction, and never miss a streamed value."""
    from kafka_spark_streaming_pipeline_spark.operators.sketches import (
        bloom_build,
        bloom_pack,
        bloom_probe,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        bloom_stream_view,
        compact_bloom,
        make_bloom_sink,
    )

    path = str(tmp_path / "bloom")
    sink = make_bloom_sink(path, "gram")
    b0 = [(f"gram number {i}",) for i in range(30)]
    b1 = [(f"other gram {i}",) for i in range(20)]
    sink(spark.createDataFrame(b0, ["gram"]), 0)
    sink(spark.createDataFrame(b1, ["gram"]), 1)

    def words():
        return {r.word: r.bits for r in bloom_stream_view(spark, path).collect()}

    want = {
        r.word: r.bits
        for r in bloom_build(
            spark.createDataFrame(b0 + b1, ["gram"]), "gram"
        ).collect()
    }
    assert words() == want

    sink(spark.createDataFrame(b1, ["gram"]), 1)  # replay dedupes
    assert words() == want
    compact_bloom(spark, path, quiesced=False)
    sink(spark.createDataFrame(b1, ["gram"]), 1)  # replay of folded batch
    assert words() == want

    # no false negatives: every streamed value probes positive
    packed = bloom_pack(bloom_stream_view(spark, path))
    probed = bloom_probe(
        packed, spark.createDataFrame(b0 + b1, ["gram"]), "gram"
    )
    assert probed.filter("bloom_hit = 0").count() == 0


def test_streaming_ddsketch_merges_exactly_with_replay_and_compaction(spark, tmp_path):
    """The streamed DDSketch must equal the batch-built sketch bucket
    for bucket (merge is exact), survive replay and online compaction,
    and keep the alpha relative-error guarantee on quantiles."""
    from kafka_spark_streaming_pipeline_spark.operators.sketches import (
        dd_build,
        dd_quantiles,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_dd,
        dd_stream_view,
        make_dd_sink,
    )

    path = str(tmp_path / "dd")
    sink = make_dd_sink(path, "v")
    b0 = [(float(x),) for x in range(1, 101)]
    b1 = [(float(x * 10),) for x in range(1, 51)] + [(0.0,)]
    sink(spark.createDataFrame(b0, ["v"]), 0)
    sink(spark.createDataFrame(b1, ["v"]), 1)

    def buckets():
        return {
            (r.sgn, r.bucket): r.cnt for r in dd_stream_view(spark, path).collect()
        }

    want = {
        (r.sgn, r.bucket): r.cnt
        for r in dd_build(spark.createDataFrame(b0 + b1, ["v"]), "v").collect()
    }
    assert buckets() == want

    sink(spark.createDataFrame(b1, ["v"]), 1)  # replay -> deduped
    assert buckets() == want
    compact_dd(spark, path, quiesced=False)
    sink(spark.createDataFrame(b1, ["v"]), 1)  # replay of folded batch
    assert buckets() == want

    # quantiles from the streamed state obey the alpha bound
    import math

    vals = sorted(v for (v,) in b0 + b1)
    est = {
        r.q: r.estimate
        for r in dd_quantiles(dd_stream_view(spark, path), [0.5, 0.99]).collect()
    }
    for q in (0.5, 0.99):
        exact = vals[math.ceil(q * len(vals)) - 1]
        assert abs(est[q] - exact) / exact <= 0.01 + 1e-9

    # keyed sketch: the view derives the keys from the log's own
    # columns — a caller can never silently fold regions together
    kpath = str(tmp_path / "dd_keyed")
    ksink = make_dd_sink(kpath, "v", keys=["region"])
    ksink(spark.createDataFrame([("eu", 10.0), ("us", 1000.0)], ["region", "v"]), 0)
    ksink(spark.createDataFrame([("eu", 12.0)], ["region", "v"]), 1)
    view = dd_stream_view(spark, kpath)
    assert "region" in view.columns
    per_key = {r.region: r.total for r in view.groupBy("region").agg(
        F.sum("cnt").alias("total")).collect()}
    assert per_key == {"eu": 2, "us": 1}


def test_streaming_ddsketch_reads_pre_sgn_state_format(spark, tmp_path):
    """State-format migration: sketch logs persisted before the
    mirrored negative store have no 'sgn' column (positive buckets +
    bucket NULL for exact zeros).  Reading, appending to, querying and
    compacting such a store must keep working — sgn derives on read
    (1 for non-null buckets, 0 for the old zero encoding)."""
    from kafka_spark_streaming_pipeline_spark.operators.sketches import (
        dd_build,
        dd_quantiles,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_dd,
        dd_stream_view,
        make_dd_sink,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.txn import AtomicParquetTable

    path = str(tmp_path / "dd_old")
    b0 = [(float(x),) for x in range(1, 101)] + [(0.0,)]
    # old-release writer: the same log bucketing, minus the sgn column
    old_partial = (
        dd_build(spark.createDataFrame(b0, ["v"]), "v")
        .drop("sgn")
        .withColumn("__commit", F.lit(0))
    )
    AtomicParquetTable(path).append(old_partial)

    want = {
        (r.sgn, r.bucket): r.cnt
        for r in dd_build(spark.createDataFrame(b0, ["v"]), "v").collect()
    }
    got = {(r.sgn, r.bucket): r.cnt for r in dd_stream_view(spark, path).collect()}
    assert got == want
    # the migrated view answers quantiles and survives compaction
    est = {
        r.q: r.estimate
        for r in dd_quantiles(dd_stream_view(spark, path), [0.5]).collect()
    }
    assert abs(est[0.5] - 50.0) / 50.0 <= 0.01 + 1e-9
    compact_dd(spark, path, quiesced=False)
    assert {
        (r.sgn, r.bucket): r.cnt for r in dd_stream_view(spark, path).collect()
    } == want
    # a new-format batch appends cleanly onto the migrated store
    sink = make_dd_sink(path, "v")
    sink(spark.createDataFrame([(-5.0,)], ["v"]), 1)
    merged = {
        (r.sgn, r.bucket): r.cnt for r in dd_stream_view(spark, path).collect()
    }
    assert sum(cnt for (sgn, _), cnt in merged.items() if sgn == -1) == 1
    assert {k: v for k, v in merged.items() if k[0] >= 0} == want


def test_streaming_quality_gate_routes_and_replays_idempotently(spark, tmp_path):
    """The one-sink ingest gate must (1) score against the persisted
    LM and reject word salad, (2) reject cross-batch exact dups via
    the fingerprint history, (3) attribute each rejection, and (4)
    re-derive IDENTICAL decisions when a batch replays after a crash
    (the history read excludes the batch's own commit)."""
    from kafka_spark_streaming_pipeline_spark.operators.curation import save_bigram_lm
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        gate_view,
        make_quality_gate_sink,
    )

    fluent = "the cat sat on the mat and the dog sat on the mat"
    corpus = spark.createDataFrame([(i, fluent) for i in range(8)], ["doc_id", "text"])
    lm = str(tmp_path / "lm")
    save_bigram_lm(corpus, lm)

    acc, rej, hist = (str(tmp_path / n) for n in ("acc", "rej", "hist"))
    # threshold between the fluent CE and the salad CE
    from kafka_spark_streaming_pipeline_spark.operators.curation import (
        score_with_bigram_lm,
    )
    # threshold between doc 4's mildly-novel CE (~1.13: two unseen
    # bigrams pay backoff) and the salad's CE (~2.43)
    fluent_ce = score_with_bigram_lm(corpus.limit(1), lm).first().cross_entropy
    sink = make_quality_gate_sink(acc, rej, lm, hist, max_cross_entropy=fluent_ce + 1.2)

    salad = "mat dog the and sat cat the mat on the sat on the"
    b0 = spark.createDataFrame(
        [(1, fluent), (2, salad)], ["doc_id", "text"]
    )
    b1 = spark.createDataFrame(
        [(3, fluent), (4, "the cat sat on the mat quite happily")],
        ["doc_id", "text"],
    )
    sink(b0, 0)
    sink(b1, 1)

    accepted = {r.doc_id for r in gate_view(spark, acc).collect()}
    rejected = {r.doc_id: r.reject_reason for r in gate_view(spark, rej).collect()}
    assert accepted == {1, 4}
    assert rejected == {2: "high_perplexity", 3: "duplicate"}

    # crash replay: batch 1 re-runs — decisions identical, views stable
    sink(b1, 1)
    assert {r.doc_id for r in gate_view(spark, acc).collect()} == {1, 4}
    assert {
        r.doc_id: r.reject_reason for r in gate_view(spark, rej).collect()
    } == {2: "high_perplexity", 3: "duplicate"}

    # unscoreable and NULL-text docs are REJECTED with attribution,
    # never silently accepted or dropped
    b2 = spark.createDataFrame(
        [(5, "spam"), (6, None), (7, fluent + " again")], ["doc_id", "text"]
    )
    sink(b2, 2)
    rej_now = {r.doc_id: r.reject_reason for r in gate_view(spark, rej).collect()}
    assert rej_now[5] == "unscoreable" and rej_now[6] == "unscoreable"
    assert 7 in {r.doc_id for r in gate_view(spark, acc).collect()}

    # fresh-checkpoint restart: compact first (reserved commit -1), so
    # the restarted batch 0 still sees the WHOLE history and re-rejects
    # an exact duplicate of an accepted doc
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_gate_history,
    )

    compact_gate_history(spark, hist)
    sink(spark.createDataFrame([(8, fluent)], ["doc_id", "text"]), 0)
    rej_final = {r.doc_id: r.reject_reason for r in gate_view(spark, rej).collect()}
    assert rej_final[8] == "duplicate"


def test_quality_gate_through_real_stream(spark, tmp_path):
    """The gate driven by an ACTUAL Structured Streaming query (file
    source -> foreachBatch(make_quality_gate_sink)): per-file
    micro-batches route correctly and cross-batch dedup holds."""
    import glob
    import os
    import shutil

    from kafka_spark_streaming_pipeline_spark.operators.curation import save_bigram_lm
    from kafka_spark_streaming_pipeline_spark.sources.files import parquet_stream
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        gate_view,
        make_quality_gate_sink,
    )

    fluent = "the cat sat on the mat and the dog sat on the mat"
    corpus = spark.createDataFrame([(i, fluent) for i in range(8)], ["doc_id", "text"])
    lm = str(tmp_path / "lm")
    save_bigram_lm(corpus, lm)

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    batches = [
        [(1, fluent), (2, "mat dog the and sat cat the mat on the sat on the")],
        [(3, fluent), (4, "the cat sat on the mat happily wagging")],
    ]
    for i, rows in enumerate(batches):
        staging = str(tmp_path / f"stage_{i}")
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(staging)
        [part] = glob.glob(os.path.join(staging, "part-*.parquet"))
        shutil.move(part, os.path.join(in_dir, f"batch_{i}.parquet"))

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    acc, rej, hist = (str(tmp_path / n) for n in ("acc", "rej", "hist"))
    stream = parquet_stream(spark, in_dir, schema, max_files_per_trigger=1)
    q = (
        stream.writeStream.foreachBatch(
            make_quality_gate_sink(acc, rej, lm, hist, max_cross_entropy=1.8)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)

    assert {r.doc_id for r in gate_view(spark, acc).collect()} == {1, 4}
    assert {
        r.doc_id: r.reject_reason for r in gate_view(spark, rej).collect()
    } == {2: "high_perplexity", 3: "duplicate"}


def test_streaming_kmv_merges_exactly_and_is_replay_idempotent(spark, tmp_path):
    """The streamed per-group KMV sketch must equal the batch-built
    kmv_sketch_by arrays exactly (union = k smallest of the union),
    survive replay and online compaction (bottom-k is idempotent even
    without commit dedup), and the maintained view must drive the
    overlap matrix."""
    from pyspark.sql import functions as F

    from kafka_spark_streaming_pipeline_spark.operators.sketches import (
        kmv_overlap_matrix,
        kmv_sketch_by,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_kmv,
        kmv_stream_view,
        make_kmv_sink,
    )

    path = str(tmp_path / "kmv")
    sink = make_kmv_sink(path, ["grp"], "val", k=16)
    b0 = [("a", f"v{i}") for i in range(30)] + [("b", f"v{i}") for i in range(10, 25)]
    b1 = [("a", f"v{i}") for i in range(20, 50)] + [("b", f"w{i}") for i in range(5)]
    sink(spark.createDataFrame(b0, ["grp", "val"]), 0)
    sink(spark.createDataFrame(b1, ["grp", "val"]), 1)

    def arrays():
        return sorted(
            (r["grp"], tuple(r["kmv"]))
            for r in kmv_stream_view(spark, path, ["grp"], k=16).collect()
        )

    want = sorted(
        (r["grp"], tuple(r["kmv"]))
        for r in kmv_sketch_by(
            spark.createDataFrame(b0 + b1, ["grp", "val"]), ["grp"], F.col("val"), k=16
        ).collect()
    )
    assert arrays() == want

    sink(spark.createDataFrame(b1, ["grp", "val"]), 1)  # replay -> deduped
    assert arrays() == want
    compact_kmv(spark, path, ["grp"], k=16, quiesced=False)
    sink(spark.createDataFrame(b1, ["grp", "val"]), 1)  # replay of folded batch
    assert arrays() == want

    m = kmv_overlap_matrix(
        kmv_stream_view(spark, path, ["grp"], k=16), "grp", k=16
    ).collect()
    assert len(m) == 1 and m[0]["grp_a"] == "a" and m[0]["kmv_jaccard"] > 0


def test_streaming_curation_sink_routes_tiers_and_replays(spark, tmp_path):
    """The incremental funnel: batch 0 seeds the corpus; batch 1's
    planted victims each fall at their tier (quality, exact-vs-history,
    near-dup-vs-history, contamination); the yield view accumulates
    across batches; replaying batch 1 changes nothing."""
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        curation_yield_view,
        gate_view,
        make_curation_sink,
    )

    base = (
        "the quick brown fox jumps over a lazy dog while many other animals "
        "watch from nearby fields and wonder about the strange spectacle "
        "unfolding before their curious eyes during that warm afternoon"
    )
    unique2 = (
        "a completely different report describes harvest totals for wheat "
        "barley oats and rye across seven regions with detailed tables "
        "showing yearly trends that farmers consult before planting their "
        "next season of crops in spring"
    )
    eval_text = (
        "researchers evaluated the benchmark suite for measuring language "
        "model quality across many diverse tasks and found that careful "
        "decontamination of the training corpus remains absolutely essential "
        "for trustworthy reported results overall"
    )
    contaminated = (
        "researchers evaluated the benchmark suite for measuring language "
        "model quality across many diverse tasks and noted in passing that "
        "unrelated filler content about gardening cooking travel sports "
        "music painting also fills this document nicely today"
    )
    evals = spark.createDataFrame([(100, eval_text)], "doc_id long, text string")
    path = str(tmp_path / "cur")
    sink = make_curation_sink(path, evals)

    b0 = spark.createDataFrame(
        [(1, base), (2, unique2)], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [
            (10, "too short to pass"),                              # 1_quality
            (11, base),                                             # exact dup of history doc 1
            (12, unique2.replace("spring", "autumn")),              # near-dup of history doc 2
            (13, contaminated),                                     # 4_decontaminate
            (14, "an entirely novel account of mountain weather "
                 "patterns describes how morning clouds gather over "
                 "the high ridge lines and then release their rain "
                 "onto the eastern slopes before the midday sun returns"),
        ],
        "doc_id long, text string",
    )
    sink(b0, 0)
    sink(b1, 1)

    def state():
        acc = sorted(r.doc_id for r in gate_view(spark, f"{path}/acc").collect())
        rej = {
            r.doc_id: r.stage for r in gate_view(spark, f"{path}/rej").collect()
        }
        yld = {
            r.stage: (r.docs_in, r.docs_removed, r.docs_out)
            for r in curation_yield_view(spark, path).collect()
        }
        return acc, rej, yld

    acc, rej, yld = state()
    assert acc == [1, 2, 14]
    assert rej == {
        10: "1_quality",
        11: "2_exact_dedup",
        12: "3_near_dedup",
        13: "4_decontaminate",
    }
    # cumulative funnel: 7 docs in, one removal per tier
    assert yld["1_quality"] == (7, 1, 6)
    assert yld["2_exact_dedup"] == (6, 1, 5)
    assert yld["3_near_dedup"] == (5, 1, 4)
    assert yld["4_decontaminate"] == (4, 1, 3)

    sink(b1, 1)  # replay: own-commit exclusion + per-commit dedup
    assert state() == (acc, rej, yld)


def test_datasheet_drift_view_matches_batch_operator(spark, tmp_path):
    """Drift of a new batch against the streamed datasheet state must
    equal snapshot_drift computed from the raw history docs — the sums
    log is a sufficient statistic, so the history is never rescanned."""
    from kafka_spark_streaming_pipeline_spark.operators.curation import snapshot_drift
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        datasheet_drift_view,
        make_datasheet_sink,
    )

    en = ("the story of a fox and the dog is told here in plain english "
          "words that carry the usual stopword mix for detection purposes")
    es = ("el cuento de la zorra y el perro que se narra aqui con palabras "
          "de la lengua que lleva la mezcla usual para que se detecte bien")
    hist = spark.createDataFrame(
        [(1, "stable", en), (2, "flipping", en), (3, "stable", en)],
        "doc_id long, source string, text string",
    )
    new = spark.createDataFrame(
        [(10, "stable", en), (11, "flipping", es)],
        "doc_id long, source string, text string",
    )
    path = str(tmp_path / "ds")
    sink = make_datasheet_sink(path)
    # ingest the history in two batches — the view must fold them
    sink(hist.filter("doc_id <= 1"), 0)
    sink(hist.filter("doc_id > 1"), 1)

    got = {
        r["source"]: r for r in datasheet_drift_view(spark, path, new).collect()
    }
    want = {r["source"]: r for r in snapshot_drift(hist, new).collect()}
    assert set(got) == set(want)
    for src in want:
        for col in ("n_docs_old", "n_docs_new", "delta_en_rate",
                    "delta_hi_q_rate", "delta_mean_tokens", "drift"):
            assert got[src][col] == want[src][col], (src, col)
    assert got["flipping"].drift and not got["stable"].drift


def test_streaming_manifest_bit_equal_to_batch(spark, sf_dir, tmp_path):
    """The merged streaming manifest must be BIT-EQUAL to the batch
    shard_manifest over all ingested docs (commutative checksums),
    survive replay, keep composing after online compaction, and feed
    manifest_diff for incremental re-validation."""
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.operators.curation import (
        manifest_diff,
        shard_manifest,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_manifest,
        make_manifest_sink,
        manifest_stream_view,
    )

    docs = load_table(spark, sf_dir, "documents")
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    b2 = docs.filter(F.col("doc_id") % 3 == 2)
    path = str(tmp_path / "manifest")
    sink = make_manifest_sink(path, n_shards=8)
    sink(b0, 0)
    sink(b1, 1)

    def view():
        return {
            r["shard_id"]: tuple(r)
            for r in manifest_stream_view(spark, path).collect()
        }

    two = view()
    want_two = {
        r["shard_id"]: tuple(r)
        for r in shard_manifest(
            docs.filter(F.col("doc_id") % 3 != 2), n_shards=8
        ).collect()
    }
    assert two == want_two  # exact, not approximate
    sink(b1, 1)  # replay: per-commit dedup keeps the view unchanged
    assert view() == two
    compact_manifest(spark, path, quiesced=False)
    sink(b1, 1)  # replay of an already-folded batch: watermark drops it
    assert view() == two
    sink(b2, 2)  # live append composes with the folded rows
    want_all = {
        r["shard_id"]: tuple(r)
        for r in shard_manifest(docs, n_shards=8).collect()
    }
    assert view() == want_all
    # incremental validation: only shards b2 touched report changed
    diff = {
        r["shard_id"]: r["status"]
        for r in manifest_diff(
            shard_manifest(docs.filter(F.col("doc_id") % 3 != 2), n_shards=8),
            manifest_stream_view(spark, path),
        ).collect()
    }
    touched = {
        r["shard_id"]
        for r in shard_manifest(b2, n_shards=8).collect()
    }
    for sid, status in diff.items():
        assert status == ("changed" if sid in touched else "unchanged")


def test_streaming_cusum_view_matches_batch_and_flags_level_shift(
    spark, tmp_path
):
    """The hourly-count store maintained by the seasonal sink also
    serves CUSUM monitoring: a planted sustained level shift (rate
    triples for the final day) must raise shift_up from the streamed
    state, and the merged view must equal the batch operator on the
    union of all batches — including after a replayed commit."""
    import os

    from kafka_spark_streaming_pipeline_spark.operators.timeseries import (
        cusum_changepoints,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        cusum_view,
        make_seasonal_sink,
    )

    rows = []
    for day in (1, 2, 3):
        for hod in range(24):
            n = 15 if day == 3 else 5
            # keep a second, steady type so per-type isolation is real
            for typ, cnt in (("api", n), ("web", 5 + (hod % 2))):
                for i in range(cnt):
                    rows.append((typ, f"2026-02-0{day} {hod:02d}:{i % 60:02d}:00"))

    SCHEMA = "event_type string, ts_str string"
    in_dir = str(tmp_path / "ev_in")
    os.makedirs(in_dir)
    for day in (1, 2, 3):
        day_rows = [r for r in rows if f"-0{day} " in r[1]]
        spark.createDataFrame(day_rows, SCHEMA).coalesce(1).write.parquet(
            f"{in_dir}/d{day}"
        )
    stream = parquet_stream(
        spark, in_dir + "/*", SCHEMA, max_files_per_trigger=1
    ).withColumn("ts", F.to_timestamp("ts_str"))
    counts_path = str(tmp_path / "hourly")
    sink = make_seasonal_sink(counts_path)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)

    def key(r):
        return (r["event_type"], str(r["hour"]))

    got = {key(r): r for r in cusum_view(spark, counts_path).collect()}
    # the shifted type fires on day 3 and never on days 1-2
    assert any(
        got[k]["shift_up"] for k in got if k[0] == "api" and "2026-02-03" in k[1]
    )
    assert not any(
        got[k]["shift_up"] for k in got if k[0] == "api" and "2026-02-03" not in k[1]
    )
    assert not any(got[k]["shift_up"] for k in got if k[0] == "web")

    # merged view == batch operator over all the data
    batch = cusum_changepoints(
        spark.createDataFrame(rows, SCHEMA).withColumn("ts", F.to_timestamp("ts_str"))
    )
    want = {key(r): r for r in batch.collect()}
    assert set(got) == set(want)
    for k in want:
        for c in ("cnt", "cusum_up", "cusum_down", "shift_up", "shift_down"):
            assert got[k][c] == want[k][c], (k, c)

    # replaying the last commit must not change the view (per-commit dedup)
    sink(
        spark.createDataFrame(
            [r for r in rows if "-03 " in r[1]], SCHEMA
        ).withColumn("ts", F.to_timestamp("ts_str")),
        2,
    )
    again = {key(r): r for r in cusum_view(spark, counts_path).collect()}
    assert {k: (v["cusum_up"], v["cusum_down"]) for k, v in again.items()} == {
        k: (v["cusum_up"], v["cusum_down"]) for k, v in got.items()
    }


def test_streaming_robust_view_matches_batch(spark, tmp_path):
    """Third detector over the shared hourly store: the robust view
    must equal the batch median/MAD operator on the union of all
    batches, and a planted spike hour must flag from streamed state
    while the quiet hours stay quiet."""
    import os

    from kafka_spark_streaming_pipeline_spark.operators.timeseries import (
        robust_outliers,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        make_seasonal_sink,
        robust_view,
    )

    rows = []
    for day in (1, 2):
        for hod in range(24):
            n = 300 if (day == 2 and hod == 12) else 5 + (hod % 2)
            for i in range(n):
                rows.append(("api", f"2026-03-0{day} {hod:02d}:{i % 60:02d}:00"))

    SCHEMA = "event_type string, ts_str string"
    in_dir = str(tmp_path / "ev_in")
    os.makedirs(in_dir)
    for day in (1, 2):
        day_rows = [r for r in rows if f"-0{day} " in r[1]]
        spark.createDataFrame(day_rows, SCHEMA).coalesce(1).write.parquet(
            f"{in_dir}/d{day}"
        )
    stream = parquet_stream(
        spark, in_dir + "/*", SCHEMA, max_files_per_trigger=1
    ).withColumn("ts", F.to_timestamp("ts_str"))
    counts_path = str(tmp_path / "hourly")
    q = (
        stream.writeStream.foreachBatch(make_seasonal_sink(counts_path))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)

    def key(r):
        return (r["event_type"], str(r["hour"]))

    got = {key(r): r for r in robust_view(spark, counts_path).collect()}
    assert got[("api", "2026-03-02 12:00:00")]["is_outlier"]
    assert sum(1 for r in got.values() if r["is_outlier"]) == 1

    batch = robust_outliers(
        spark.createDataFrame(rows, SCHEMA).withColumn("ts", F.to_timestamp("ts_str"))
    )
    want = {key(r): r for r in batch.collect()}
    assert set(got) == set(want)
    for k in want:
        for c in ("cnt", "median_cnt", "robust_z", "is_outlier"):
            assert got[k][c] == want[k][c], (k, c)


def test_streaming_priority_sample_bit_equal_to_batch(spark, sf_dir, tmp_path):
    """The merged streaming priority sample must be BIT-EQUAL to batch
    priority_sample over all ingested docs (local top-(k+1) candidates
    always contain the global ones), survive replay AND re-ingestion
    of the same docs (priorities are pure functions of the id), and
    keep composing after online compaction."""
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.operators.curation import (
        priority_sample,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_priority_sample,
        make_priority_sample_sink,
        priority_sample_view,
    )

    docs = load_table(spark, sf_dir, "documents")
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    b2 = docs.filter(F.col("doc_id") % 3 == 2)
    path = str(tmp_path / "psample")
    sink = make_priority_sample_sink(path, k=25)
    sink(b0, 0)
    sink(b1, 1)

    def view():
        return {
            r["doc_id"]: tuple(r)
            for r in priority_sample_view(spark, path, k=25).collect()
        }

    two = view()
    want_two = {
        r["doc_id"]: tuple(r)
        for r in priority_sample(
            docs.filter(F.col("doc_id") % 3 != 2), k=25
        ).collect()
    }
    assert two == want_two and len(two) == 25
    sink(b1, 1)  # replay: identical candidate rows dedup away
    assert view() == two
    sink(b0, 2)  # re-ingestion under a NEW id: still identical rows
    assert view() == two
    compact_priority_sample(spark, path, k=25, quiesced=False)
    sink(b1, 1)  # replay of a folded batch: watermark drops it
    assert view() == two
    sink(b2, 3)  # live append composes with the folded candidates
    want_all = {
        r["doc_id"]: tuple(r) for r in priority_sample(docs, k=25).collect()
    }
    assert view() == want_all


def test_streaming_bootstrap_ci_bit_equal_to_batch(spark, sf_dir, tmp_path):
    """The merged streaming bootstrap CI must be BIT-EQUAL to the
    batch Poisson bootstrap over all ingested docs (per-replicate
    BIGINT partials add exactly), survive replay, and keep composing
    after online compaction."""
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.operators.profile import (
        bootstrap_mean_ci,
    )
    from kafka_spark_streaming_pipeline_spark.operators.text import quality_score
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        bootstrap_ci_view,
        compact_bootstrap_ci,
        make_bootstrap_ci_sink,
    )

    docs = load_table(spark, sf_dir, "documents")
    vq = F.floor(quality_score(F.col("text")) * F.lit(1000000.0)).cast("long")

    def batch_ci(frame):
        rated = frame.select("source", "doc_id", vq.alias("value_q"))
        return {r["source"]: tuple(r) for r in bootstrap_mean_ci(rated).collect()}

    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    b2 = docs.filter(F.col("doc_id") % 3 == 2)
    path = str(tmp_path / "bootci")
    sink = make_bootstrap_ci_sink(path, vq)
    sink(b0, 0)
    sink(b1, 1)

    def view():
        return {
            r["source"]: tuple(r) for r in bootstrap_ci_view(spark, path).collect()
        }

    two = view()
    assert two == batch_ci(docs.filter(F.col("doc_id") % 3 != 2))
    sink(b1, 1)  # replay: per-commit dedup keeps the view unchanged
    assert view() == two
    compact_bootstrap_ci(spark, path, quiesced=False)
    sink(b1, 1)  # replay of a folded batch: watermark drops it
    assert view() == two
    sink(b2, 2)  # live append composes with the folded partials
    assert view() == batch_ci(docs)


def test_streaming_gini_bit_equal_to_batch(spark, sf_dir, tmp_path):
    """The merged streaming Gini must be BIT-EQUAL to batch
    gini_concentration over all ingested docs (histograms add
    cell-wise), survive replay, and keep composing after online
    compaction; state is bounded by distinct weights, not corpus
    size."""
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.operators.profile import (
        gini_concentration,
    )
    from kafka_spark_streaming_pipeline_spark.operators.text import token_count
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_gini,
        gini_view,
        make_gini_sink,
    )

    docs = load_table(spark, sf_dir, "documents")
    w = token_count(F.col("text"))

    def batch_gini(frame):
        rated = frame.select("source", w.alias("weight"))
        return {r["source"]: tuple(r) for r in gini_concentration(rated).collect()}

    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    b2 = docs.filter(F.col("doc_id") % 3 == 2)
    path = str(tmp_path / "gini")
    sink = make_gini_sink(path, w)
    sink(b0, 0)
    sink(b1, 1)

    def view():
        return {r["source"]: tuple(r) for r in gini_view(spark, path).collect()}

    two = view()
    assert two == batch_gini(docs.filter(F.col("doc_id") % 3 != 2))
    sink(b1, 1)  # replay: per-commit dedup keeps the view unchanged
    assert view() == two
    compact_gini(spark, path, quiesced=False)
    sink(b1, 1)  # replay of a folded batch: watermark drops it
    assert view() == two
    sink(b2, 2)  # live append composes with the folded histogram
    assert view() == batch_gini(docs)


def test_streaming_dispersion_view_matches_batch_and_flags_bursts(
    spark, tmp_path
):
    """The hourly store also serves burstiness monitoring: a type that
    fires all its events in one hour per day must be overdispersed
    (Fano >> 1), a perfectly steady type underdispersed (Fano = 0);
    the merged view must equal the batch operator on the union of all
    batches."""
    import os

    from kafka_spark_streaming_pipeline_spark.operators.timeseries import (
        dispersion_index,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        dispersion_view,
        make_seasonal_sink,
    )

    rows = []
    for day in (1, 2):
        for hod in range(24):
            rows.append(("steady", f"2026-03-0{day} {hod:02d}:00:00"))
            if hod == 12:
                for i in range(24):
                    rows.append(("bursty", f"2026-03-0{day} 12:{i:02d}:00"))

    SCHEMA = "event_type string, ts_str string"
    in_dir = str(tmp_path / "ev_in")
    os.makedirs(in_dir)
    for day in (1, 2):
        day_rows = [r for r in rows if f"-0{day} " in r[1]]
        spark.createDataFrame(day_rows, SCHEMA).coalesce(1).write.parquet(
            f"{in_dir}/d{day}"
        )
    stream = parquet_stream(
        spark, in_dir + "/*", SCHEMA, max_files_per_trigger=1
    ).withColumn("ts", F.to_timestamp("ts_str"))
    counts_path = str(tmp_path / "hourly")
    sink = make_seasonal_sink(counts_path)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)

    got = {r["event_type"]: r for r in dispersion_view(spark, counts_path).collect()}
    assert got["steady"]["fano"] == 0.0 and not got["steady"]["overdispersed"]
    assert got["bursty"]["fano"] > 5.0 and got["bursty"]["overdispersed"]

    batch = dispersion_index(
        spark.createDataFrame(rows, SCHEMA).withColumn("ts", F.to_timestamp("ts_str"))
    )
    want = {r["event_type"]: r for r in batch.collect()}
    assert set(got) == set(want)
    for k in want:
        for c in ("n_hours", "total_events", "mean_per_hour", "fano",
                  "overdispersed"):
            assert got[k][c] == want[k][c], (k, c)


def test_streaming_term_histogram_serves_lexical_and_zipf(spark, sf_dir, tmp_path):
    """ONE term-histogram store must serve BOTH lexical views: the
    merged lexical-diversity and Zipf reports are bit-equal to their
    batch operators over all ingested docs, survive replay, and keep
    composing after online compaction."""
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.operators.curation import (
        lexical_diversity,
        zipf_fit,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_term_histogram,
        lexical_view,
        make_term_histogram_sink,
        zipf_view,
    )

    docs = load_table(spark, sf_dir, "documents")
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    b2 = docs.filter(F.col("doc_id") % 3 == 2)
    path = str(tmp_path / "termhist")
    sink = make_term_histogram_sink(path)
    sink(b0, 0)
    sink(b1, 1)

    def views():
        return (
            {r["source"]: tuple(r) for r in lexical_view(spark, path).collect()},
            {r["source"]: tuple(r) for r in zipf_view(spark, path).collect()},
        )

    def batch(frame):
        return (
            {r["source"]: tuple(r) for r in lexical_diversity(frame).collect()},
            {r["source"]: tuple(r) for r in zipf_fit(frame).collect()},
        )

    two = views()
    assert two == batch(docs.filter(F.col("doc_id") % 3 != 2))
    sink(b1, 1)  # replay: per-commit dedup keeps both views unchanged
    assert views() == two
    compact_term_histogram(spark, path, quiesced=False)
    sink(b1, 1)  # replay of a folded batch: watermark drops it
    assert views() == two
    sink(b2, 2)  # live append composes with the folded histogram
    assert views() == batch(docs)


def test_streaming_trend_view_matches_batch(spark, tmp_path):
    """The hourly store's FIFTH detector: a type ramping +1 event per
    hour must read 'increasing' with Sen's slope 1; a flat type is
    'flat'; and the merged view equals the batch operator on the
    union of all batches."""
    import os

    from kafka_spark_streaming_pipeline_spark.operators.timeseries import (
        mann_kendall_trend,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        make_seasonal_sink,
        trend_view,
    )

    rows = []
    for h in range(12):
        for _ in range(h + 1):
            rows.append(("ramp", f"2026-03-01 {h:02d}:10:00"))
        rows.append(("flat", f"2026-03-01 {h:02d}:20:00"))

    SCHEMA = "event_type string, ts_str string"
    in_dir = str(tmp_path / "ev_in")
    os.makedirs(in_dir)
    for half, pred in (("a", lambda h: h < 6), ("b", lambda h: h >= 6)):
        part = [r for r in rows if pred(int(r[1][11:13]))]
        spark.createDataFrame(part, SCHEMA).coalesce(1).write.parquet(
            f"{in_dir}/{half}"
        )
    stream = parquet_stream(
        spark, in_dir + "/*", SCHEMA, max_files_per_trigger=1
    ).withColumn("ts", F.to_timestamp("ts_str"))
    counts_path = str(tmp_path / "hourly")
    sink = make_seasonal_sink(counts_path)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)

    got = {r["event_type"]: r for r in trend_view(spark, counts_path).collect()}
    assert got["ramp"]["trend"] == "increasing"
    assert got["ramp"]["sen_slope"] == 1.0
    assert got["flat"]["trend"] == "flat"

    batch = mann_kendall_trend(
        spark.createDataFrame(rows, SCHEMA).withColumn("ts", F.to_timestamp("ts_str"))
    )
    want = {r["event_type"]: tuple(r) for r in batch.collect()}
    assert {k: tuple(v) for k, v in got.items()} == want

    # the SIXTH consumer of the same store: merged ACF == batch ACF
    from kafka_spark_streaming_pipeline_spark.operators.timeseries import (
        autocorrelation,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import acf_view

    got_acf = {
        (r["event_type"], r["lag_hours"]): tuple(r)
        for r in acf_view(spark, counts_path, max_lag_hours=4).collect()
    }
    want_acf = {
        (r["event_type"], r["lag_hours"]): tuple(r)
        for r in autocorrelation(
            spark.createDataFrame(rows, SCHEMA).withColumn(
                "ts", F.to_timestamp("ts_str")
            ),
            max_lag_hours=4,
        ).collect()
    }
    assert got_acf == want_acf and len(got_acf) > 0

    # and the SEVENTH: merged Holt-Winters forecast == batch operator
    from kafka_spark_streaming_pipeline_spark.operators.timeseries import (
        holt_winters,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import forecast_view

    got_hw = {
        r["event_type"]: tuple(r)
        for r in forecast_view(spark, counts_path, season=4).collect()
    }
    want_hw = {
        r["event_type"]: tuple(r)
        for r in holt_winters(
            spark.createDataFrame(rows, SCHEMA).withColumn(
                "ts", F.to_timestamp("ts_str")
            ),
            season=4,
        ).collect()
    }
    assert got_hw == want_hw and got_hw["ramp"][2] is not None


def test_streaming_length_histogram_serves_ks_view(spark, sf_dir, tmp_path):
    """ONE length-histogram store serves BOTH drift monitors: the
    merged KS and PSI reports are bit-equal to their batch operators
    over all ingested docs, survive replay, and keep composing after
    online compaction."""
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.operators.curation import (
        ks_drift,
        length_psi,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_length_histogram,
        ks_view,
        make_length_histogram_sink,
        psi_view,
    )

    docs = load_table(spark, sf_dir, "documents")
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    b2 = docs.filter(F.col("doc_id") % 3 == 2)
    path = str(tmp_path / "lenhist")
    sink = make_length_histogram_sink(path)
    sink(b0, 0)
    sink(b1, 1)

    def view():
        return (
            {
                (r["source_a"], r["source_b"]): tuple(r)
                for r in ks_view(spark, path).collect()
            },
            {r["source"]: tuple(r) for r in psi_view(spark, path).collect()},
        )

    def batch(frame):
        return (
            {
                (r["source_a"], r["source_b"]): tuple(r)
                for r in ks_drift(frame).collect()
            },
            {r["source"]: tuple(r) for r in length_psi(frame).collect()},
        )

    two = view()
    assert two == batch(docs.filter(F.col("doc_id") % 3 != 2))
    sink(b1, 1)  # replay: per-commit dedup keeps the view unchanged
    assert view() == two
    compact_length_histogram(spark, path, quiesced=False)
    sink(b1, 1)  # replay of a folded batch: watermark drops it
    assert view() == two
    sink(b2, 2)  # live append composes with the folded histogram
    assert view() == batch(docs)


def test_streaming_privacy_view_matches_batch_audit(spark, sf_dir, tmp_path):
    """The streamed k-anonymity report must be bit-equal to the batch
    x160 audit over the union of ingested batches; replay- and
    compaction-safe."""
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.operators.profile import (
        k_anonymity_audit,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_privacy,
        make_privacy_sink,
        privacy_view,
    )

    docs = load_table(spark, sf_dir, "documents")
    proj = docs.select(
        "lang",
        (F.col("n_chars") / F.lit(128.0)).cast("long").alias("len_bucket"),
        "source",
        "doc_id",
    )
    path = str(tmp_path / "priv")
    sink = make_privacy_sink(path, ["lang", "len_bucket"], "source")
    b0 = proj.filter(F.col("doc_id") % 2 == 0).drop("doc_id")
    b1 = proj.filter(F.col("doc_id") % 2 == 1).drop("doc_id")
    sink(b0, 0)
    sink(b1, 1)

    def view():
        return {
            r["k"]: r
            for r in privacy_view(
                spark, path, ["lang", "len_bucket"], "source"
            ).collect()
        }

    got = view()
    want = {
        r["k"]: r
        for r in k_anonymity_audit(
            proj.drop("doc_id"), ["lang", "len_bucket"], "source"
        ).collect()
    }
    assert got == want and len(got) == 4

    sink(b1, 1)  # replay -> deduped partials
    assert view() == got
    compact_privacy(spark, path, ["lang", "len_bucket"], "source", quiesced=False)
    sink(b1, 1)  # replay of a folded batch
    assert view() == got


def test_streaming_classifier_model_matches_batch_training(spark, sf_dir, tmp_path):
    """The incrementally-trained NB model must be bit-equal to batch
    nb_train over the union of ingested batches, survive replay and
    online compaction, and plug into nb_score unchanged."""
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.operators.classify import (
        nb_score,
        nb_train,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        classifier_model_view,
        compact_classifier,
        make_classifier_sink,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "clf")
    sink = make_classifier_sink(path)
    sink(b0, 0)
    sink(b1, 1)

    def model_rows():
        return sorted(
            tuple(r) for r in classifier_model_view(spark, path).collect()
        )

    got = model_rows()
    want = sorted(tuple(r) for r in nb_train(docs).collect())
    assert got == want and len(got) > 0

    sink(b1, 1)  # replay -> deduped partials
    assert model_rows() == got
    compact_classifier(spark, path, quiesced=False)
    sink(b1, 1)  # replay of a folded batch
    assert model_rows() == got

    # the streamed model scores identically to the batch model
    preds_stream = {
        r["doc_id"]: r["predicted"]
        for r in nb_score(b1, classifier_model_view(spark, path)).collect()
    }
    preds_batch = {
        r["doc_id"]: r["predicted"] for r in nb_score(b1, nb_train(docs)).collect()
    }
    assert preds_stream == preds_batch


def test_streaming_release_audit_view_composes_both_stores(spark, sf_dir, tmp_path):
    """The continuous release-audit view serves x164's long form from
    the datasheet + privacy stores: datasheet rows match the
    datasheet view, k-anonymity rows match the privacy view, verdict
    semantics mirror the batch gate."""
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        datasheet_view,
        make_datasheet_sink,
        make_privacy_sink,
        privacy_view,
        release_audit_view,
    )

    docs = load_table(spark, sf_dir, "documents")
    ds_path, priv_path = str(tmp_path / "ds"), str(tmp_path / "priv")
    ds_sink = make_datasheet_sink(ds_path)
    priv_sink = make_privacy_sink(priv_path, ["lang", "len_bucket"], "source")
    proj = docs.select(
        "lang",
        (F.col("n_chars") / F.lit(128.0)).cast("long").alias("len_bucket"),
        "source",
        "doc_id",
    )
    for b in (0, 1):
        half = docs.filter(F.col("doc_id") % 2 == b)
        ds_sink(half, b)
        priv_sink(proj.filter(F.col("doc_id") % 2 == b).drop("doc_id"), b)

    rows = release_audit_view(
        spark, ds_path, priv_path, ["lang", "len_bucket"], "source"
    ).collect()
    fams = {r["family"] for r in rows}
    assert fams == {"datasheet", "k_anonymity"}
    got_n = {
        r["item"]: r["value"]
        for r in rows
        if r["family"] == "datasheet" and r["metric"] == "n_docs"
    }
    want_n = {
        r["source"]: float(r["n_docs"])
        for r in datasheet_view(spark, ds_path).collect()
    }
    assert got_n == want_n
    got_ka = {
        r["item"]: (r["value"], r["ok"])
        for r in rows
        if r["family"] == "k_anonymity"
    }
    want_ka = {
        f"k={r['k']}": (r["risky_row_frac"], r["risky_row_frac"] <= 0.05)
        for r in privacy_view(
            spark, priv_path, ["lang", "len_bucket"], "source"
        ).collect()
    }
    assert got_ka == want_ka
    assert all(r["ok"] is None for r in rows if r["family"] == "datasheet")


def test_streaming_fertility_view_matches_batch_operator(spark, sf_dir, tmp_path):
    """The streamed tokenizer-budget report must be bit-equal to the
    batch x168 operator over the union of ingested batches; replay-
    and compaction-safe."""
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.operators.profile import (
        tokenizer_fertility,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_fertility,
        fertility_view,
        make_fertility_sink,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "fert")
    sink = make_fertility_sink(path)
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    sink(b0, 0)
    sink(b1, 1)

    def view():
        return sorted(tuple(r) for r in fertility_view(spark, path).collect())

    got = view()
    want = sorted(tuple(r) for r in tokenizer_fertility(docs).collect())
    assert got == want and len(got) > 0

    sink(b1, 1)  # replay -> deduped partials
    assert view() == got
    compact_fertility(spark, path, quiesced=False)
    sink(b1, 1)  # replay of a folded batch
    assert view() == got


def test_streaming_pii_view_and_release_audit_family(spark, sf_dir, tmp_path):
    """The PII-residue store folds to exact per-source counts (zero on
    the synthetic corpus, ok=true), survives replay + compaction, and
    joins the continuous release-audit report as the 'pii' family."""
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_pii,
        make_datasheet_sink,
        make_pii_sink,
        make_privacy_sink,
        pii_view,
        release_audit_view,
    )

    docs = load_table(spark, sf_dir, "documents")
    ds_path = str(tmp_path / "ds")
    priv_path = str(tmp_path / "priv")
    pii_path = str(tmp_path / "pii")
    ds_sink = make_datasheet_sink(ds_path)
    priv_sink = make_privacy_sink(priv_path, ["lang", "len_bucket"], "source")
    pii_sink = make_pii_sink(pii_path)
    proj = docs.select(
        "lang",
        (F.col("n_chars") / F.lit(128.0)).cast("long").alias("len_bucket"),
        "source",
        "doc_id",
    )
    for b in (0, 1):
        half = docs.filter(F.col("doc_id") % 2 == b)
        ds_sink(half, b)
        priv_sink(proj.filter(F.col("doc_id") % 2 == b).drop("doc_id"), b)
        pii_sink(half, b)

    got = {r["source"]: r for r in pii_view(spark, pii_path).collect()}
    want = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert {s: r["n_docs"] for s, r in got.items()} == want
    assert all(r["n_pii_docs"] == 0 and r["ok"] for r in got.values())

    pii_sink(docs.filter(F.col("doc_id") % 2 == 1), 1)  # replay
    compact_pii(spark, pii_path, quiesced=False)
    got2 = {r["source"]: r for r in pii_view(spark, pii_path).collect()}
    assert {s: r["n_docs"] for s, r in got2.items()} == want

    report = release_audit_view(
        spark, ds_path, priv_path, ["lang", "len_bucket"], "source",
        pii_path=pii_path,
    )
    pii_rows = report.filter("family = 'pii'").collect()
    assert len(pii_rows) == len(want)
    assert all(r["value"] == 0.0 and r["ok"] for r in pii_rows)


def test_streaming_embedding_health_matches_batch_operator(spark, sf_dir, tmp_path):
    """The streamed per-dimension health report must be bit-equal to
    the batch x156 operator over the union of ingested vector batches;
    replay- and compaction-safe."""
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.operators.embed import (
        embedding_health,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_embedding_health,
        embedding_health_view,
        make_embedding_health_sink,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "emb_health")
    sink = make_embedding_health_sink(path)
    b0 = emb.filter(F.col("vec_id") % 2 == 0)
    b1 = emb.filter(F.col("vec_id") % 2 == 1)
    sink(b0, 0)
    sink(b1, 1)

    def view():
        return sorted(tuple(r) for r in embedding_health_view(spark, path).collect())

    got = view()
    want = sorted(tuple(r) for r in embedding_health(emb).collect())
    assert got == want and len(got) > 0

    sink(b1, 1)  # replay -> deduped partials
    assert view() == got
    compact_embedding_health(spark, path, quiesced=False)
    sink(b1, 1)  # replay of a folded batch
    assert view() == got


def test_streaming_conformal_view_matches_batch_operator(spark, sf_dir, tmp_path):
    """The streamed conformal thresholds must be bit-equal to the
    batch x162 operator (conformal_thresholds on the doc_id-parity
    split of the union corpus); replay- and compaction-safe."""
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.operators.curation import (
        conformal_thresholds,
        lexdiv_qscore,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_conformal,
        conformal_view,
        make_conformal_sink,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "conf")
    sink = make_conformal_sink(path)
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 != 0)
    sink(b0, 0)
    sink(b1, 1)

    def view():
        return sorted(
            tuple(r) for r in conformal_view(spark, path).collect()
        )

    got = view()
    scored = docs.select(
        "doc_id", lexdiv_qscore(F.col("text")).alias("qs")
    )
    want = sorted(
        tuple(r)
        for r in conformal_thresholds(
            scored.filter(F.col("doc_id") % 2 == 0),
            scored.filter(F.col("doc_id") % 2 == 1),
            "qs",
        ).collect()
    )
    assert got == want and len(got) == 3

    sink(b1, 1)  # replay -> deduped cells
    assert view() == got
    compact_conformal(spark, path, quiesced=False)
    sink(b1, 1)  # replay of a folded batch
    assert view() == got


def test_streaming_retrieval_eval_view_matches_batch_operator(
    spark, sf_dir, tmp_path
):
    """The streamed retrieval-quality report must be bit-equal to the
    batch x163 operator over the union of ingested batches; replay-
    and compaction-safe."""
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.operators.retrieval import (
        retrieval_eval,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_retrieval_eval,
        make_retrieval_eval_sink,
        retrieval_eval_view,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "reval")
    sink = make_retrieval_eval_sink(path)
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 != 0)
    sink(b0, 0)
    sink(b1, 1)

    def view():
        return sorted(
            tuple(r) for r in retrieval_eval_view(spark, path).collect()
        )

    got = view()
    want = sorted(tuple(r) for r in retrieval_eval(docs).collect())
    assert got == want and len(got) == 20

    sink(b1, 1)  # replay -> deduped postings
    assert view() == got
    compact_retrieval_eval(spark, path, quiesced=False)
    sink(b1, 1)  # replay of a folded batch
    assert view() == got


def test_streaming_unigram_model_view_matches_batch_training(
    spark, sf_dir, tmp_path
):
    """The tokenizer retrained from the maintained word-frequency
    store must be bit-equal to batch x172 training over the union of
    ingested batches (word counts are sum-mergeable); replay- and
    compaction-safe."""
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.operators.text import (
        unigram_lm_train,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_wordfreq,
        make_wordfreq_sink,
        unigram_model_view,
        wordfreq_view,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "wf")
    sink = make_wordfreq_sink(path)
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 != 0)
    sink(b0, 0)
    sink(b1, 1)

    def model():
        return sorted(
            tuple(r) for r in unigram_model_view(spark, path).collect()
        )

    got = model()
    want = sorted(tuple(r) for r in unigram_lm_train(docs).collect())
    assert got == want and len(got) > 0

    sink(b1, 1)  # replay -> deduped count partials
    assert model() == got
    n_words = wordfreq_view(spark, path).count()
    compact_wordfreq(spark, path, quiesced=False)
    assert wordfreq_view(spark, path).count() == n_words
    sink(b1, 1)  # replay of a folded batch
    assert model() == got


def test_streaming_semantic_decontam_view_matches_batch(spark, sf_dir, tmp_path):
    """The streamed contamination verdicts must be bit-equal to the
    batch x178 screen over the union of ingested embedding batches;
    replay- and compaction-safe."""
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.operators.similarity import (
        semantic_decontaminate,
    )
    from kafka_spark_streaming_pipeline_spark.plans.extensions import (
        NEARDUP_PLANES,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_semantic_decontam,
        make_semantic_decontam_sink,
        semantic_decontam_view,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    train = emb.filter(F.col("vec_id") % 20 != 0)
    ev = emb.filter(F.col("vec_id") % 20 == 0)
    path = str(tmp_path / "sdecon")
    sink = make_semantic_decontam_sink(path, ev, NEARDUP_PLANES)
    b0 = train.filter(F.col("vec_id") % 3 == 0)
    b1 = train.filter(F.col("vec_id") % 3 != 0)
    sink(b0, 0)
    sink(b1, 1)

    def view():
        return sorted(
            tuple(r) for r in semantic_decontam_view(spark, path).collect()
        )

    got = view()
    want = sorted(
        tuple(r)
        for r in semantic_decontaminate(train, ev, NEARDUP_PLANES).collect()
    )
    assert got == want and len(got) > 0

    sink(b1, 1)  # replay -> deduped verdicts
    assert view() == got
    compact_semantic_decontam(spark, path, quiesced=False)
    sink(b1, 1)  # replay of a folded batch
    assert view() == got


def test_streaming_t_closeness_view_matches_batch(spark, sf_dir, tmp_path):
    """The t-closeness report folded from the privacy count store must
    be bit-equal to the batch x181 audit over the union of ingested
    batches; replay- and compaction-safe (third consumer of the same
    store as privacy_view)."""
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.operators.profile import (
        t_closeness_audit,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_privacy,
        make_privacy_sink,
        t_closeness_view,
    )

    quasi = ["lang", "len_bucket"]
    docs = load_table(spark, sf_dir, "documents")
    proj = docs.select(
        "lang",
        (F.col("n_chars") / F.lit(128.0)).cast("long").alias("len_bucket"),
        "source",
        "doc_id",
    )
    path = str(tmp_path / "tclose")
    sink = make_privacy_sink(path, quasi, "source")
    b0 = proj.filter(F.col("doc_id") % 3 == 0).drop("doc_id")
    b1 = proj.filter(F.col("doc_id") % 3 != 0).drop("doc_id")
    sink(b0, 0)
    sink(b1, 1)

    def view():
        return sorted(
            tuple(r)
            for r in t_closeness_view(spark, path, quasi, "source").collect()
        )

    got = view()
    want = sorted(
        tuple(r)
        for r in t_closeness_audit(proj.drop("doc_id"), quasi, "source").collect()
    )
    assert got == want and len(got) == 3

    sink(b1, 1)  # replay -> deduped partials
    assert view() == got
    compact_privacy(spark, path, quasi, "source", quiesced=False)
    sink(b1, 1)  # replay of a folded batch
    assert view() == got


def test_streaming_split_stability_matches_batch_and_anchor_monotone(spark, tmp_path):
    """The x179 streaming twin: anchors maintained incrementally from
    the signature history must end bit-equal to the one-shot batch
    leakage-safe split over everything ingested; a later batch that
    absorbs an existing cluster into a smaller anchor emits
    anchor_changed=true update rows; per-doc anchors never increase
    across batches (monotonicity); replays dedupe; online compaction +
    a post-compaction batch stay exact."""
    from kafka_spark_streaming_pipeline_spark.operators.curation import (
        leakage_safe_split,
    )
    from kafka_spark_streaming_pipeline_spark.operators.dedup import (
        connected_components,
        incremental_neardup,
        minhash_signatures,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_split_assignments,
        make_signature_sink,
        make_split_anchor_sink,
        split_stability_view,
    )

    t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    t2 = "one two three four five six seven eight nine ten " * 3

    def docs(rows):
        return spark.createDataFrame(rows, ["doc_id", "text"])

    sig_path = str(tmp_path / "sigs")
    assign_path = str(tmp_path / "assign")
    sig_sink = make_signature_sink(sig_path)
    split_sink = make_split_anchor_sink(
        assign_path, sig_path, min_est_jaccard=0.3
    )

    def run(rows, batch_id):
        b = docs(rows)
        sig_sink(b, batch_id)   # contract: signatures land first
        split_sink(b, batch_id)

    batches = [
        [(10, t1), (11, t1 + " tail"), (12, "totally unrelated words here")],
        [(20, t2), (30, "another unrelated document entirely")],
        [(21, t2 + " extra")],          # joins 20's cluster
        [(5, t1 + " bridge words")],    # absorbs {10, 11} -> anchor 5
    ]
    anchors_over_time: dict[int, list[int]] = {}
    for i, rows in enumerate(batches):
        run(rows, i)
        for r in split_stability_view(spark, assign_path).collect():
            anchors_over_time.setdefault(r["doc_id"], []).append(r["anchor_id"])

    # monotonicity: a doc's anchor never increases as the graph grows
    for did, seq in anchors_over_time.items():
        assert all(a >= b for a, b in zip(seq, seq[1:])), (did, seq)

    view = {
        r["doc_id"]: (r["anchor_id"], r["split"], r["moved"], r["anchor_changed"])
        for r in split_stability_view(spark, assign_path).collect()
    }
    # the absorbed cluster carries the anchor_changed marker
    assert view[10][0] == 5 and view[10][3]
    assert view[11][0] == 5 and view[11][3]
    assert not view[12][3] and not view[30][3]

    # merged view == one-shot batch x179 over everything ingested
    all_rows = [r for b in batches for r in b]
    corpus = docs(all_rows)
    pairs = (
        incremental_neardup(
            corpus, minhash_signatures(corpus), min_est_jaccard=0.3
        )
        .filter("new_id != matched_id")
        .select("new_id", "matched_id")
    )
    comps = connected_components(pairs, "new_id", "matched_id")
    want = {
        r["doc_id"]: (r["anchor_id"], r["split"], r["moved"])
        for r in leakage_safe_split(comps, corpus).collect()
    }
    assert {k: v[:3] for k, v in view.items()} == want

    # replay of the last batch: per-commit dedup, unchanged
    run(batches[-1], 3)
    assert {
        k: v[:3]
        for k, v in {
            r["doc_id"]: (r["anchor_id"], r["split"], r["moved"])
            for r in split_stability_view(spark, assign_path).collect()
        }.items()
    } == want

    # online compaction, then a fresh batch still lands exactly
    compact_split_assignments(spark, assign_path, quiesced=False)
    assert {
        r["doc_id"]: (r["anchor_id"], r["split"], r["moved"])
        for r in split_stability_view(spark, assign_path).collect()
    } == want
    run([(40, "brand new post compaction text")], 4)
    out = split_stability_view(spark, assign_path)
    assert out.count() == len(want) + 1
    assert {r["doc_id"]: r["anchor_id"] for r in out.collect()}[40] == 40


def test_streaming_bitext_mining_matches_batch(spark, tmp_path):
    """The x183/x185 streaming twin: candidates accumulate exactly-once
    (later-endpoint contract), and the view re-derives margins through
    the batch miner's own core — so after any batch order the view is
    bit-equal to one-shot batch mining over everything ingested, for
    both the plain-margin and mutual-best forms; replays dedupe;
    online compaction of both logs + a post-compaction batch stay
    exact."""
    import hashlib

    from kafka_spark_streaming_pipeline_spark.operators.similarity import (
        bitext_margin_mine,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        bitext_stream_view,
        compact_bitext_candidates,
        compact_bitext_embeddings,
        make_bitext_candidate_sink,
    )

    def vec(seed, dim=8):
        return [
            float(int(hashlib.md5(f"{seed}|{j}".encode()).hexdigest()[:6], 16) % 19 - 9)
            for j in range(dim)
        ]

    rows = [(i, vec(i), "en") for i in range(12)]
    rows += [(1000 + i, vec(i) if i < 3 else vec(1000 + i), "de") for i in range(12)]
    rows += [(2000, vec(2000), "fr")]  # other-language row: ignored
    tables = [
        [[((3 * j + 5 * p + 11 * t + 1) % 13) - 6 for j in range(8)]
         for p in range(2)]
        for t in range(2)
    ]

    def df(chunk):
        return spark.createDataFrame(
            chunk, "vec_id long, embedding array<double>, lang string"
        )

    cand_path = str(tmp_path / "bt_cand")
    emb_path = str(tmp_path / "bt_emb")
    sink = make_bitext_candidate_sink(
        cand_path, emb_path, tables, "en", "de"
    )
    batches = [rows[:9], rows[9:17], rows[17:]]
    for i, chunk in enumerate(batches):
        sink(df(chunk), i)

    emb_all = df(rows).select("vec_id", "embedding")
    lang_all = df(rows).select("vec_id", "lang")
    kw = dict(knn_k=4, margin_threshold=1.0)

    def snap(view_df):
        return {
            (r.src_id, r.tgt_id): (r.cosine_sim, r.margin)
            for r in view_df.collect()
        }

    for mb in (False, True):
        want = snap(
            bitext_margin_mine(
                emb_all, lang_all, tables, "en", "de", mutual_best=mb, **kw
            )
        )
        got = snap(bitext_stream_view(spark, cand_path, mutual_best=mb, **kw))
        assert got == want, f"mutual_best={mb}"
    assert {(i, 1000 + i) for i in range(3)} <= set(
        snap(bitext_stream_view(spark, cand_path, **kw))
    )

    # replay the last batch -> per-commit dedup, unchanged
    sink(df(batches[-1]), 2)
    assert snap(bitext_stream_view(spark, cand_path, **kw)) == snap(
        bitext_margin_mine(emb_all, lang_all, tables, "en", "de", **kw)
    )

    # online compaction of BOTH logs, then a fresh batch still lands
    compact_bitext_candidates(spark, cand_path, quiesced=False)
    compact_bitext_embeddings(spark, emb_path, quiesced=False)
    extra = [(50, vec(0), "en")]  # a third copy of the planted vector
    sink(df(extra), 3)
    want = snap(
        bitext_margin_mine(
            df(rows + extra).select("vec_id", "embedding"),
            df(rows + extra).select("vec_id", "lang"),
            tables, "en", "de", **kw,
        )
    )
    assert snap(bitext_stream_view(spark, cand_path, **kw)) == want
    assert any(s == 50 for s, _ in want)  # the new copy actually mines


def test_streaming_trigram_counts_match_batch_model(spark, tmp_path):
    """Continuous trigram-LM retraining (the x184 family's wordfreq
    analogue): tier count partials appended per batch are
    sum-mergeable, so scoring the union of ingested docs against the
    folded store is bit-equal to batch x184 over that union; replays
    dedupe; online compaction of all three tier logs + a
    post-compaction batch stay exact."""
    from kafka_spark_streaming_pipeline_spark.cache import unpersist_tracked
    from kafka_spark_streaming_pipeline_spark.operators.curation import (
        trigram_cross_entropy,
    )
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        compact_trigram_counts,
        make_trigram_counts_sink,
        trigram_stream_score,
    )

    rows = [
        (0, "alpha beta gamma delta alpha beta gamma"),
        (1, "alpha beta gamma alpha beta gamma delta"),
        (2, "delta gamma beta alpha delta gamma beta"),
        (3, "epsilon zeta eta theta epsilon zeta"),
        (4, "theta eta zeta epsilon theta eta"),
    ]

    def df(chunk):
        return spark.createDataFrame(chunk, "doc_id long, text string")

    path = str(tmp_path / "tri_counts")
    sink = make_trigram_counts_sink(path)
    sink(df(rows[:2]), 0)
    sink(df(rows[2:4]), 1)
    sink(df(rows[4:]), 2)
    unpersist_tracked()

    def snap(frame):
        return {
            (r["doc_id"], r["n_trigrams"], r["cross_entropy"])
            for r in frame.collect()
        }

    union = df(rows)
    want = snap(trigram_cross_entropy(union))
    unpersist_tracked()
    assert snap(trigram_stream_score(spark, path, union)) == want

    # replay -> per-commit dedup keeps counts exact
    sink(df(rows[2:4]), 1)
    unpersist_tracked()
    assert snap(trigram_stream_score(spark, path, union)) == want

    # online compaction of all three tier logs, then a fresh batch
    compact_trigram_counts(spark, path, quiesced=False)
    assert snap(trigram_stream_score(spark, path, union)) == want
    extra = [(9, "alpha beta gamma zz alpha beta gamma")]
    sink(df(extra), 3)
    unpersist_tracked()
    want2 = snap(trigram_cross_entropy(df(rows + extra)))
    unpersist_tracked()
    assert snap(trigram_stream_score(spark, path, df(rows + extra))) == want2

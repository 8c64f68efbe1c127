#!/usr/bin/env python3
"""End-to-end streaming demo: the reference pipeline's live path on
this engine, runnable without Kafka.

Generates the reference producer's fault patterns (sequence gaps,
checksum corruption, duplicate replays — producer/producer.py:269-281)
as parquet micro-batches, then runs the full topology:

  file stream -> defaults/validate/derive (JVM columns)
              -> observe() metrics
              -> keyed gap state + DVR manifest state
              -> merge-on-read metadata log sink + chunk object sink

and prints the resulting health rows, a rendered HLS manifest, the
metrics the listener scraped, and the sink table row counts.

    python3 tools/run_pipeline_demo.py [workdir]
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_spark_streaming_pipeline_spark.schemas import LIVE_CHUNK_SCHEMA  # noqa: E402
from kafka_spark_streaming_pipeline_spark.session import get_spark  # noqa: E402
from kafka_spark_streaming_pipeline_spark.sources.files import parquet_stream  # noqa: E402
from kafka_spark_streaming_pipeline_spark.streaming.metrics import (  # noqa: E402
    PipelineMetricsListener,
    with_pipeline_metrics,
)
from kafka_spark_streaming_pipeline_spark.streaming.pipeline import (  # noqa: E402
    live_transform,
    start_foreach_batch,
)
from kafka_spark_streaming_pipeline_spark.streaming.sinks import (  # noqa: E402
    latest_view,
    make_live_log_sink,
)
from kafka_spark_streaming_pipeline_spark.streaming.state import (  # noqa: E402
    dvr_manifests,
    track_gaps,
)


def _event(stream_id: str, idx: int, seq: int, corrupt: bool = False) -> dict:
    size = 1000 + idx
    checksum = hashlib.md5(f"{stream_id}-{idx}-{size}".encode()).hexdigest()
    return {
        "stream_id": stream_id,
        "chunk_index": idx,
        "sequence_number": seq,
        "timestamp": f"2024-01-01T00:{idx // 60:02d}:{idx % 60:02d}+00:00",
        "size_bytes": size,
        "stream_type": "live",
        "status": "received",
        "checksum": "0" * 32 if corrupt else checksum,
        "duration_ms": 2000,
        "keyframe_aligned": True,
        "audio_track_id": f"audio-{stream_id}",
        "video_track_id": f"video-{stream_id}",
        "match_home": "Home",
        "match_away": "Away",
        "competition": "League",
    }


def generate_batches() -> list[list[dict]]:
    """Two streams; stream-1 has a 2-chunk gap and one corrupt checksum;
    batch 3 replays two chunks (duplicates) like a checkpoint recovery."""
    b1 = [_event("match-1", i, i) for i in range(6)]
    b2 = [_event("match-1", i, i + 2) for i in range(6, 12)]  # gap: 5 -> 8
    b2[0] = _event("match-1", 6, 8, corrupt=True)
    b2 += [_event("match-2", i, i) for i in range(4)]
    b3 = [_event("match-1", i, i + 2) for i in range(10, 14)]  # replays 10,11
    return [b1, b2, b3]


def main() -> None:
    work = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="pipeline_demo_")
    spark = get_spark(app_name="pipeline_demo")
    spark.sparkContext.setLogLevel("ERROR")

    in_dir = os.path.join(work, "in")
    os.makedirs(in_dir, exist_ok=True)
    for i, rows in enumerate(generate_batches()):
        staging = os.path.join(work, f"stage_{i}")
        spark.createDataFrame(rows, LIVE_CHUNK_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        [part] = glob.glob(os.path.join(staging, "part-*.parquet"))
        shutil.move(part, os.path.join(in_dir, f"batch_{i}.parquet"))

    listener = PipelineMetricsListener()
    spark.streams.addListener(listener)

    transformed = live_transform(
        parquet_stream(spark, in_dir, LIVE_CHUNK_SCHEMA, max_files_per_trigger=1)
    )
    meta_path = os.path.join(work, "live_metadata")
    chunks_path = os.path.join(work, "chunk_objects")
    queries = [
        start_foreach_batch(
            with_pipeline_metrics(transformed),
            make_live_log_sink(meta_path, chunks_path),
            checkpoint_dir=os.path.join(work, "ckpt_sink"),
            available_now=True,
            query_name="live_sink",
        ),
        track_gaps(transformed)
        .writeStream.format("memory")
        .queryName("gaps")
        .outputMode("update")
        .option("checkpointLocation", os.path.join(work, "ckpt_gaps"))
        .trigger(availableNow=True)
        .start(),
        dvr_manifests(transformed)
        .writeStream.format("memory")
        .queryName("dvr")
        .outputMode("update")
        .option("checkpointLocation", os.path.join(work, "ckpt_dvr"))
        .trigger(availableNow=True)
        .start(),
    ]
    for q in queries:
        q.awaitTermination(120)

    print("\n=== per-stream health (final state) ===")
    spark.sql(
        "SELECT * FROM gaps WHERE (stream_id, last_seq) IN "
        "(SELECT stream_id, max(last_seq) FROM gaps GROUP BY stream_id) ORDER BY stream_id"
    ).show(truncate=False)

    print("=== rolling DVR manifest (match-1, latest) ===")
    row = spark.sql(
        "SELECT manifest FROM dvr WHERE stream_id = 'match-1' "
        "ORDER BY media_sequence DESC LIMIT 1"
    ).first()
    print(row.manifest)

    print("\n=== sinks ===")
    meta = latest_view(spark, meta_path, ["stream_id", "chunk_index"], "sequence_number")
    print(f"live_metadata rows (after dedup upserts): {meta.count()}")
    print(f"chunk objects written: {spark.read.parquet(chunks_path).count()}")

    import time

    time.sleep(2)  # listener callbacks are async
    print("\n=== scraped metrics ===")
    print(f"counters: {dict(listener.counters)}")
    print(f"gauges:   { {k: round(v, 1) for k, v in listener.gauges.items()} }")

    run_ingest_demo(spark, work)
    print(f"\nwork dir: {work}")


def run_ingest_demo(spark, work: str) -> None:
    """Composed document-ingest leg (VERDICT r5 #8): a file STREAM of
    document batches fanned through the quality gate, the streaming
    datasheet, and heavy-hitter term tracking in one foreachBatch —
    then the three merged views, so the demo shows the maintained
    state, not just that the sinks ran."""
    from pyspark.sql import functions as F

    from kafka_spark_streaming_pipeline_spark.operators.curation import save_bigram_lm
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        datasheet_view,
        gate_view,
        heavy_hitters_view,
        make_datasheet_sink,
        make_heavy_hitters_sink,
        make_quality_gate_sink,
    )

    doc_schema = "doc_id long, source string, text string"
    corpus = [
        (i, f"src-{i % 3}",
         f"story {i} tells how the quick brown fox number {i} jumps over "
         f"a lazy dog and then describes the fields nearby in detail "
         f"with many common words that a language model scores well")
        for i in range(40)
    ]
    corpus.append((40, "src-0", corpus[0][2]))  # exact duplicate -> gate rejects
    corpus.append((41, "src-1", "zz qq xx"))    # gibberish: worst LM score, rarest fp
    batches = [corpus[:21], corpus[21:]]

    in_dir = os.path.join(work, "docs_in")
    os.makedirs(in_dir, exist_ok=True)
    for i, rows in enumerate(batches):
        staging = os.path.join(work, f"doc_stage_{i}")
        spark.createDataFrame(rows, doc_schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        [part] = glob.glob(os.path.join(staging, "part-*.parquet"))
        shutil.move(part, os.path.join(in_dir, f"batch_{i}.parquet"))

    save_bigram_lm(spark.createDataFrame(corpus, doc_schema), f"{work}/lm")
    gate = make_quality_gate_sink(
        f"{work}/acc", f"{work}/rej", f"{work}/lm", f"{work}/fp",
        max_cross_entropy=100.0,
    )
    datasheet = make_datasheet_sink(f"{work}/ds")
    hh = make_heavy_hitters_sink(f"{work}/hh", candidate_floor=10)

    def ingest(batch_df, batch_id):
        gate(batch_df.select("doc_id", "text"), batch_id)
        datasheet(batch_df, batch_id)
        hh(
            batch_df.select(
                F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
            ),
            batch_id,
        )

    q = start_foreach_batch(
        parquet_stream(spark, in_dir, doc_schema, max_files_per_trigger=1),
        ingest,
        checkpoint_dir=os.path.join(work, "ckpt_ingest"),
        available_now=True,
        query_name="doc_ingest",
    )
    q.awaitTermination(120)

    print("\n=== composed document ingest (gate + datasheet + heavy hitters) ===")
    acc = gate_view(spark, f"{work}/acc").count()
    rej = gate_view(spark, f"{work}/rej")
    reasons = {
        r["reject_reason"]: r["n"]
        for r in rej.groupBy("reject_reason").agg(F.count("*").alias("n")).collect()
    }
    print(f"gate: accepted {acc}, rejected {rej.count()} ({reasons})")
    print("datasheet view (maintained per-source stats):")
    datasheet_view(spark, f"{work}/ds").orderBy("source").show(truncate=False)
    print("heavy-hitter terms (CMS-ranked top 5):")
    heavy_hitters_view(spark, f"{work}/hh", k=5).show(truncate=False)


if __name__ == "__main__":
    main()

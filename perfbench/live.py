"""The live-path workload, ``live_tail``.

It feeds Kafka-shaped JSON values through the engine's live topology:
``decode_json_values`` -> ``live_transform`` -> three streaming queries
(the merge-on-read log sink via ``start_foreach_batch``, ``track_gaps``
and ``dvr_manifests``), offering a fixed open-loop rate in small files.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from datetime import datetime, timezone

from gen import DVR_WINDOW, LiveEvents, value_line, write_lines_atomic
from harness import (
    SparkCounter,
    Tracer,
    add_progress_spans,
    median,
    progress_layer_metrics,
    quantile,
)

KEYS = ["stream_id", "chunk_index"]
QUERIES = ("sink", "gaps", "dvr")


class LiveTopology:
    """The three live queries over one watched directory."""

    def __init__(self, spark, work: str, tracer: Tracer):
        self.spark = spark
        self.tracer = tracer
        self.in_dir = os.path.join(work, "in")
        self.staging = os.path.join(work, "staging")
        self.meta_path = os.path.join(work, "meta")
        self.chunks_path = os.path.join(work, "chunks")
        os.makedirs(self.in_dir, exist_ok=True)
        os.makedirs(self.staging, exist_ok=True)
        self.ckpt = {q: os.path.join(work, f"ckpt_{q}") for q in QUERIES}
        self.sink_calls: list[tuple[int, float, float]] = []  # (batch, start, end)
        self.queries = {}

    def start(self) -> None:
        """Build the live pipeline over the watched directory and start
        the three queries."""
        from kafka_spark_streaming_pipeline_spark.schemas import LIVE_CHUNK_SCHEMA
        from kafka_spark_streaming_pipeline_spark.sources.kafka import decode_json_values
        from kafka_spark_streaming_pipeline_spark.streaming.pipeline import (
            live_transform,
            start_foreach_batch,
        )
        from kafka_spark_streaming_pipeline_spark.streaming.sinks import make_live_log_sink
        from kafka_spark_streaming_pipeline_spark.streaming.state import (
            dvr_manifests,
            track_gaps,
        )

        spark, tracer = self.spark, self.tracer
        raw = spark.readStream.text(self.in_dir)
        with tracer.span("sources.decode_json_values"):
            decoded = decode_json_values(raw, LIVE_CHUNK_SCHEMA)
        with tracer.span("pipeline.live_transform"):
            live = live_transform(decoded)
        with tracer.span("sinks.make_live_log_sink"):
            sink = make_live_log_sink(self.meta_path, self.chunks_path)
        if tracer.enabled:
            sink = self._timed(sink)

        def memory_query(df, name):
            return (
                df.writeStream.format("memory")
                .queryName(name)
                .outputMode("update")
                .option("checkpointLocation", self.ckpt[name])
                .start()
            )

        with tracer.span("pipeline.start_queries"):
            self.queries = {
                "sink": start_foreach_batch(
                    live,
                    sink,
                    checkpoint_dir=self.ckpt["sink"],
                    query_name="sink",
                ),
            }
            with tracer.span("state.track_gaps"):
                gaps = track_gaps(live.select("stream_id", "sequence_number"))
            self.queries["gaps"] = memory_query(gaps, "gaps")
            with tracer.span("state.dvr_manifests"):
                dvr = dvr_manifests(live.select("stream_id", "chunk_index", "duration_ms"))
            self.queries["dvr"] = memory_query(dvr, "dvr")

    def _timed(self, sink):
        calls = self.sink_calls

        def timed(batch_df, batch_id):
            t0 = time.time()
            try:
                sink(batch_df, batch_id)
            finally:
                calls.append((batch_id, t0, time.time()))

        return timed

    # ------------------------------------------------------------ state

    def dead_queries(self) -> list[str]:
        out = []
        for name, q in self.queries.items():
            exc = q.exception()
            if exc is not None:
                out.append(f"{name}: {str(exc).splitlines()[0]}")
        return out

    def file_batches(self, q: str) -> dict[str, int]:
        """file name -> micro-batch id, from the file source's log."""
        d = os.path.join(self.ckpt[q], "sources", "0")
        out: dict[str, int] = {}
        if not os.path.isdir(d):
            return out
        for name in os.listdir(d):
            if name.startswith("."):
                continue
            try:
                with open(os.path.join(d, name)) as fh:
                    lines = fh.read().splitlines()
            except FileNotFoundError:  # compacted away between list and open
                continue
            for line in lines[1:]:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
        return out

    def commit_times(self, q: str) -> dict[int, float]:
        """micro-batch id -> wall time its commit-log entry was written."""
        d = os.path.join(self.ckpt[q], "commits")
        out: dict[int, float] = {}
        if not os.path.isdir(d):
            return out
        for name in os.listdir(d):
            if name.isdigit():
                out[int(name)] = os.stat(os.path.join(d, name)).st_mtime
        return out

    def commit_time_of(self, q: str, name: str) -> float | None:
        """When query ``q`` committed the batch holding file ``name``."""
        b = self.file_batches(q).get(name)
        return None if b is None else self.commit_times(q).get(b)

    def file_commit_times(self) -> dict[str, float]:
        """file name -> when the LAST of the three queries committed it;
        files some query has not committed yet are absent."""
        per_q = []
        for q in QUERIES:
            fb, ct = self.file_batches(q), self.commit_times(q)
            per_q.append({f: ct[b] for f, b in fb.items() if b in ct})
        common = set(per_q[0]).intersection(*per_q[1:])
        return {f: max(p[f] for p in per_q) for f in common}

    def wait_for(self, cond, timeout: float) -> None:
        """Poll until ``cond()`` holds, a query dies or ``timeout`` passes."""
        deadline = time.time() + timeout
        while not cond() and time.time() < deadline and not self.dead_queries():
            time.sleep(0.05)

    def wait_committed(self, names: set[str], timeout: float) -> dict[str, float]:
        self.wait_for(lambda: names <= self.file_commit_times().keys(), timeout)
        return self.file_commit_times()

    def stop(self) -> None:
        for q in self.queries.values():
            q.stop()

    def progress_metrics(self, since: float) -> dict[str, float]:
        """Layer metrics of the triggers that started after ``since``; in
        a traced run, also one span per micro-batch of the whole run."""
        by_query = {name: q.recentProgress for name, q in self.queries.items()}
        if self.tracer.enabled:
            for name, ps in by_query.items():
                add_progress_spans(self.tracer, name, ps)
        return progress_layer_metrics(by_query, since)

    # ------------------------------------------------------- correctness

    def check(self, gen: LiveEvents) -> list[str]:
        """Compare the engine's outputs with the generator's truth."""
        from pyspark.sql import functions as F

        from kafka_spark_streaming_pipeline_spark.streaming.sinks import latest_view

        errors = []
        spark = self.spark
        view = latest_view(spark, self.meta_path, KEYS, "sequence_number")
        row = view.agg(
            F.count("*").alias("n"),
            F.sum(F.when(~F.col("checksum_ok"), 1).otherwise(0)).alias("bad"),
        ).first()
        if row["n"] != gen.offered_keys():
            errors.append(f"latest_view rows {row['n']} != distinct keys {gen.offered_keys()}")
        if (row["bad"] or 0) != len(gen.corrupt_keys):
            errors.append(f"checksum failures {row['bad']} != injected {len(gen.corrupt_keys)}")

        gaps = {
            r["stream_id"]: (r["last_seq"], r["gap_events"], r["missing_total"])
            for r in spark.sql(
                "SELECT stream_id, max(last_seq) AS last_seq, max(gap_events) AS gap_events,"
                " max(missing_total) AS missing_total FROM gaps GROUP BY stream_id"
            ).collect()
        }
        want = gen.expected_gaps()
        if gaps != want:
            bad = [s for s in want if gaps.get(s) != want[s]]
            errors.append(f"gap state differs on {len(bad) or len(gaps)} streams, e.g. {bad[:1]}")

        dvr = {
            r["stream_id"]: (r["media_sequence"], r["manifest"])
            for r in spark.sql(
                "SELECT stream_id, max_by(struct(media_sequence, manifest), "
                "(media_sequence, n_segments)) AS m FROM dvr GROUP BY stream_id"
            )
            .select("stream_id", "m.*")
            .collect()
        }
        wrong = 0
        for s, (media_seq, chunks) in gen.expected_dvr().items():
            got = dvr.get(s)
            listed = (
                [int(x.rsplit("/", 1)[1][:-3]) for x in got[1].splitlines() if x.endswith(".ts")]
                if got
                else None
            )
            if got is None or got[0] != media_seq or listed != chunks[-DVR_WINDOW:]:
                wrong += 1
        if wrong or len(dvr) != len(gen.expected_dvr()):
            errors.append(f"DVR manifests wrong for {wrong} of {len(gen.expected_dvr())} streams")
        return errors

    def read_back(self, expect_keys: int) -> tuple[dict[str, float], list[str]]:
        """Time ``latest_view``, ``compact_log`` and ``latest_view`` again
        over the log the run wrote, and measure its read amplification."""
        from kafka_spark_streaming_pipeline_spark.streaming.sinks import compact_log, latest_view
        from kafka_spark_streaming_pipeline_spark.streaming.txn import AtomicParquetTable

        spark, out, errors = self.spark, {}, []
        log_rows = AtomicParquetTable(self.meta_path).read(spark).count()
        t = time.perf_counter()
        with self.tracer.span("sinks.latest_view"):
            n_view = latest_view(spark, self.meta_path, KEYS, "sequence_number").count()
        out["sinks.view_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with self.tracer.span("sinks.compact_log"):
            compact_log(spark, self.meta_path, KEYS, "sequence_number")
        out["sinks.compact_s"] = time.perf_counter() - t
        with self.tracer.span("sinks.latest_view"):
            n_after = latest_view(spark, self.meta_path, KEYS, "sequence_number").count()
        out["sinks.log_rows_per_key"] = log_rows / max(1, n_view)
        if not n_view == n_after == expect_keys:
            errors.append(f"view rows {n_view}, after compaction {n_after}, keys {expect_keys}")
        return out, errors


def table_files(*roots: str) -> dict[str, float]:
    """Commits, data files and bytes under the sink's output directories."""
    commits = files = size = 0
    for root in roots:
        for d, _, names in os.walk(root):
            for n in names:
                if d.endswith("_commits") and n.endswith(".json") and n[:-5].isdigit():
                    commits += 1
                elif n.endswith(".parquet"):
                    files += 1
                    size += os.stat(os.path.join(d, n)).st_size
    return {"txn.commits": commits, "txn.files_written": files, "txn.bytes_written": size}


def _whole_cycles(sink_batches: dict[str, int], timed: list[str]) -> list[str]:
    """The window files the sink took in whole micro-batch cycles.

    The sink, the slowest query, takes every file written since its
    last batch began.  The generator stops at the window's last file, so
    the sink batch holding that file is cut short; latency is taken over
    the window files of the batches before it."""
    last = sink_batches.get(timed[-1])
    return [f for f in timed if last is None or sink_batches.get(f, last) < last]


def _backlog_max(loop: "OpenLoop", done: dict[str, float], timed: set[str]) -> int:
    """Most events visible to the engine but not yet committed by all
    three queries, sampled as each window file is written.  ``done``
    holds the commit time of every file, warm-up files included."""
    worst = 0
    for f in timed & loop.written.keys():
        at = loop.written[f]
        worst = max(
            worst,
            sum(len(ts) for g, ts in loop.due.items() if loop.written[g] <= at < done.get(g, 1e18)),
        )
    return worst


def _iso(t: float) -> str:
    return datetime.fromtimestamp(t, tz=timezone.utc).isoformat(timespec="milliseconds")


# ---------------------------------------------------------------- live_tail

RATE = 500  # events/s
TICK = 0.5  # s between files
STREAMS = 2000
COLD_TICKS = 2  # files the cold first micro-batches read
LAG_LIMIT = 0.25  # s the generator may run behind its schedule


class OpenLoop(threading.Thread):
    """The load generator: one JSON-lines file every TICK seconds, each
    holding the events created (one every 1/RATE s) during that tick.
    It never waits for the engine; ``stop_after`` ends it after a tick."""

    def __init__(self, gen: LiveEvents, topo: LiveTopology):
        super().__init__(name="open-loop", daemon=True)
        self.gen, self.topo = gen, topo
        self.per_tick = int(RATE * TICK)
        self.due: dict[str, list[float]] = {}  # file -> event due times
        self.lateness: dict[int, float] = {}  # tick -> s behind schedule
        self.written: dict[str, float] = {}  # file -> when it became visible
        self.ticks_written = 0
        self.first_tick = 0  # the first tick of the open loop, due at t0
        self.t0 = 0.0
        self.stop_after: int | None = None
        self.error: BaseException | None = None

    @staticmethod
    def name_of(k: int) -> str:
        return f"f{k:06d}.json"

    def first_tick_after(self, t: float) -> int:
        """The first open-loop tick whose events are all due at or after ``t``."""
        return self.first_tick + max(0, math.ceil((t - self.t0) / TICK))

    def emit(self, k: int, times: list[float], at: float) -> None:
        """Write tick ``k``'s file, whose events were due at ``times``."""
        events = self.gen.next_events(self.per_tick)
        lines = [value_line(v, _iso(t)) for (_, v), t in zip(events, times)]
        name = self.name_of(k)
        write_lines_atomic(lines, self.topo.staging, self.topo.in_dir, name)
        now = time.time()
        self.due[name] = times
        self.written[name] = now
        self.lateness[k] = max(0.0, now - at)
        self.ticks_written = k + 1

    def start(self) -> None:
        self.first_tick = self.ticks_written
        self.t0 = time.time()
        super().start()

    def run(self) -> None:
        try:
            first, t0 = self.first_tick, self.t0
            k = first
            while self.stop_after is None or k <= self.stop_after:
                times = [t0 + (k - first) * TICK + i / RATE for i in range(self.per_tick)]
                at = t0 + (k - first + 1) * TICK
                wait = at - time.time()
                if wait > 0:
                    time.sleep(wait)
                self.emit(k, times, at)
                k += 1
        except BaseException as e:  # noqa: BLE001 - reported by the caller
            self.error = e


def live_tail(spark, work: str, seed: int, seconds: float, tracer: Tracer, setup_s: float) -> dict:
    gen = LiveEvents(seed, STREAMS)
    n_ticks = int(round(seconds / TICK))

    # Starting the queries and warming them up is set-up.  The cold first
    # micro-batch of each query (codegen, the JIT, the Python workers) reads
    # COLD_TICKS files written before the queries start, with the generator
    # paused, so no backlog builds behind it.  Then the open loop starts,
    # and the window starts once the sink has committed the batch holding
    # the first open-loop file (a short one, as the sink was idle when that
    # file came), so window events meet the engine in its steady cycle.
    t = time.perf_counter()
    topo = LiveTopology(spark, work, tracer)
    loop = OpenLoop(gen, topo)
    with tracer.span("bench.warmup"):
        for k in range(COLD_TICKS):
            now = time.time()
            loop.emit(k, [now] * loop.per_tick, now)
        topo.start()
        topo.wait_for(lambda: all(topo.commit_times(q) for q in QUERIES), timeout=150)
        loop.start()
        topo.wait_for(lambda: topo.commit_time_of("sink", loop.name_of(COLD_TICKS)), timeout=60)
    window_start = time.time()
    setup_s += time.perf_counter() - t
    first = loop.first_tick_after(window_start)
    timed = [loop.name_of(k) for k in range(first, first + n_ticks)]
    counter = SparkCounter(spark) if tracer.enabled else None
    if counter:
        counter.start()
        files_before = table_files(topo.meta_path, topo.chunks_path)

    loop.stop_after = first + n_ticks - 1
    with tracer.span("bench.window"):
        loop.join(timeout=seconds + 30)
    with tracer.span("bench.drain"):
        done = topo.wait_committed(set(loop.written), timeout=90)
    dead = topo.dead_queries()
    counts = {}
    if counter:
        counts = counter.counts()
        after = table_files(topo.meta_path, topo.chunks_path)
        counts.update({k: after[k] - files_before[k] for k in after})
    sink_batches = topo.file_batches("sink")
    topo.stop()

    committed = sum(len(loop.due[f]) for f in timed if f in done)
    measured = _whole_cycles(sink_batches, timed)
    lat = sorted((done[f] - t) * 1000.0 for f in measured if f in done for t in loop.due[f])
    attempted = loop.per_tick * n_ticks
    failed = attempted - committed
    errors = [f"query died: {d}" for d in dead]
    if loop.error is not None or loop.is_alive():
        errors.append(f"generator failed: {loop.error!r}")
    if failed:
        errors.append(f"{failed} events never committed by all three queries")
    if len(done) < len(loop.written):
        errors.append(f"{len(loop.written) - len(done)} files never committed by all three queries")
    lag = max((loop.lateness[k] for k in range(first, first + n_ticks) if k in loop.lateness), default=0.0)
    if lag > LAG_LIMIT:
        errors.append(f"generator ran {lag:.3f}s behind schedule: run invalid")
    layer = {}
    if not dead:
        with tracer.span("sinks.check"):
            errors += topo.check(gen)
        if tracer.enabled:
            read_back, read_errors = topo.read_back(gen.offered_keys())
            layer.update(read_back)
            errors += read_errors

    span = max(done[f] for f in timed if f in done) - loop.due[timed[0]][0] if committed else 0.0
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": median(lat) if lat else float("nan"),
        "latency_p90_ms": quantile(lat, 0.9) if lat else float("nan"),
        "ops_per_s": committed / span if span else float("nan"),
    }
    layer.update(topo.progress_metrics(window_start))
    layer.update(counts)
    layer["generator.max_lateness_ms"] = lag * 1000.0
    layer["sources.backlog_events_max"] = _backlog_max(loop, done, set(timed))
    if tracer.enabled:
        layer["sinks.live.call_ms"] = median(_sink_call_ms(topo))
        layer.update(_stage_latencies(topo, loop.due, timed))
    return {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "e2e": e2e,
        "layer": layer,
    }


def _sink_call_ms(topo: LiveTopology) -> list[float]:
    """Durations of the timed sink calls, each recorded as a span."""
    for b, s, e in topo.sink_calls:
        topo.tracer.add("sinks.live.call", s, e, batch=b)
    return [(e - s) * 1000.0 for _, s, e in topo.sink_calls] or [0.0]


def _stage_latencies(topo: LiveTopology, due, timed) -> dict[str, float]:
    """Per-query event latency medians: the slowest query sets the
    end-to-end figure."""
    out = {}
    label = {"sink": "sinks.live", "gaps": "state.gaps", "dvr": "state.dvr"}
    for q in QUERIES:
        fb, ct = topo.file_batches(q), topo.commit_times(q)
        lat = [
            (ct[fb[f]] - t) * 1000.0
            for f in timed
            if f in fb and fb[f] in ct
            for t in due[f]
        ]
        if lat:
            out[f"{label[q]}.latency_p50_ms"] = median(lat)
    return out


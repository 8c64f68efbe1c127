"""Shared benchmark machinery: the Spark session, spans, statistics and
the counters read from Spark itself.

Nothing here reaches inside the engine package.  Layers are measured
from outside: the benchmark times its own calls into each module
(``Tracer.span``), reads Spark's ``StreamingQueryProgress`` for every
micro-batch, and counts jobs, stages and tasks through
``SparkContext.statusTracker``.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime


# ----------------------------------------------------------------- statistics


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile of ``values`` (0 <= q <= 1)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of an empty sample")
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return quantile(values, 0.5)


# ---------------------------------------------------------------------- spans


@dataclass
class Span:
    span_id: int
    name: str
    start: float  # wall-clock seconds
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  Disabled, ``span`` only yields, so an
    untraced run pays one generator step per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.time(), 0.0, parent, attrs)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        """Record a span measured elsewhere (a micro-batch from progress)."""
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, end, parent, attrs))
        return sid

    def self_time_by_layer(self) -> dict[str, float]:
        """Seconds of self time per layer (the span name's first
        component): a span's duration minus the part of its interval
        that its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = 0.0
            cur_start = cur_end = None
            for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
                a, b = max(c.start, s.start), min(c.end, s.end)
                if b <= a:
                    continue
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            layer = s.name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + max(0.0, s.dur - covered)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "id": s.span_id,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            **({"attrs": s.attrs} if s.attrs else {}),
                        }
                    )
                    + "\n"
                )


# ------------------------------------------------------------- spark session


def start_session(tracer: Tracer, work: str):
    """Engine session at the launcher's pinned shape; returns (spark, seconds)."""
    from kafka_spark_streaming_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "jvm-tmp")
    os.makedirs(tmp, exist_ok=True)
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark(
            app_name="perfbench",
            extra_conf={
                # keep every job, stage and progress record of the run so
                # the counters below see the whole window
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.streaming.numRecentProgressUpdates": "100000",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # the JVM ignored its closed stdin
            proc.kill()
            proc.wait(timeout=10)


# ---------------------------------------------------------- spark counters

# ids probed past the last record before an id range is taken as ended
LOOKAHEAD = 32


class SparkCounter:
    """Jobs, stages and tasks Spark ran after ``start()``, from the
    status tracker.  Job and stage ids are sequential, so the window is
    an id range; jobs run by streaming threads under any job group are
    included."""

    def __init__(self, spark):
        self.st = spark.sparkContext.statusTracker()
        self.first_job = self.first_stage = 0

    @staticmethod
    def _next_free(get, start: int) -> int:
        """First id at or after ``start`` with no record, looking past
        short holes (ids reserved by jobs still being planned)."""
        i, misses, last = start, 0, start - 1
        while misses < LOOKAHEAD:
            if get(i) is None:
                misses += 1
            else:
                misses, last = 0, i
            i += 1
        return last + 1

    def start(self) -> None:
        self.first_job = self._next_free(self.st.getJobInfo, 0)
        self.first_stage = self._next_free(self.st.getStageInfo, 0)

    def counts(self) -> dict[str, int]:
        end_job = self._next_free(self.st.getJobInfo, self.first_job)
        end_stage = self._next_free(self.st.getStageInfo, self.first_stage)
        stages = tasks = 0
        for sid in range(self.first_stage, end_stage):
            si = self.st.getStageInfo(sid)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
        return {
            "spark.jobs": end_job - self.first_job,
            "spark.stages": stages,
            "spark.tasks": tasks,
        }


# ------------------------------------------------------- streaming progress


def progress_time(p) -> float:
    """Trigger start of a progress record as epoch seconds."""
    ts = p.timestamp
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# order in which MicroBatchExecution runs the phases of one trigger
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def add_progress_spans(tracer: Tracer, label: str, progresses) -> None:
    """One span per micro-batch from Spark's progress records, with the
    trigger's phases laid end to end as children."""
    layer = {"sink": "sinks", "gaps": "state", "dvr": "state"}.get(label, "stream")
    for p in progresses:
        if not p.numInputRows:
            continue
        start = progress_time(p)
        d = p.durationMs
        total = d.get("triggerExecution", 0) / 1000.0
        root = tracer.add(f"stream.{label}.trigger", start, start + total, batch=p.batchId)
        t = start
        for phase in PHASES:
            ms = d.get(phase)
            if ms is None:
                continue
            name = {
                "latestOffset": "sources.latest_offset",
                "getBatch": "sources.get_batch",
                "queryPlanning": "pipeline.query_planning",
                "addBatch": f"{layer}.{label}.add_batch",
            }.get(phase, f"stream.{label}.{phase}")
            tracer.add(name, t, t + ms / 1000.0, parent=root, batch=p.batchId)
            t += ms / 1000.0


def progress_layer_metrics(by_query: dict[str, list], since: float) -> dict[str, float]:
    """Per-trigger medians from the progress records of triggers that
    started at or after ``since`` and read input.  ``by_query`` maps a
    query label to its ``recentProgress``."""
    out: dict[str, float] = {}
    pooled: dict[str, list[float]] = {"latestOffset": [], "getBatch": [], "queryPlanning": []}
    rows = mem = 0.0
    for label, progresses in by_query.items():
        ps = [p for p in progresses if p.numInputRows and progress_time(p) >= since]
        if not ps:
            continue
        for key, vals in pooled.items():
            vals.extend(p.durationMs.get(key, 0) for p in ps)

        def med(key):
            return float(median([p.durationMs.get(key, 0) for p in ps]))

        out[f"stream.{label}.trigger_ms"] = med("triggerExecution")
        out[f"stream.{label}.wal_commit_ms"] = med("walCommit")
        out[f"stream.{label}.commit_offsets_ms"] = med("commitOffsets")
        ops = [p.stateOperators[0] for p in ps if p.stateOperators]
        if ops:
            out[f"state.{label}.update_ms"] = float(median([o.allUpdatesTimeMs for o in ops]))
            out[f"state.{label}.commit_ms"] = float(median([o.commitTimeMs for o in ops]))
            rows += ops[-1].numRowsTotal
            mem += ops[-1].memoryUsedBytes
    for key, name in (
        ("latestOffset", "sources.latest_offset_ms"),
        ("getBatch", "sources.get_batch_ms"),
        ("queryPlanning", "pipeline.query_planning_ms"),
    ):
        if pooled[key]:
            out[name] = float(median(pooled[key]))
    out["state.rows_total"] = rows
    out["state.memory_bytes"] = mem
    return out

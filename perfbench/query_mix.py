"""``query_mix``: one closed-loop client over the query registry.

The client runs whole rounds of eight registered queries, each round in
a seeded shuffled order, materialising every query with a ``noop``
write, for about the window's length.  It is the only workload through
``plans`` and ``catalog``; it reads fixed tables and writes nothing.

Record the expected results after an intended change of query
semantics (from the repository root):

    python3 perfbench/query_mix.py --record
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys
import time

from harness import SparkCounter, Tracer, median, quantile

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.1")
EXPECTED = os.path.join(HERE, "expected_queries.json")
# a warm round of the mix takes about 10 s on a 4-core host; the window
# is the whole number of rounds nearest to it (halves round up: two at
# 15 s), so every run times the same multiset of queries
ROUND_S = 10.0
MIX = (
    "p01_stream_health",
    "p04_live_dvr_manifest",
    "p12_minhash_lsh",
    "p13_cosine_topk",
    "p14_dedup_clusters",
    "p18_bm25_topk",
    "x25_decontaminate",
    "q33_star_join_five_tables",
)


def _render(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_render(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_render(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def result_digest(df) -> dict:
    """Row count and an order-insensitive hash of the values (columns by
    name, floats to six decimals, rows sorted)."""
    cols = df.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = df.collect()
    lines = sorted("|".join(_render(r[i]) for i in order) for r in rows)
    return {"rows": len(rows), "hash": hashlib.md5("\n".join(lines).encode()).hexdigest()}


def _run_one(spark, name: str, tracer: Tracer, verify: bool) -> tuple[float, float, int, dict | None]:
    """Build and materialise one query; returns (build_s, exec_s,
    tracked frames left, digest when ``verify``)."""
    from kafka_spark_streaming_pipeline_spark import cache
    from kafka_spark_streaming_pipeline_spark.plans import QUERIES

    pos = cache.mark()
    try:
        t0 = time.perf_counter()
        with tracer.span(f"plans.{name}.build"):
            df = QUERIES[name].builder(spark, DATA)
        t1 = time.perf_counter()
        digest = None
        with tracer.span(f"plans.{name}.exec"):
            if verify:
                digest = result_digest(df)
            else:
                df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        left = len(cache.tracked_since(pos))
    finally:
        with tracer.span("cache.release"):
            cache.release(cache.tracked_since(pos))
    return t1 - t0, t2 - t1, left, digest


def query_mix(spark, work: str, seed: int, seconds: float, tracer: Tracer, setup_s: float) -> dict:
    from kafka_spark_streaming_pipeline_spark.catalog import load_tables

    with open(EXPECTED) as fh:
        expected = json.load(fh)
    layer: dict[str, float] = {}
    errors: list[str] = []

    t = time.perf_counter()
    with tracer.span("catalog.load"):
        tables = load_tables(spark, DATA)
    layer["catalog.load_s"] = time.perf_counter() - t
    if set(tables) < {"events", "documents", "embeddings", "lineitem"}:
        errors.append(f"catalog found only {sorted(tables)} under {DATA}")
    # warm-up (set-up): every query once, its result checked against the
    # recorded digest
    with tracer.span("bench.warmup"):
        for name in MIX:
            try:
                _, _, _, digest = _run_one(spark, name, tracer, verify=True)
            except Exception as e:  # noqa: BLE001 - a failing query is a failed op
                errors.append(f"{name} failed in warm-up: {str(e).splitlines()[0]}")
                continue
            if digest != expected.get(name):
                errors.append(f"{name} returned {digest}, expected {expected.get(name)}")
    setup_s += time.perf_counter() - t

    rng = random.Random(seed)
    counter = SparkCounter(spark) if tracer.enabled else None
    if counter:
        counter.start()
    per_query: dict[str, list[tuple[float, float, int]]] = {n: [] for n in MIX}
    lat: list[float] = []
    attempted = failed = 0
    t0 = time.perf_counter()
    with tracer.span("bench.window"):
        for _ in range(max(1, int(seconds / ROUND_S + 0.5))):
            order = list(MIX)
            rng.shuffle(order)
            for name in order:
                attempted += 1
                try:
                    b, x, left, _ = _run_one(spark, name, tracer, verify=False)
                except Exception as e:  # noqa: BLE001 - a failing query is a failed op
                    failed += 1
                    errors.append(f"{name} failed: {str(e).splitlines()[0]}")
                    continue
                per_query[name].append((b, x, left))
                lat.append((b + x) * 1000.0)
    wall = time.perf_counter() - t0
    if counter:
        layer.update(counter.counts())

    for name, runs in per_query.items():
        if runs:
            layer[f"plans.{name}.build_s"] = median([r[0] for r in runs])
            layer[f"plans.{name}.exec_s"] = median([r[1] for r in runs])
    left = [r[2] for runs in per_query.values() for r in runs]
    layer["cache.tracked_frames"] = sum(left) / max(1, len(left))
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": median(lat) if lat else float("nan"),
        "latency_p90_ms": quantile(lat, 0.9) if lat else float("nan"),
        "ops_per_s": len(lat) / wall,
    }
    return {"attempted": attempted, "failed": failed, "errors": errors, "e2e": e2e, "layer": layer}


def record() -> None:
    """Write the expected digest of every query in the mix."""
    from run import pin_environment

    work = os.path.join(os.path.dirname(HERE), ".perfbench", "record")
    pin_environment(work)
    from harness import start_session, stop_session

    spark, _ = start_session(Tracer(False), work)
    try:
        out = {n: _run_one(spark, n, Tracer(False), verify=True)[3] for n in MIX}
    finally:
        stop_session(spark)
    with open(EXPECTED, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    if sys.argv[1:] != ["--record"]:
        sys.exit(__doc__)
    sys.path.insert(0, os.path.dirname(HERE))
    record()

#!/usr/bin/env python3
"""Benchmark launcher: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload live_tail --seed 1 --seconds 10 --trace 0

Run from the repository root.  The launcher pins the session shape
(cores, driver memory, local dirs, worker import path) before Spark
starts, keeps every file it writes under ``.perfbench/`` in the
checkout, prints diagnostics to stderr and, as the last line of
stdout, ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the ``end_to_end`` ones of BENCHMARK.json;
with ``--trace 1`` they are its ``per_layer`` ones, and the run's spans
are written to ``.perfbench/out/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "kafka_spark_streaming_pipeline_spark"
# workload -> module that defines a function of the same name
WORKLOADS = {"live_tail": "live", "query_mix": "query_mix"}


def pin_environment(work: str) -> dict[str, str]:
    """Session shape every run uses; returned so the output records it."""
    cpus = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    # a quarter of host RAM, at most 4 GiB: the engine's default (48g)
    # exceeds small hosts
    mem_mb = max(1024, min(4096, ram // 4 // 2**20))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    shape = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": local,
        # Python workers import the engine (applyInPandasWithState) from here
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
    }
    os.environ.update(shape)
    return shape


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    shape = pin_environment(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    from harness import Tracer, start_session, stop_session

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {
        "e2e": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }

    workload = getattr(importlib.import_module(WORKLOADS[args.workload]), args.workload)

    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        spark, session_s = start_session(tracer, work)
        res = workload(spark, work, args.seed, args.seconds, tracer, session_s)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    if not all(math.isfinite(v) for v in res["e2e"].values()):
        res["errors"].append(f"no operation completed: {res['e2e']}")
        res["e2e"] = {k: 0.0 if not math.isfinite(v) else v for k, v in res["e2e"].items()}
    for e in res["errors"]:
        print(f"perfbench: {args.workload}: {e}", file=sys.stderr)
    layer = dict(res["layer"])
    if args.trace:
        for name, secs in tracer.self_time_by_layer().items():
            layer[f"self_s.{name}"] = secs
        layer["session.start_s"] = session_s
        for k, v in res["e2e"].items():
            layer[f"traced.{k}"] = v
        stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
        tracer.write(stem + ".spans.jsonl")
        overhead = _overhead(out_dir, args.workload, res["e2e"])
        with open(stem + ".layers.json", "w") as fh:
            json.dump({"layers": layer, "tracing_overhead": overhead, "shape": shape}, fh, indent=1)
        print(f"perfbench: spans and layers written to {stem}.*", file=sys.stderr)
        print(f"perfbench: tracing overhead (traced - untraced): {overhead}", file=sys.stderr)
        unknown = sorted(set(layer) - set(units["layer"]))
        if unknown:
            print(f"perfbench: unlisted per-layer metrics dropped: {unknown}", file=sys.stderr)
        metrics = {
            k: {"value": float(layer.get(k, 0.0)), "unit": unit}
            for k, unit in units["layer"].items()
        }
    else:
        with open(os.path.join(out_dir, f"{args.workload}-untraced.json"), "w") as fh:
            json.dump(res["e2e"], fh)
        metrics = {
            k: {"value": float(res["e2e"][k]), "unit": unit} for k, unit in units["e2e"].items()
        }
        print(f"perfbench: layers {json.dumps(layer, sort_keys=True)}", file=sys.stderr)
    print(f"perfbench: session shape {json.dumps(shape)}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": not res["errors"],
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": metrics,
            }
        )
    )
    return 0


def _overhead(out_dir: str, workload: str, traced: dict) -> dict:
    """Traced minus untraced end-to-end numbers (the last untraced run
    of this workload in this checkout), or {} when there is none."""
    path = os.path.join(out_dir, f"{workload}-untraced.json")
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        plain = json.load(fh)
    return {k: traced[k] - plain[k] for k in traced if k in plain}


if __name__ == "__main__":
    t0 = time.time()
    code = main()
    print(f"perfbench: wall {time.time() - t0:.1f}s", file=sys.stderr)
    sys.exit(code)

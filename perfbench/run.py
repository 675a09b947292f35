#!/usr/bin/env python3
"""Workflow benchmark for the archiver.

Usage, from the repository root::

    python3 perfbench/run.py --workload {backfill,live_follow,repair} \\
        --seed N --seconds S --trace {0,1}

Starts the program's Spark session on ``local[nproc]``, sets up the
workload's seeded inputs, runs its timed workflow calls, checks their
outputs, and prints one ``metric`` line per figure followed by a JSON
result as the last line. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reruns the workload with spans, Spark counts and standalone
layer timings and reports the per-layer metrics. Exits 1 when a workflow
call or an output check fails, 2 when the program is not in the checkout.

Scratch data lives under ``.perfbench/`` in the checkout; results and
trace spans are kept in ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)

# name -> unit; every workload reports all of them
END_TO_END = {
    "setup_s": "s",
    "blocks_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "stored_bytes_per_block": "bytes",
}


def commit() -> str:
    """The checkout's commit, or a digest of the program's sources when the
    checkout is not a git repository."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=CHECKOUT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    h = hashlib.sha1()
    pkg = os.path.join(CHECKOUT, "dshackle_archive_spark")
    for d, _dirs, fs in sorted(os.walk(pkg)):
        for f in sorted(fs):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return "src-" + h.hexdigest()[:12]


def _finite(v):
    return v if isinstance(v, int) or (isinstance(v, float) and math.isfinite(v)) else None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["backfill", "live_follow", "repair"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(CHECKOUT, "dshackle_archive_spark", "__init__.py")):
        print("perfbench: dshackle_archive_spark is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, CHECKOUT)
    from perfbench import layers, procmon, sparkrun
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    trace = bool(args.trace)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    bench_dir = os.path.join(CHECKOUT, ".perfbench")
    work = os.path.join(bench_dir, "work", run_id)
    results = os.path.join(bench_dir, "results")
    os.makedirs(results, exist_ok=True)
    sparkrun.prepare_env(CHECKOUT, work)
    meta = {
        "run": run_id, "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "commit": commit(), "nproc": sparkrun.nproc(),
        "load_before": procmon.loadavg(),
    }
    steal0 = procmon.steal_s()
    setup, run = WORKLOADS[args.workload]
    ctx = res = None
    per_layer: dict = {}
    crashed = False
    with procmon.PeakRss() as rss:
        spark, session_s = sparkrun.start()
        try:
            tracer = Tracer(run_id, spark, enabled=trace)
            ctx = Ctx(spark, tracer, args.seed, args.seconds, work, trace)
            t0 = time.perf_counter()
            state = setup(ctx)
            setup_phase_s = time.perf_counter() - t0
            calls0 = ctx.counter.value if ctx.counter is not None else None
            with layers.wrapped_archive_layer(tracer) if trace else nullcontext():
                res = run(ctx, state)
            if trace:
                calls = ctx.counter.value - calls0
                per_layer = {k: 0 for k in layers.PER_LAYER}
                per_layer.update(layers.from_spans(tracer, res.layer_inputs, calls))
                per_layer.update(layers.standalone(ctx, res.layer_inputs))
        except Exception:
            traceback.print_exc()
            crashed = True
        finally:
            sparkrun.stop(spark)
    meta["load_after"] = procmon.loadavg()
    meta["cpu_steal_s"] = procmon.steal_s() - steal0
    shutil.rmtree(work, ignore_errors=True)

    metrics: dict = {}
    if not crashed:
        meta["sizes"] = ctx.sizes
        meta["setup_phases_s"] = {"session": session_s, "inputs_and_warmup": setup_phase_s}
        e2e = {"setup_s": session_s + setup_phase_s, **res.e2e}
        res.detail["peak_rss_mb"] = rss.peak_mb
        timed_s = res.layer_inputs["timed_s"]
        if trace:
            per_layer["session.start_s"] = session_s
            per_layer["process.peak_rss_mb"] = rss.peak_mb
            per_layer["trace.bookkeeping_s"] = tracer.bookkeeping_s
            per_layer["trace.overhead_s"] = tracer.bookkeeping_s
            untraced = os.path.join(results, f"{args.workload}-s{args.seed}-trace0.json")
            if os.path.exists(untraced):
                with open(untraced) as f:
                    per_layer["trace.overhead_s"] = timed_s - json.load(f)["timed_s"]
            tracer.write(os.path.join(results, f"{run_id}.spans.jsonl"))
            metrics = {k: {"value": v, "unit": layers.PER_LAYER[k][0]}
                       for k, v in per_layer.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        failed_checks = sum(1 for _, ok, _ in ctx.checks if not ok)
        attempted = ctx.calls + len(ctx.checks)
        failed = ctx.failed_calls + failed_checks
    else:
        attempted, failed = max(1, ctx.calls + len(ctx.checks) if ctx else 1), 1
        e2e, timed_s = {}, None
    correct = not crashed and failed == 0
    for k, m in metrics.items():
        m["value"] = _finite(m["value"])
    record = {"meta": meta, "correct": correct, "attempted": attempted, "failed": failed,
              "failed_ops_ratio": failed / attempted, "timed_s": timed_s,
              "end_to_end": e2e, "detail": res.detail if res else {},
              "checks": ctx.checks if ctx else [], "per_layer": per_layer}
    with open(os.path.join(results, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if not trace and correct:
        with open(os.path.join(results, f"{args.workload}-s{args.seed}-trace0.json"), "w") as f:
            json.dump(record, f, default=str)

    print("meta " + json.dumps(meta, default=str))
    for k, v in (res.detail if res else {}).items():
        print(f"detail {k} {v}")
    print(f"metric failed_ops_ratio {failed / attempted} ratio")
    for k, m in metrics.items():
        print(f"metric {k} {m['value']} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

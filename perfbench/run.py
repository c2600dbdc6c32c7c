#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_catchup --seed 7 --seconds 10 --trace 0

Runs one workload against the engine in this checkout, with inputs made
from ``--seed``, checks every output, and prints the result as the last
line of standard output::

    {"correct": true, "attempted": 5, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (tracing off); ``--trace 1``
reports the per-layer metrics from a separate traced unit of the same
workload (see NOTES.md). Exit code 0 when every check passed, 1 when a
check failed (the result line says which), 2 when the engine is missing.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import signal
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import runtime  # noqa: E402

#: name -> (module, class)
WORKLOADS = {
    "cdc_catchup": ("cdc", "CdcCatchup"),
    "store_ingest": ("store", "StoreIngest"),
}

END_TO_END = {
    "setup_s": "s",
    "work_per_s": "1/s",
    "op_p50_s": "s",
}

#: per-layer metrics every traced run reports, with those of every
#: workload (a layer the running workload does not touch reads 0)
COMMON_LAYERS = ("session.start_s", "session.warm_s", "trace.overhead_ratio", "trace.coverage")


def layer_unit(name: str) -> str:
    for suffix, unit in (("_ms_per_batch", "ms"), ("_s_per_10k_docs", "s"), ("_per_s", "1/s"),
                         ("_s", "s"), ("_bytes_per_event", "B"), ("_bytes_per_batch", "B")):
        if name.endswith(suffix):
            return unit
    if name.endswith(("_ratio", "_amp", ".coverage")):
        return "ratio"
    return "count"


def layer_names() -> list[str]:
    names = list(COMMON_LAYERS)
    for mod, cls in WORKLOADS.values():
        names += list(getattr(importlib.import_module(mod), cls).LAYERS)
    return names


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=0, help="local cores (default: all)")
    return ap.parse_args(argv)


def single_core_events_per_s(args, budget_s: float) -> float:
    """``cdc_catchup`` once more at one core, in a child process (the
    streaming single-threaded baseline), given at most ``budget_s``. The
    child gets its own process group so a timeout also stops its JVM."""
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--workload", "cdc_catchup",
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0", "--cpus", "1"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, start_new_session=True,
    )
    try:
        stdout, stderr = proc.communicate(timeout=max(10.0, budget_s))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise RuntimeError("single-core run exceeded the time budget") from None
    lines = [ln for ln in stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"single-core run failed ({proc.returncode}): {stderr[-500:]}")
    return json.loads(lines[-1])["metrics"]["work_per_s"]["value"]


def main(argv=None) -> int:
    args = parse_args(argv)
    if importlib.util.find_spec("mysql2clickhouse_spark") is None:
        print(f"engine package mysql2clickhouse_spark not found under {ROOT}", file=sys.stderr)
        return 2
    from tracing import event_log_off, eventlog_conf, fold_event_log, self_times  # noqa: PLC0415

    mod, cls = WORKLOADS[args.workload]
    wl = getattr(importlib.import_module(mod), cls)()
    ctx = runtime.Context(args.workload, args.seed, args.seconds, bool(args.trace))
    ctx.configure_env(args.cpus or runtime.cpu_count(),
                      eventlog_conf(ctx.path("eventlog")) if args.trace else ())
    if args.trace:
        os.makedirs(ctx.path("eventlog"))
    problems: list[str] = []
    m: dict = {}
    try:
        wl.setup(ctx)
        setup_s = ctx.setup_s()
        # a traced run measures its untraced units with the event log
        # detached, so trace.overhead_ratio covers the log's cost too
        with event_log_off(ctx.spark.sparkContext) if args.trace else nullcontext():
            m = wl.measure(ctx)
        if args.trace:
            traced = wl.traced(ctx)
        t0 = time.perf_counter()
        problems = wl.check(ctx)
        ctx.info["check_s"] = time.perf_counter() - t0
        # reported, not gated: it follows when G1 grows its heap (see NOTES.md)
        ctx.info["peak_rss_mb"] = ctx.peak_rss_mb()
        ctx.stop()
        metrics = {
            "setup_s": setup_s,
            "work_per_s": m["work_per_s"],
            "op_p50_s": m["op_p50_s"],
        }
        if args.trace:
            layers = dict.fromkeys(layer_names(), 0.0)
            layers.update(wl.layer_metrics(ctx, traced, fold_event_log(ctx.path("eventlog"))))
            tracer = traced["tracer"]
            layers["session.start_s"] = ctx.session_start_s
            layers["session.warm_s"] = ctx.session_warm_s
            layers["trace.overhead_ratio"] = traced["wall"] / len(traced["units"]) / m["unit_wall"]
            layers["trace.coverage"] = sum(self_times(tracer.spans)) / traced["wall"]
            if args.workload == "cdc_catchup":
                # the whole invocation must end within 180 s
                budget = 175.0 - (time.perf_counter() - ctx.t_start)
                layers["cdc.single_core_events_per_s"] = single_core_events_per_s(args, budget)
            out = {k: runtime.metric(v, layer_unit(k)) for k, v in layers.items()}
        else:
            out = {k: runtime.metric(metrics[k], u) for k, u in END_TO_END.items()}
    except Exception:  # noqa: BLE001 - any failure is reported as a failed run
        traceback.print_exc()
        problems.append("run raised: " + traceback.format_exc(limit=1).strip().splitlines()[-1])
        out = {}
    finally:
        ctx.stop()
        ctx.cleanup()
    # a measured operation that raises ends the run, so a failed run
    # counts one failed operation
    attempted = max(1, int(m.get("attempted", 1)))
    failed = 1 if problems else 0
    ctx.info["problems"] = problems
    runtime.emit(
        {"correct": not problems, "attempted": attempted, "failed": failed, "metrics": out},
        ctx.info,
    )
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())

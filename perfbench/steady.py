#!/usr/bin/env python3
"""Steadiness report: run a workload several times and print, for each
end-to-end metric, the median of its values and their quartile spread
((Q3 - Q1) / median) next to the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload cdc_catchup --runs 5 --seed 7
    python3 perfbench/steady.py --workload store_ingest --runs 10 --vary-seed

With ``--seed`` every run uses the same inputs (the spread is the
machine's and the engine's own noise); ``--vary-seed`` gives run ``i``
seed ``seed + i``, which is how a regression gate sees the benchmark.
Runs are sequential, so each one has the machine to itself.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def load_spec() -> dict:
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, float]:
    """One ``--trace 0`` run: its result line and its wall time."""
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, timeout=600, check=False, cwd=ROOT,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        raise RuntimeError(f"run failed ({out.returncode}): {out.stderr[-800:]}")
    return json.loads(lines[-1]), time.perf_counter() - t0


def report(values: dict[str, list[float]], bounds: dict[str, float]) -> list[str]:
    lines = [f"{'metric':<14}{'median':>12}{'spread':>9}{'bound':>8}{'bound/3':>9}  verdict"]
    for name, xs in values.items():
        spread = stats.quartile_spread(xs)
        bound = bounds.get(name)
        if bound is None:
            verdict = "no bound"
        elif spread <= bound / 3:
            verdict = "steady"
        elif spread <= bound:
            verdict = "within bound"
        else:
            verdict = "TOO NOISY"
        b = "-" if bound is None else f"{bound:.3f}"
        b3 = "-" if bound is None else f"{bound / 3:.3f}"
        lines.append(f"{name:<14}{stats.median(xs):>12.4g}{spread:>9.3f}{b:>8}{b3:>9}  {verdict}")
    return lines


def main(argv=None) -> int:
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--vary-seed", action="store_true")
    ap.add_argument("--seconds", type=int, default=spec.get("run_seconds", 10))
    args = ap.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in spec.get("end_to_end", [])}
    values: dict[str, list[float]] = {}
    walls: list[float] = []
    for i in range(args.runs):
        seed = args.seed + i if args.vary_seed else args.seed
        res, wall = run_once(args.workload, seed, args.seconds)
        walls.append(wall)
        if not res["correct"]:
            print(f"run {i} (seed {seed}) failed its checks", file=sys.stderr)
            return 1
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"run {i} seed {seed} wall {wall:.1f} s: " + ", ".join(
            f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
    print("\n".join(report(values, bounds)))
    print(f"wall per run: median {stats.median(walls):.1f} s, max {max(walls):.1f} s")
    print(json.dumps({"workload": args.workload, "values": values, "walls": walls}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Steadiness check: run each workload with several seeds and print, for
every metric, the median, the quartiles, their spread as a share of the
median, and the wall of one run.

    python3 nndbench/steady.py --runs 10 [--workload NAME ...] [--trace 1]

Run it from the root of the repository. Settings (command, measuring
time, workloads, bounds) come from ``BENCHMARK.json``. With ``--trace 1``
each seed is also run traced, and the tracing overhead is printed as the
traced minus the untraced median of ``round_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(spec: dict, workload: str, seed: int, trace: int) -> tuple[dict, float]:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(
        cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, timeout=900, check=True,
    )
    wall = time.perf_counter() - t0
    for line in proc.stderr.splitlines():
        if line.startswith("[nndbench]"):
            print("   ", line, flush=True)
    return json.loads(proc.stdout.strip().splitlines()[-1]), wall


def summary(values: list[float]) -> tuple[float, float, float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=5)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workload", action="append")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    names = args.workload or [w["name"] for w in spec["workloads"]]
    for wl in names:
        results: list[dict] = []
        walls: list[float] = []
        traced: list[dict] = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            res, wall = run_once(spec, wl, seed, 0)
            results.append(res)
            walls.append(wall)
            print(f"{wl} seed {seed}: {wall:.1f} s  " + json.dumps(res), flush=True)
            if args.trace:
                res, wall = run_once(spec, wl, seed, 1)
                traced.append(res)
                print(f"{wl} seed {seed} traced: {wall:.1f} s", flush=True)
        shares = {r["failed"] / r["attempted"] for r in results}
        print(f"\n{wl}: {len(results)} runs, wall per run median {statistics.median(walls):.1f} s "
              f"(max {max(walls):.1f} s), correct {all(r['correct'] for r in results)}, "
              f"failed shares {sorted(shares)}")
        print(f"{'metric':<22}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}")
        for name in results[0]["metrics"]:
            med, q1, q3, spread = summary([r["metrics"][name]["value"] for r in results])
            flag = "" if spread < bounds.get(name, 1) / 3 else "  <-- above bound/3"
            print(f"{name:<22}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{spread:>9.3f}"
                  f"{bounds.get(name, float('nan')):>8.2f}{flag}")
        if traced:
            t_round = statistics.median(r["metrics"]["trace.round_s"]["value"] for r in traced)
            u_round = statistics.median(r["metrics"]["round_s"]["value"] for r in results)
            print(f"tracing overhead on round_s: {t_round - u_round:+.2f} s "
                  f"({(t_round - u_round) / u_round:+.1%}) over {len(traced)} traced runs")
        print(flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

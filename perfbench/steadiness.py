#!/usr/bin/env python3
"""Steadiness record: run every workload over several seeds on unchanged
code and write, per end-to-end metric, the median and the quartile
spread ((Q3 - Q1) / median) next to the metric's bound.

    python3 perfbench/steadiness.py --runs 10 --sets 2 --first-seed 1 \\
        --out perfbench/steadiness.json

Runs are sequential, each a fresh ``perfbench/run.py`` process with
``--seconds`` taken from ``BENCHMARK.json``. With ``--sets 2`` a second
set runs on the next ten seeds, and the record adds how much worse each
metric's second median is than its first.
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
sys.path.insert(0, ROOT)

from perfbench.metrics import median, quartile_spread  # noqa: E402


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=False,
    )
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    summary = next((json.loads(line.split("summary ", 1)[1])
                    for line in proc.stderr.splitlines() if "[perfbench] summary " in line), {})
    return {"seed": seed, "exit": proc.returncode, "wall_s": wall, "result": result,
            "samples": summary.get("samples", {})}


def run_set(workloads: list[str], seeds: list[int], bench: dict) -> dict:
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out = {}
    for w in workloads:
        runs = []
        for seed in seeds:
            r = run_once(w, seed, bench["run_seconds"])
            ok = r["exit"] == 0 and r["result"] and r["result"]["correct"]
            print(f"{w} seed {seed}: exit {r['exit']} wall {r['wall_s']:.1f}s"
                  f"{'' if ok else '  FAILED'}", file=sys.stderr, flush=True)
            runs.append(r)
        good = [r for r in runs if r["exit"] == 0 and r["result"]]
        metrics = {}
        for name, bound in bounds.items():
            values = [r["result"]["metrics"][name]["value"] for r in good]
            if len(values) < 2:
                continue
            spread = quartile_spread(values)
            metrics[name] = {"median": median(values), "spread": spread, "bound": bound,
                             "within_third_of_bound": spread < bound / 3,
                             "values": values}
            flag = "" if spread < bound / 3 else "   <-- above bound/3"
            print(f"  {w:14s} {name:30s} median {median(values):12.4f} spread {spread:.3f}"
                  f" bound {bound}{flag}", file=sys.stderr)
        out[w] = {
            "failed_runs": len(runs) - len(good),
            "wall_s": {"median": median([r["wall_s"] for r in runs]),
                       "max": max(r["wall_s"] for r in runs)},
            # per run and op kind: samples in the window, and the tail
            # with the percentile it sat at (100 = the maximum)
            "samples": [{"seed": r["seed"], **{
                k: {"n": v["n"], "tail_s": v["tail_s"], "tail_percentile": v["tail_percentile"]}
                for k, v in r["samples"].items()}} for r in good],
            "metrics": metrics,
        }
    return out


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse the second median is than the first, as a share
    of the first (negative when it is better)."""
    change = (second - first) / abs(first)
    return change if better == "lower" else -change


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=1)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workloads", nargs="*")
    p.add_argument("--out", default=os.path.join(HERE, "steadiness.json"))
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    record: dict = {"run_seconds": bench["run_seconds"], "sets": []}
    for k in range(args.sets):
        first = args.first_seed + k * args.runs
        seeds = list(range(first, first + args.runs))
        record["sets"].append({"seeds": seeds, "workloads": run_set(workloads, seeds, bench)})
    if args.sets > 1:
        better = {m["name"]: m["better"] for m in bench["end_to_end"]}
        first_set = record["sets"][0]["workloads"]
        last_set = record["sets"][-1]["workloads"]
        record["last_set_worse_by"] = {
            w: {name: worse_by(m["median"], last_set[w]["metrics"][name]["median"],
                               better[name])
                for name, m in first_set[w]["metrics"].items()
                if name in last_set[w]["metrics"]}
            for w in workloads
        }
    with open(args.out, "w") as fh:
        json.dump(record, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())

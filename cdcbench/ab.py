#!/usr/bin/env python3
"""Pair-rule A/B of two program trees on the replication-loop benchmark.

    git worktree add ../base <parent-rev>
    git worktree add ../head <change-rev>
    python3 cdcbench/ab.py --base ../base --head ../head --out ab.json

Both sides run this checkout's benchmark code (run.py), from the root of
their own tree, so only the program differs. Every workload in
BENCHMARK.json runs MIN_PAIRS pairs; pair i runs base and head on seed
SEED_BASE + i, and the side that runs first alternates. Run length,
metric directions and regression bounds also come from BENCHMARK.json.

Per workload and end-to-end metric the JSON reports both sides'
medians and quartiles, the head's wins, and two verdicts:

- gain: at least 10 pairs, head wins >= 9/10 of them (ties count for
  neither), and the medians differ by more than the base's IQR.
- regression: the head's median is worse than the base's by more than
  the metric's bound. Where the base's own IQR is wider than the bound
  the metric is "unresolved", unless every head run beats every base run.

A gain is void when the head fails more cycles than the base.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
MIN_PAIRS = 10
SEED_BASE = 1000
WIN_SHARE = 0.9


def run_once(tree: str, workload: str, seed: int, seconds: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True, timeout=900)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{tree} {workload} seed {seed}: exit "
                           f"{out.returncode}\n{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(metric: dict, base: list[float], head: list[float],
            base_failed: int, head_failed: int) -> dict:
    lower = metric["better"] == "lower"

    def better(h: float, b: float) -> bool:
        return h < b if lower else h > b

    wins = sum(better(h, b) for h, b in zip(head, base))
    bq, hq = quartiles(base), quartiles(head)
    b_med, h_med = statistics.median(base), statistics.median(head)
    iqr = bq[2] - bq[0]
    worse_by = ((h_med - b_med) if lower else (b_med - h_med)) / abs(b_med) \
        if b_med else 0.0
    every_better = all(better(h, b) for h in head for b in base)
    if iqr / abs(b_med or 1) > metric["bound"] and not every_better:
        regression = "unresolved"
    else:
        regression = worse_by > metric["bound"]
    gain = (len(base) >= MIN_PAIRS and wins >= WIN_SHARE * len(base)
            and better(h_med, b_med) and abs(h_med - b_med) > iqr
            and head_failed <= base_failed)
    return {"unit": metric["unit"], "better": metric["better"],
            "bound": metric["bound"], "pairs": len(base), "head_wins": wins,
            "base": {"median": b_med, "q1": bq[0], "q3": bq[2],
                     "values": base},
            "head": {"median": h_med, "q1": hq[0], "q3": hq[2],
                     "values": head},
            "head_worse_by": worse_by, "gain": gain, "regression": regression}


def main(argv=None) -> int:
    with open(SPEC) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--base", required=True, help="parent's program tree")
    p.add_argument("--head", required=True, help="change's program tree")
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    trees = {"base": os.path.abspath(args.base),
             "head": os.path.abspath(args.head)}
    seconds = spec["run_seconds"]

    report = {"base": trees["base"], "head": trees["head"],
              "pairs": MIN_PAIRS, "seconds": seconds, "workloads": {}}
    for wl in (w["name"] for w in spec["workloads"]):
        runs = {"base": [], "head": []}
        for i in range(MIN_PAIRS):
            order = ("base", "head") if i % 2 == 0 else ("head", "base")
            for side in order:
                runs[side].append(run_once(trees[side], wl, SEED_BASE + i,
                                           seconds))
                print(f"{wl} pair {i} {side}: "
                      f"{json.dumps(runs[side][-1]['metrics'])}",
                      file=sys.stderr)
        failed = {s: sum(r["failed"] for r in runs[s]) for s in runs}
        metrics = {}
        for m in spec["end_to_end"]:
            vals = {s: [r["metrics"][m["name"]]["value"] for r in runs[s]]
                    for s in runs}
            metrics[m["name"]] = verdict(m, vals["base"], vals["head"],
                                         failed["base"], failed["head"])
        report["workloads"][wl] = {
            "correct": {s: all(r["correct"] for r in runs[s]) for s in runs},
            "failed_cycles": failed, "metrics": metrics}
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    regressions = [(wl, m) for wl, r in report["workloads"].items()
                   for m, v in r["metrics"].items() if v["regression"] is True]
    gains = [(wl, m) for wl, r in report["workloads"].items()
             for m, v in r["metrics"].items() if v["gain"]]
    print(json.dumps({"gains": gains, "regressions": regressions,
                      "out": args.out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

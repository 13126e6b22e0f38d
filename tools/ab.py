#!/usr/bin/env python3
"""Pair-rule A/B of two program trees on query lanes.

    git worktree add ../base <parent-rev>
    git worktree add ../head <change-rev>
    python3 tools/ab.py --base ../base --head ../head --out ab.json <lane> ...

Each side of a pair is one run of this checkout's tools/profile_lanes.py
over all the named lanes, started from the root of that side's tree, so
only the program differs. MIN_PAIRS pairs run and the side that runs
first alternates, as in cdcbench/ab.py. SPARK_GRAFT_SF_DIR and
SPARK_GRAFT_CPUS reach profile_lanes.py unchanged.

Per lane the JSON reports build_s and exec_s through cdcbench/ab.py's
pair rule (lower is better), and jobs and rows per pair for each side.
Counts are compared, never put through the pair rule: a lane whose jobs
or rows differ between the sides is flagged.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from cdcbench.ab import MIN_PAIRS, verdict  # noqa: E402

# The benchmark's wall-time bound (BENCHMARK.json), so that a lane
# regression means what a replication-loop regression means.
BOUND = 0.25
TIMES = ("build_s", "exec_s")
COUNTS = ("jobs", "rows")


def run_side(tree: str, lanes: list[str]) -> dict[str, dict]:
    """One profile_lanes.py run in ``tree``: its JSON line per lane."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "profile_lanes.py"), *lanes],
        cwd=tree, capture_output=True, text=True, timeout=1800)
    got = {}
    for line in out.stdout.splitlines():
        if line.startswith('{"lane"'):
            rec = json.loads(line)
            got[rec["lane"]] = rec
    if out.returncode != 0 or set(got) != set(lanes):
        raise RuntimeError(f"{tree} {' '.join(lanes)}: exit "
                           f"{out.returncode}\n{out.stderr[-2000:]}")
    return got


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--base", required=True, help="parent's program tree")
    p.add_argument("--head", required=True, help="change's program tree")
    p.add_argument("--out", required=True)
    p.add_argument("lanes", nargs="+", help="registered lane names")
    args = p.parse_args(argv)
    trees = {"base": os.path.abspath(args.base),
             "head": os.path.abspath(args.head)}

    runs = {"base": [], "head": []}
    for i in range(MIN_PAIRS):
        order = ("base", "head") if i % 2 == 0 else ("head", "base")
        for side in order:
            runs[side].append(run_side(trees[side], args.lanes))
            print(f"pair {i} {side}: {json.dumps(runs[side][-1])}",
                  file=sys.stderr)

    report = {"base": trees["base"], "head": trees["head"],
              "pairs": MIN_PAIRS,
              "env": {k: os.environ.get(k) for k in
                      ("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS")},
              "lanes": {}}
    for lane in args.lanes:
        recs = {s: [r[lane] for r in runs[s]] for s in runs}
        entry = {m: verdict({"unit": "s", "better": "lower", "bound": BOUND},
                            [r[m] for r in recs["base"]],
                            [r[m] for r in recs["head"]], 0, 0)
                 for m in TIMES}
        for c in COUNTS:
            entry[c] = {s: [r[c] for r in recs[s]] for s in recs}
        entry["counts_differ"] = [c for c in COUNTS
                                  if entry[c]["base"] != entry[c]["head"]]
        report["lanes"][lane] = entry
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    lanes = report["lanes"].items()
    print(json.dumps({
        "gains": [(ln, m) for ln, e in lanes for m in TIMES if e[m]["gain"]],
        "regressions": [(ln, m) for ln, e in lanes for m in TIMES
                        if e[m]["regression"] is True],
        "counts_differ": [(ln, c) for ln, e in lanes
                          for c in e["counts_differ"]],
        "out": args.out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

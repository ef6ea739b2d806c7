#!/usr/bin/env python3
"""Compare two checkouts (parent and change) on the benchmark.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR [--workload W]

Runs ten alternating pairs per workload (parent first in even pairs,
change first in odd ones; both sides of a pair get the same seed),
each side with its own copy of ``perfbench/run.py`` and the run length
``BENCHMARK.json`` fixes. Prints one JSON row per workload with each
end-to-end metric's medians and quartiles on both sides and a verdict:

- ``gain``: the change wins at least 9 of 10 pairs (ties count for
  neither) and the medians differ by more than the parent's quartile
  spread;
- ``regression``: the change's median is worse than the parent's by more
  than the metric's bound;
- ``unresolved``: the parent's own spread exceeds the bound, unless every
  change run beats every parent run;
- ``unchanged`` otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

MIN_PAIRS = 10  # fewer pairs never support a gain; compare runs this many
SEED_BASE = 1000


def judge(parent: list[float], change: list[float], better: str, bound: float) -> dict:
    """Verdict for one metric from paired samples (``parent[i]`` and
    ``change[i]`` ran as one pair)."""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    p1, pm, p3 = statistics.quantiles(parent, n=4)
    c1, cm, c3 = statistics.quantiles(change, n=4)
    spread = p3 - p1
    worse_by = -sign * (cm - pm) / pm
    row = {
        "parent": {"q1": p1, "median": pm, "q3": p3},
        "change": {"q1": c1, "median": cm, "q3": c3},
        "wins": wins, "pairs": len(parent),
    }
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if len(parent) >= MIN_PAIRS and wins >= 0.9 * len(parent) and sign * (cm - pm) > spread:
        row["verdict"] = "gain"
    elif spread / pm > bound and not all_better:
        row["verdict"] = "unresolved"
    elif worse_by > bound:
        row["verdict"] = "regression"
    else:
        row["verdict"] = "unchanged"
    return row


def _run(checkout: str, workload: str, seed: int, seconds: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, timeout=600,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{checkout}: run failed ({out.returncode})\n{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="parent vs change on the benchmark")
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", action="append")
    args = ap.parse_args(argv)

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    for w in workloads:
        samples = {"parent": [], "change": []}
        for i in range(MIN_PAIRS):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                res = _run(getattr(args, side), w, SEED_BASE + i, spec["run_seconds"])
                samples[side].append(res["metrics"])
        row = {"workload": w}
        for m in spec["end_to_end"]:
            name = m["name"]
            row[name] = judge(
                [s[name]["value"] for s in samples["parent"]],
                [s[name]["value"] for s in samples["change"]],
                m["better"], m["bound"],
            )
        print(json.dumps(row))
    return 0


if __name__ == "__main__":
    sys.exit(main())

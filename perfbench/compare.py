"""Rank per-layer differences between two sets of benchmark runs.

Usage, from the repository root::

    python3 perfbench/compare.py BEFORE AFTER [--top N]

BEFORE and AFTER are files, or directories of files, each holding the
standard output of one or more ``run.py`` runs (usually ``--trace 1``).
For each workload found in both sets it prints every metric's median
before and after and the change, grouped by unit and ranked by the size
of the change, so the layer where a saving or a loss appears comes first.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
from collections import defaultdict


def load(path: str) -> dict:
    """workload -> metric -> (unit, [value per run])."""
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
             if os.path.isdir(path) else [path])
    runs: dict = defaultdict(dict)
    for name in files:
        workload = None
        with open(name) as f:
            for line in f:
                try:
                    obj = json.loads(line)
                except ValueError:
                    continue
                if not isinstance(obj, dict):
                    continue
                if "workload" in obj:
                    workload = obj["workload"]
                elif "metrics" in obj and workload is not None:
                    for metric, m in obj["metrics"].items():
                        runs[workload].setdefault(
                            metric, (m["unit"], []))[1].append(m["value"])
                    workload = None
    return runs


def rank(before: dict, after: dict) -> list[tuple]:
    rows = []
    for metric in before.keys() & after.keys():
        unit = before[metric][0]
        b = statistics.median(before[metric][1])
        a = statistics.median(after[metric][1])
        if a == b == 0:
            continue
        rows.append((unit, metric, b, a, a - b,
                     len(before[metric][1]), len(after[metric][1])))
    rows.sort(key=lambda r: (r[0], -abs(r[4])))
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--top", type=int, default=0,
                    help="show only the N largest changes per unit")
    args = ap.parse_args(argv)
    before, after = load(args.before), load(args.after)
    common = sorted(before.keys() & after.keys())
    if not common:
        print("no workload appears in both sets", file=sys.stderr)
        return 1
    for workload in common:
        rows = rank(before[workload], after[workload])
        print(f"== {workload}")
        print(f"{'metric':40s} {'unit':>6s} {'before':>11s} {'after':>11s} "
              f"{'change':>11s} {'%':>8s}  runs")
        shown: dict = defaultdict(int)
        for unit, metric, b, a, d, nb, na in rows:
            shown[unit] += 1
            if args.top and shown[unit] > args.top:
                continue
            pct = f"{100 * d / b:+.1f}" if b else "new"
            print(f"{metric:40s} {unit:>6s} {b:11.4f} {a:11.4f} {d:+11.4f} "
                  f"{pct:>8s}  {nb}/{na}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or report the spread of one.

    python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl
    python3 perfbench/compare.py RUNS.jsonl

Each file holds the standard output of any number of ``run.py`` calls
(the ``{"run": ...}`` lines are read; everything else is skipped).
Runs of the two sets are paired by (workload, seed), so give both sides
the same seeds, and alternate which side runs first.

For each workload and end-to-end metric it prints both sides' median
and quartiles, the change's wins over its pairs, and a verdict, with the
bounds and directions of ``BENCHMARK.json``:

- better: the change wins at least nine tenths of the pairs (ties count
  for neither) and the medians differ by more than the parent's
  inter-quartile distance;
- unresolved: either side's spread (inter-quartile distance over the
  median) exceeds the bound, unless every change run reads better than
  every parent run;
- worse: the change's median is worse than the parent's by more than
  the bound;
- within bound: otherwise.

With one file it prints each metric's median, quartiles and spread
against its bound.
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

from stats import quartiles, spread

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_runs(path: str) -> dict:
    """{(workload, seed): end_to_end metrics} from captured stdout."""
    runs = {}
    with open(path) as f:
        for line in f:
            if line.startswith('{"run"'):
                r = json.loads(line)["run"]
                runs[(r["workload"], r["seed"])] = r["end_to_end"]
    return runs


def bounds(path: str = os.path.join(ROOT, "BENCHMARK.json")) -> dict:
    with open(path) as f:
        return {m["name"]: m for m in json.load(f)["end_to_end"]}


def verdict(parent: list, change: list, bound: float, lower_better: bool) -> tuple[str, int]:
    """(verdict, wins) for paired samples of one metric."""
    sign = -1 if lower_better else 1
    wins = sum(sign * (c - p) > 0 for p, c in zip(parent, change))
    pq1, pmed, pq3 = quartiles(parent)
    cmed = quartiles(change)[1]
    if wins >= 0.9 * len(parent) and sign * (cmed - pmed) > pq3 - pq1:
        return "better", wins
    if spread(parent) > bound or spread(change) > bound:
        if min(sign * c for c in change) > max(sign * p for p in parent):
            return "within bound", wins
        return "unresolved", wins
    if -sign * (cmed - pmed) / pmed > bound:
        return "worse", wins
    return "within bound", wins


def _fmt(values) -> str:
    q1, med, q3 = quartiles(values)
    return f"{med:.4g} [{q1:.4g}, {q3:.4g}]"


def compare(parent_runs: dict, change_runs: dict, metrics: dict) -> list[str]:
    out = []
    pairs = defaultdict(list)
    for key in sorted(set(parent_runs) & set(change_runs)):
        pairs[key[0]].append((parent_runs[key], change_runs[key]))
    for workload, runs in sorted(pairs.items()):
        if len(runs) < 2:
            out.append(f"{workload}: {len(runs)} pair(s); need at least 2")
            continue
        note = "" if len(runs) >= 10 else f" (only {len(runs)} pairs; the rules assume 10)"
        out.append(f"{workload}{note}")
        for name, m in metrics.items():
            p = [r[0][name] for r in runs]
            c = [r[1][name] for r in runs]
            v, wins = verdict(p, c, m["bound"], m["better"] == "lower")
            out.append(
                f"  {name:15s} parent {_fmt(p):32s} change {_fmt(c):32s} "
                f"wins {wins}/{len(runs)}  {v}"
            )
    return out


def spreads(runs: dict, metrics: dict) -> list[str]:
    out = []
    by_workload = defaultdict(list)
    for (workload, _seed), r in sorted(runs.items()):
        by_workload[workload].append(r)
    for workload, rs in sorted(by_workload.items()):
        out.append(f"{workload} ({len(rs)} runs)")
        for name, m in metrics.items():
            vals = [r[name] for r in rs]
            if len(vals) < 2:
                continue
            s = spread(vals)
            flag = "ok" if s <= m["bound"] / 3 else ("within bound" if s <= m["bound"] else "TOO WIDE")
            out.append(f"  {name:15s} {_fmt(vals):32s} spread {s:.3f} / bound {m['bound']}  {flag}")
    return out


def main(argv) -> int:
    if len(argv) not in (1, 2):
        print(__doc__, file=sys.stderr)
        return 2
    metrics = bounds()
    runs = [load_runs(p) for p in argv]
    lines = spreads(runs[0], metrics) if len(runs) == 1 else compare(runs[0], runs[1], metrics)
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

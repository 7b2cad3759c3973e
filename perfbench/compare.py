#!/usr/bin/env python3
"""Compare two sets of benchmark runs (parent vs change).

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds the per-run result files run.py writes to
.bench_build/results/ (<workload>-<seed>-<trace>.json); copy them aside
after running each commit. Untraced runs are compared; runs pair up by
workload and seed. For every workload and end-to-end metric the command
prints each side's median and quartiles, the share of pairs the change
wins, and a verdict:

  improved      the change wins at least 9 of 10 pairs (ties count for
                neither) and the medians differ, in the better direction, by
                more than the parent's inter-quartile distance
  within bound  the change's median is no worse than the parent's by more
                than the metric's bound, and the parent's own spread is
                within the bound (or every change run beats every parent run)
  regressed     the change's median is worse by more than the bound and the
                parent's spread is within the bound
  unresolved    anything else: the runs are too spread to tell
"""
import argparse
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def load(directory):
    """{workload: {seed: e2e metrics}} of the untraced runs in a directory."""
    runs = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as f:
            s = json.load(f)["summary"]
        if s["meta"].get("trace"):
            continue
        runs.setdefault(s["workload"], {})[s["meta"]["seed"]] = s["e2e"]
    return runs


def better(a, b, direction):
    """+1 when a is better than b, -1 when worse, 0 on a tie."""
    if a == b:
        return 0
    return 1 if (a < b) == (direction == "lower") else -1


def verdict(parent, change, direction, bound):
    """Verdict of one metric from paired parent/change values."""
    pq1, pmed, pq3 = stats.quartiles(parent)
    _, cmed, _ = stats.quartiles(change)
    wins = sum(1 for p, c in zip(parent, change) if better(c, p, direction) > 0)
    share = wins / len(parent)
    iqr = pq3 - pq1
    if share >= 0.9 and better(cmed, pmed, direction) > 0 and abs(cmed - pmed) > iqr:
        return "improved", share
    worse_by = (cmed - pmed) / pmed if direction == "lower" else (pmed - cmed) / pmed
    if direction == "lower":
        dominates = max(change) < min(parent)
    else:
        dominates = min(change) > max(parent)
    if dominates:
        return "within bound", share
    if stats.spread(parent) > bound:
        return "unresolved", share
    return ("within bound" if worse_by <= bound else "regressed"), share


def compare(parent_runs, change_runs, metrics):
    """Rows of (workload, metric, unit, parent quartiles, change quartiles,
    win share, verdict, pairs)."""
    rows = []
    for w in sorted(set(parent_runs) & set(change_runs)):
        seeds = sorted(set(parent_runs[w]) & set(change_runs[w]))
        if not seeds:
            continue
        for m in metrics:
            p = [parent_runs[w][s][m["name"]] for s in seeds]
            c = [change_runs[w][s][m["name"]] for s in seeds]
            v, share = verdict(p, c, m["better"], m["bound"])
            rows.append((w, m["name"], m["unit"], stats.quartiles(p),
                         stats.quartiles(c), share, v, len(seeds)))
    return rows


def main(argv=None):
    ap = argparse.ArgumentParser(description="parent vs change benchmark runs")
    ap.add_argument("parent")
    ap.add_argument("change")
    a = ap.parse_args(argv)
    with open(BENCHMARK) as f:
        metrics = json.load(f)["end_to_end"]
    rows = compare(load(a.parent), load(a.change), metrics)
    if not rows:
        print("no workload has runs with matching seeds on both sides")
        return 1
    fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
    print(f"{'workload':<8} {'metric':<16} {'unit':<5} {'parent median [q1, q3]':<30} "
          f"{'change median [q1, q3]':<30} {'wins':>5} {'pairs':>5}  verdict")
    for w, m, unit, pq, cq, share, v, n in rows:
        print(f"{w:<8} {m:<16} {unit:<5} {fmt(pq):<30} {fmt(cq):<30} {share:>5.0%} {n:>5}  {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

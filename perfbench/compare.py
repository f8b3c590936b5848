#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent commit and a change.

    python3 perfbench/compare.py PARENT_RUNS CHANGE_RUNS

Each argument is a directory searched recursively for run records, as
run.py writes them under perfbench/runs/. Runs of the two sides are paired
by workload, trace mode and seed. For each workload and metric the tool
prints each side's median and quartiles, how many pairs the change won, and
a verdict:

  better      the change wins at least 9 of 10 pairs and the medians differ
              by more than the parent's interquartile distance
  worse       the change's median is worse than the parent's by more than
              the metric's bound
  unresolved  fewer than MIN_PAIRS pairs were run, or a side's spread
              exceeds the bound and neither side beats every run of the other
  same        none of the above

Metrics without a bound (the per-layer ones) get better/same/unresolved
from the pair rule alone. Exit status 1 when any metric is worse.
"""
import json
import statistics
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import stats  # noqa: E402

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
METRICS = {m["name"]: m for m in SPEC["end_to_end"] + SPEC["per_layer"]}
# The pair rule needs 9 wins out of at least 10 pairs.
MIN_PAIRS = 10


def load(root):
    """{(workload, trace): {seed: {metric: value}}} for the run records under root."""
    out = {}
    for p in sorted(Path(root).rglob("*.json")):
        try:
            r = json.loads(p.read_text())
            key = (r["workload"], r["trace"])
            metrics = {k: v["value"] for k, v in r["result"]["metrics"].items()}
        except (ValueError, KeyError, TypeError):
            continue
        out.setdefault(key, {})[r["seed"]] = metrics
    return out


def verdict(parent, change, better, bound):
    """Verdict for one metric, given the values of paired runs."""
    sign = 1 if better == "higher" else -1
    wins = sum(sign * (c - p) > 0 for p, c in zip(parent, change))
    if len(parent) < MIN_PAIRS:
        return wins, "unresolved"
    pq1, pm, pq3 = stats.quartiles(parent)
    cm = statistics.median(change)
    gain = sign * (cm - pm)
    if wins >= 0.9 * len(parent) and gain > pq3 - pq1:
        return wins, "better"
    if bound is not None and -gain > bound * abs(pm):
        return wins, "worse"
    dominated = (min(sign * c for c in change) > max(sign * p for p in parent) or
                 max(sign * c for c in change) < min(sign * p for p in parent))
    if bound is not None and not dominated and max(stats.spread(parent),
                                                   stats.spread(change)) > bound:
        return wins, "unresolved"
    return wins, "same"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    worse = False
    for key in sorted(set(parent) & set(change)):
        seeds = sorted(set(parent[key]) & set(change[key]))
        if not seeds:
            continue
        workload, trace = key
        print(f"== {workload} ({'traced' if trace else 'untraced'}, {len(seeds)} pairs)")
        print(f"{'metric':32} {'parent q1/med/q3':>30} {'change q1/med/q3':>30}  wins  verdict")
        names = sorted(set.intersection(*(set(parent[key][s]) & set(change[key][s])
                                          for s in seeds)))
        for name in names:
            spec = METRICS.get(name, {})
            p = [parent[key][s][name] for s in seeds]
            c = [change[key][s][name] for s in seeds]
            wins, v = verdict(p, c, spec.get("better", "lower"), spec.get("bound"))
            worse |= v == "worse"
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{name:32} {fmt(stats.quartiles(p)):>30} {fmt(stats.quartiles(c)):>30}"
                  f"  {wins:>2}/{len(seeds):<2} {v}")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()

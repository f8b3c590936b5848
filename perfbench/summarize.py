#!/usr/bin/env python3
"""Summarize a set of benchmark runs per workload.

    python3 perfbench/summarize.py RUNS_DIR > summary.json

RUNS_DIR is searched recursively for the run records run.py writes. For
each workload the summary lists every untraced result, each end-to-end
metric's median and spread (interquartile distance over median, against the
metric's bound), the latest traced result with its self time per layer, and
the tracing overhead: traced wall_s over the untraced wall_s of the same
seed, minus one, for each seed run both ways.

Exit status 1, with the reasons on stderr, when a run was incorrect or had
failed steps, or when a per-layer metric of BENCHMARK.json reads zero in
the newest traced run of every workload (an instrument that measures
nothing).
"""
import json
import statistics
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import stats  # noqa: E402

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())


def silent_counters(traced_metrics, names):
    """The metric names that read zero (or are missing) in every one of
    traced_metrics, a list of {name: {"value": v}} taken one per workload."""
    return [n for n in names
            if not any(m.get(n, {}).get("value") for m in traced_metrics)]


def problems(records):
    """Why a set of run records does not make a valid baseline."""
    out = [f"{r['workload']} seed {r['seed']} trace {r['trace']}: "
           f"correct={r['result']['correct']} failed={r['result']['failed']}"
           for r in records if not r["result"]["correct"] or r["result"]["failed"]]
    newest = {}
    for r in records:
        if r["trace"]:
            newest[r["workload"]] = r
    if newest:
        silent = silent_counters([r["result"]["metrics"] for r in newest.values()],
                                 [m["name"] for m in SPEC["per_layer"]])
        out += [f"{n} reads zero in the newest traced run of every workload"
                for n in silent]
    return out


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    records = [json.loads(p.read_text()) for p in sorted(Path(sys.argv[1]).rglob("*.json"))]
    out = {"workloads": {}}
    for w in sorted({r["workload"] for r in records}):
        untraced = [r for r in records if r["workload"] == w and not r["trace"]]
        traced = [r for r in records if r["workload"] == w and r["trace"]]
        entry = {"untraced": [dict(seed=r["seed"], **r["result"]) for r in untraced]}
        spreads = {}
        for m in SPEC["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in untraced]
            if len(vals) >= 2:
                q1, med, q3 = stats.quartiles(vals)
                spreads[m["name"]] = {"n": len(vals), "median": med, "q1": q1, "q3": q3,
                                      "spread": (q3 - q1) / med, "bound": m["bound"]}
        entry["end_to_end"] = spreads
        if traced:
            t = traced[-1]
            entry["traced"] = dict(seed=t["seed"], **t["result"])
            entry["self_s"] = t["self_s"]
            # Host speed drifts over minutes, so the overhead is taken per
            # pair of runs of one seed, run back to back.
            wall = {r["seed"]: r["result"]["metrics"]["wall_s"]["value"] for r in untraced}
            pairs = {r["seed"]: r["trace_wall_s"] / wall[r["seed"]] - 1
                     for r in traced if r["seed"] in wall}
            if pairs:
                entry["tracing_overhead"] = {"by_seed": pairs,
                                             "median": statistics.median(pairs.values())}
        first = (untraced or traced)[0]
        entry["env"] = {k: first[k] for k in ("env", "fixture", "git_commit", "passes", "seconds")}
        out["workloads"][w] = entry
    json.dump(out, sys.stdout, indent=1, sort_keys=True)
    print()
    bad = problems(records)
    for b in bad:
        print(f"[summarize] {b}", file=sys.stderr)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Compare two sets of benchmark runs against BENCHMARK.json.

    python3 perfbench/compare.py parent.out change.out

Each file holds the standard output of several runs of one workload,
one after another. A run's result line (its last line) is read together
with the `# provenance` line the run printed before it. For every
end-to-end metric the change's median may be worse than the parent's by
at most the metric's `bound` (a share of the parent's median); a larger
worsening is a regression. The spread of each side (quartile distance
over median) is reported too: a metric whose spread exceeds its bound
cannot be resolved by this many runs.

Runs are compared only when their provenance allows it: every run of
both sides must share the workload, the host's and the run's cpus, the
JDK, Spark, heap, class-data sharing, the benchmark's own code and the
run length; and the runs of one side must share the program's code. A
run without provenance, or a mismatch, stops the comparison (exit 2).
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_bounds(path=None):
    path = path or os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"]: (m["better"], m["bound"]) for m in spec["end_to_end"]}


def spread(values):
    """Quartile distance as a share of the median (statistics.quantiles, n=4)."""
    if len(values) < 2:
        return 0.0
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def worsening(parent, change, better):
    """How much worse the change's median is, as a share of the parent's."""
    p, c = statistics.median(parent), statistics.median(change)
    if p == 0:
        return 0.0
    return (c - p) / p if better == "lower" else (p - c) / p


def compare(parent_runs, change_runs, bounds):
    """Per metric: medians, spreads, worsening and the verdict."""
    out = {}
    for name, (better, bound) in bounds.items():
        p = [r["metrics"][name]["value"] for r in parent_runs if name in r["metrics"]]
        c = [r["metrics"][name]["value"] for r in change_runs if name in r["metrics"]]
        if not p or not c:
            continue
        w = worsening(p, c, better)
        sp = max(spread(p), spread(c))
        verdict = "regressed" if w > bound else "ok"
        if verdict == "ok" and sp > bound:
            verdict = "unresolved"
        out[name] = {"parent_median": statistics.median(p), "change_median": statistics.median(c),
                     "worsening": w, "bound": bound, "spread": sp, "verdict": verdict}
    failed = [r for r in change_runs if not r.get("correct", False)]
    if failed:
        out["correct"] = {"verdict": "regressed", "incorrect_runs": len(failed)}
    return out


# provenance that must be equal across both sides, and within one side
SAME_HOST = ("workload", "cpus", "host_cpus", "jdk", "spark", "heap", "cds", "bench",
             "seconds", "traced")
SAME_SIDE = ("code",)


def provenance_problems(parent_runs, change_runs):
    """Why the two sets of runs cannot be compared ([] when they can)."""
    problems = []
    for side, runs in (("parent", parent_runs), ("change", change_runs)):
        if not runs:
            problems.append(f"{side}: no runs")
        for i, r in enumerate(runs):
            if "provenance" not in r:
                problems.append(f"{side} run {i}: no provenance line")
    if problems:
        return problems
    for side, runs in (("parent", parent_runs), ("change", change_runs)):
        for k in SAME_SIDE:
            vals = {json.dumps(r["provenance"].get(k)) for r in runs}
            if len(vals) > 1:
                problems.append(f"{side}: runs differ in {k}: {sorted(vals)}")
    for k in SAME_HOST:
        vals = {json.dumps(r["provenance"].get(k)) for r in parent_runs + change_runs}
        if len(vals) > 1:
            problems.append(f"runs differ in {k}: {sorted(vals)}")
    return problems


def read_runs(path):
    """Result lines of a file of run outputs, each with the provenance
    line printed before it."""
    runs, prov = [], None
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line.startswith("# provenance "):
                prov = json.loads(line[len("# provenance "):])
            elif line.startswith("{"):
                r = json.loads(line)
                if prov is not None:
                    r["provenance"] = prov
                runs.append(r)
                prov = None
    return runs


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    parent, change = read_runs(sys.argv[1]), read_runs(sys.argv[2])
    problems = provenance_problems(parent, change)
    if problems:
        print("not comparable:", *problems, sep="\n  ")
        sys.exit(2)
    res = compare(parent, change, load_bounds())
    for k, v in res.items():
        print(k, json.dumps(v))
    sys.exit(1 if any(v["verdict"] == "regressed" for v in res.values()) else 0)

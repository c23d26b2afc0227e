#!/usr/bin/env python3
"""Summarize or compare benchmark result files (pvbench/results/*.json).

    python3 pvbench/compare.py RESULTS            # one set: medians and spreads
    python3 pvbench/compare.py BASE NEW           # two sets: verdict per metric

RESULTS, BASE and NEW are directories of result files, or files. For each
workload and end-to-end metric this prints the median, the quartiles and the
spread (interquartile distance over the median), plus a tail pooled over every
step of every run: the highest order statistic with at least ten steps beyond
it. Comparing two sets, a metric is `worse` when NEW's median is worse than
BASE's by more than the metric's bound in BENCHMARK.json, `unresolved` when
BASE's own spread is wider than that bound, and `ok` otherwise. It also
prints how many steps failed their output check on each side; a gain does not
count when more fail than at the base. Per-layer counts from traced runs are
compared as exact medians.

Results taken at different core counts are never compared: the script exits
with code 2 if the sets mix host CPU counts (the processors the JVM could
use) or Spark task slots.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(paths):
    files = []
    for p in paths:
        files += sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
    return [json.load(open(f)) for f in files]


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def pooled_tail(runs):
    steps = sorted(s["seconds"] for r in runs for s in r["steps"] if not s["traced"])
    if len(steps) <= 10:
        return None, len(steps)
    return steps[len(steps) - 11], len(steps)


def failed_steps(runs):
    failed = sum(r["verdict"]["failed"] for r in runs)
    attempted = sum(r["verdict"]["attempted"] for r in runs)
    return f"{failed} of {attempted} steps failed their output check"


def by_workload(results, traced):
    out = {}
    for r in results:
        if r["trace"] == traced:
            out.setdefault(r["workload"], []).append(r)
    return out


def metric_values(runs, key):
    vals = {}
    for r in runs:
        for m in r[key]:
            vals.setdefault(m["name"], []).append(m["value"])
    return vals


def check_cores(*sets):
    cores = {(r["host"]["cores"], r["host"]["spark_cores"]) for s in sets for r in s}
    if len(cores) > 1:
        print("refusing to compare: results were taken at different core counts "
              f"(host cores, Spark slots) {sorted(cores)}", file=sys.stderr)
        sys.exit(2)


def main(argv):
    if len(argv) not in (1, 2):
        print(__doc__, file=sys.stderr)
        sys.exit(1)
    bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    spec = {m["name"]: m for m in bench["end_to_end"]}
    sets = [load([a]) for a in argv]
    check_cores(*sets)
    worse = 0
    base = by_workload(sets[0], False)
    new = by_workload(sets[1], False) if len(sets) == 2 else {}
    for wl in sorted(base):
        bv = metric_values(base[wl], "end_to_end")
        nv = metric_values(new.get(wl, []), "end_to_end")
        print(f"== {wl} ({len(base[wl])} runs" + (f" vs {len(new.get(wl, []))}" if new else "") + ")")
        for name, m in spec.items():
            if name not in bv:
                continue
            q1, med, q3 = quartiles(bv[name])
            spread = (q3 - q1) / med if med else float("inf")
            line = f"  {name:18s} median {med:12.5f} {m['unit']:5s} q1 {q1:12.5f} q3 {q3:12.5f} spread {spread:6.3f} (bound {m['bound']})"
            if name in nv:
                _, nmed, _ = quartiles(nv[name])
                change = (nmed - med) / med if m["better"] == "lower" else (med - nmed) / med
                verdict = "unresolved" if spread > m["bound"] else ("worse" if change > m["bound"] else "ok")
                worse += verdict == "worse"
                line += f" | new {nmed:12.5f} worse-by {change:+.3f} {verdict}"
            print(line)
        line = "  checks             " + failed_steps(base[wl])
        if wl in new:
            line += " | new " + failed_steps(new[wl])
        print(line)
        tail, n = pooled_tail(base[wl])
        if tail is not None:
            line = f"  pooled tail        {tail:12.5f} s     over {n} steps"
            if wl in new:
                nt, nn = pooled_tail(new[wl])
                if nt is not None:
                    line += f" | new {nt:12.5f} over {nn} steps"
            print(line)
    tb = by_workload(sets[0], True)
    tn = by_workload(sets[1], True) if len(sets) == 2 else {}
    for wl in sorted(tb):
        bl = metric_values(tb[wl], "per_layer")
        nl = metric_values(tn.get(wl, []), "per_layer")
        print(f"== {wl} per-layer ({len(tb[wl])} traced runs)")
        for name, xs in bl.items():
            line = f"  {name:28s} {statistics.median(xs):16.4f}"
            if name in nl:
                line += f" | new {statistics.median(nl[name]):16.4f}"
            print(line)
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main(sys.argv[1:])

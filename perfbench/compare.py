#!/usr/bin/env python3
"""Compare two sets of benchmark results, per workload and metric.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds the saved standard output of runs of
``perfbench/run.py`` (one file per run). A run is identified by its
``# stamp`` line (workload, seed, trace) and its last line (the JSON
result). Runs of the two sets are paired by workload and seed; a set
that holds two runs of one workload and seed is refused.

For every workload and metric it prints each side's median and
quartiles, the spread (interquartile distance over the median) and a
verdict by the rule of the choosing-metrics guide, section 8, checked
in this order:

* ``unresolved`` -- a side's spread exceeds the bound, unless every run
  of the change reads better than every run of the parent;
* ``better`` -- the change wins at least 9/10 of the pairs (ties count
  for neither) and the medians differ by more than the parent's
  interquartile distance;
* ``worse`` -- the change's median is worse than the parent's by more
  than the metric's bound (end-to-end metrics only);
* ``same`` -- none of the above.

Exits 1 when any end-to-end metric is ``worse`` or ``unresolved``.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = {}
    for name in sorted(os.listdir(d)):
        lines = open(os.path.join(d, name)).read().splitlines()
        stamps = [l for l in lines if l.startswith("# stamp ")]
        if not stamps or not lines or not lines[-1].startswith("{"):
            continue
        st = json.loads(stamps[-1][len("# stamp "):])
        res = json.loads(lines[-1])
        key = (st["workload"], st["trace"])
        if st["seed"] in runs.get(key, {}):
            sys.exit(f"{d}/{name}: a second run of {key[0]} with seed {st['seed']}")
        runs.setdefault(key, {})[st["seed"]] = res
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    a, b = load(sys.argv[1]), load(sys.argv[2])
    bad = False
    print(f"{'workload':15s} {'metric':30s} {'parent q1/med/q3':>32s} {'change q1/med/q3':>32s}"
          f" {'spread':>13s} {'wins':>6s}  verdict")
    for key in sorted(set(a) & set(b)):
        ra, rb = a[key], b[key]
        seeds = sorted(set(ra) & set(rb))
        pairs = [(ra[s], rb[s]) for s in seeds] if seeds else list(zip(ra.values(), rb.values()))
        names = sorted(set().union(*(r["metrics"] for r in ra.values())))
        for m in names:
            xa = [r["metrics"][m]["value"] for r in ra.values() if m in r["metrics"]]
            xb = [r["metrics"][m]["value"] for r in rb.values() if m in r["metrics"]]
            if not xa or not xb:
                continue
            info = spec.get(m, {})
            lower = info.get("better", "lower") == "lower"
            bound = info.get("bound")
            qa, qb = quartiles(xa), quartiles(xb)
            sa = (qa[2] - qa[0]) / abs(qa[1]) if qa[1] else 0.0
            sb = (qb[2] - qb[0]) / abs(qb[1]) if qb[1] else 0.0
            better = lambda x, y: x < y if lower else x > y
            wins = sum(1 for pa, pb in pairs if m in pa["metrics"] and m in pb["metrics"]
                       and better(pb["metrics"][m]["value"], pa["metrics"][m]["value"]))
            gap = qb[1] - qa[1]
            worse_by = (gap if lower else -gap) / abs(qa[1]) if qa[1] else 0.0
            if bound is not None and max(sa, sb) > bound and not \
                    all(better(y, x) for x in xa for y in xb):
                verdict = "unresolved"
            elif pairs and wins >= 0.9 * len(pairs) and abs(gap) > qa[2] - qa[0] and \
                    better(qb[1], qa[1]):
                verdict = "better"
            elif bound is not None and worse_by > bound:
                verdict = "worse"
            else:
                verdict = "same"
            if bound is not None and verdict in ("worse", "unresolved"):
                bad = True
            wl = f"{key[0]}{'' if key[1] == 0 else ' (trace)'}"
            print(f"{wl:15s} {m:30s} {qa[0]:10.4g} {qa[1]:10.4g} {qa[2]:10.4g} "
                  f"{qb[0]:10.4g} {qb[1]:10.4g} {qb[2]:10.4g} {sa:6.3f}/{sb:6.3f} "
                  f"{wins:3d}/{len(pairs):<2d}  {verdict}"
                  + (f" (bound {bound})" if bound is not None else ""))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

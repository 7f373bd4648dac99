#!/usr/bin/env python3
"""Compare two sets of benchmark results: a parent commit and a change.

    python3 perfbench/compare.py PARENT CHANGE

PARENT and CHANGE are result files written by run.py (the .json files
under .bench_build/perfbench/results/), or directories or glob patterns of
them. Run both sides with the same seeds and --seconds, alternating which
side runs first.

Per workload and per metric it prints each side's median and quartiles,
and the change's win fraction over pairs (runs paired by seed, else in
order; ties count for neither side). Verdicts, with the bounds of
BENCHMARK.json (metrics outside it, such as the medallion-only ones, take
the largest end-to-end bound):

  REGRESSION  the change's median is worse than the parent's by more than
              the bound;
  unresolved  the parent's own spread (quartile distance / median) is wider
              than the bound, and not every change run beats every parent
              run;
  gain        the change wins at least 9 of 10 pairs and the medians
              differ by more than the parent's quartile distance;
  flat        none of the above.

Traced runs (--trace 1) are compared per layer (medians only), and the
tracing overhead of each side is reported when it has traced and untraced
runs of a workload. The exit code is 1 if any metric regressed.
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.getcwd()
# run bookkeeping stored beside the metrics in "extra"; not compared
BOOKKEEPING = {"passes", "batches", "samples", "samples_above_p90", "timed_s"}


def load(spec):
    if os.path.isdir(spec):
        spec = os.path.join(spec, "*.json")
    files = sorted(f for f in glob.glob(spec) if not f.endswith(".trace.json"))
    out = []
    for f in files:
        with open(f) as fh:
            out.append(json.load(fh))
    return out


def quartiles(v):
    if len(v) == 1:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def pairs(a, b):
    by_seed = {r["seed"]: r for r in b}
    matched = [(r, by_seed[r["seed"]]) for r in a if r["seed"] in by_seed]
    return matched if len(matched) == min(len(a), len(b)) else list(zip(a, b))


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    default_bound = max(m["bound"] for m in bench["end_to_end"])
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    if not parent or not change:
        sys.exit("no result files on one side")
    regressed = False
    for w in sorted({r["workload"] for r in parent} & {r["workload"] for r in change}):
        p0 = [r for r in parent if r["workload"] == w and r["trace"] == 0]
        c0 = [r for r in change if r["workload"] == w and r["trace"] == 0]
        print(f"\n== {w}: {len(p0)} parent / {len(c0)} change untraced runs")
        if p0 and c0:
            print(f"{'metric':22s} {'parent q1/med/q3':>32s} {'change q1/med/q3':>32s} "
                  f"{'wins':>6s}  verdict")
            names = list(p0[0]["end_to_end"]) + \
                [k for k in p0[0]["extra"] if k not in BOOKKEEPING]
            for name in names:
                sec = "end_to_end" if name in p0[0]["end_to_end"] else "extra"
                pv = [r[sec][name] for r in p0 if r[sec].get(name) is not None]
                cv = [r[sec][name] for r in c0 if r[sec].get(name) is not None]
                if not pv or not cv:
                    continue
                m = spec.get(name, {})
                higher = m.get("better") == "higher"
                bound = m.get("bound", default_bound)
                pq, cq = quartiles(pv), quartiles(cv)
                better = (lambda c, p: c > p) if higher else (lambda c, p: c < p)
                ps = [(pr[sec][name], cr[sec][name]) for pr, cr in pairs(p0, c0)]
                wins = sum(better(c, p) for p, c in ps) / len(ps)
                worse = (pq[1] - cq[1]) if higher else (cq[1] - pq[1])
                spread = (pq[2] - pq[0]) / pq[1] if pq[1] else 0.0
                if worse > bound * abs(pq[1]):
                    verdict = "REGRESSION"
                    regressed = regressed or sec == "end_to_end"
                elif spread > bound and not all(better(c, p) for c in cv for p in pv):
                    verdict = "unresolved"
                elif wins >= 0.9 and abs(cq[1] - pq[1]) > pq[2] - pq[0]:
                    verdict = "gain"
                else:
                    verdict = "flat"
                fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
                print(f"{name:22s} {fmt(pq):>32s} {fmt(cq):>32s} {wins:6.2f}  "
                      f"{verdict} (bound {bound})")
        p1 = [r for r in parent if r["workload"] == w and r["trace"] == 1]
        c1 = [r for r in change if r["workload"] == w and r["trace"] == 1]
        for side, t1, t0 in (("parent", p1, p0), ("change", c1, c0)):
            if t1 and t0:
                traced = statistics.median(r["end_to_end"]["op_p50_s"] for r in t1)
                plain = statistics.median(r["end_to_end"]["op_p50_s"] for r in t0)
                print(f"tracing overhead ({side}): op_p50_s {traced / plain - 1:+.3f}")
        if p1 and c1:
            print(f"{'per-layer metric':34s} {'parent median':>14s} {'change median':>14s}")
            for name in p1[0]["per_layer"]:
                pm = statistics.median(r["per_layer"][name] for r in p1)
                cm = statistics.median(r["per_layer"][name] for r in c1)
                if pm or cm:
                    print(f"{name:34s} {pm:14.4g} {cm:14.4g}")
    sys.exit(1 if regressed else 0)


if __name__ == "__main__":
    main()

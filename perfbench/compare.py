#!/usr/bin/env python3
"""Summarises sets of benchmark runs recorded by perfbench/sweep.py.

    python3 perfbench/compare.py SET            spread of one set
    python3 perfbench/compare.py PARENT CHANGE  verdict per workload and metric

A set is a directory holding <workload>/s<seed>.json, each file the JSON
line one run printed. With one set, prints per workload and end-to-end
metric the median, the quartiles and the quartile spread as a share of
the median, next to the metric's bound from BENCHMARK.json. With two sets,
prints both sides' medians and quartiles and a verdict:

  better      the change wins at least 9 of 10 seed-paired runs (ties
              count for neither) and the medians differ by more than the
              parent's quartile spread;
  worse       the change's median is worse than the parent's by more than
              the bound;
  unresolved  neither; "in bound" says whether the change's median is
              within the bound of the parent's, and a parent spread wider
              than the bound is flagged "spread > bound".

Rows are per workload. Exit code 1 when any verdict is worse.
"""
import glob
import json
import os
import statistics
import sys


def load_set(d):
    runs = {}
    for f in sorted(glob.glob(os.path.join(d, "*", "s*.json"))):
        w = os.path.basename(os.path.dirname(f))
        seed = int(os.path.basename(f)[1:-5])
        with open(f) as fh:
            r = json.load(fh)
        runs.setdefault(w, {})[seed] = {k: v["value"] for k, v in r["metrics"].items()}
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med else float("inf")


def metrics_of(bench):
    return {m["name"]: m for m in bench["end_to_end"]}


def report_one(runs, ms):
    print(f"{'workload':<12} {'metric':<14} {'n':>3} {'median':>12} {'q1':>12} "
          f"{'q3':>12} {'spread':>8} {'bound':>6}")
    for w, by_seed in sorted(runs.items()):
        for name, m in ms.items():
            xs = [r[name] for r in by_seed.values() if name in r]
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            sp = spread(xs)
            flag = "" if sp < m["bound"] / 3 else ("  > bound/3" if sp <= m["bound"]
                                                   else "  > bound")
            print(f"{w:<12} {name:<14} {len(xs):>3} {med:>12.6g} {q1:>12.6g} "
                  f"{q3:>12.6g} {sp:>8.3f} {m['bound']:>6}{flag}")


def verdict(parent, change, m):
    seeds = sorted(set(parent) & set(change))
    p = [parent[s] for s in seeds]
    c = [change[s] for s in seeds]
    lower = m["better"] == "lower"
    q1, pmed, q3 = quartiles(list(parent.values()))
    _, cmed, _ = quartiles(list(change.values()))
    wins = sum(1 for a, b in zip(p, c) if (b < a if lower else b > a))
    worse_by = (cmed - pmed) / pmed if lower else (pmed - cmed) / pmed
    in_bound = worse_by <= m["bound"]
    if seeds and wins >= 0.9 * len(seeds) and abs(cmed - pmed) > (q3 - q1) and \
            (cmed < pmed if lower else cmed > pmed):
        v = "better"
    elif not in_bound:
        v = "worse"
    else:
        v = "unresolved"
    wide = (q3 - q1) / pmed > m["bound"] if pmed else True
    return v, wins, len(seeds), in_bound, wide


def report_two(prun, crun, ms):
    print(f"{'workload':<12} {'metric':<14} {'parent q1/med/q3':>32} "
          f"{'change q1/med/q3':>32} {'wins':>6}  verdict")
    any_worse = False
    for w in sorted(set(prun) | set(crun)):
        for name, m in ms.items():
            ps = {s: r[name] for s, r in prun.get(w, {}).items() if name in r}
            cs = {s: r[name] for s, r in crun.get(w, {}).items() if name in r}
            if not ps or not cs:
                print(f"{w:<12} {name:<14} missing on one side")
                continue
            v, wins, n, in_bound, wide = verdict(ps, cs, m)
            any_worse |= v == "worse"
            fmt = "{:>10.4g}/{:>10.4g}/{:>10.4g}"
            notes = ("in bound" if in_bound else "out of bound") + \
                (", spread > bound" if wide else "")
            print(f"{w:<12} {name:<14} {fmt.format(*quartiles(list(ps.values())))} "
                  f"{fmt.format(*quartiles(list(cs.values())))} {wins:>3}/{n:<2}  "
                  f"{v} ({notes})")
    return any_worse


def main(argv):
    if len(argv) not in (2, 3):
        raise SystemExit(__doc__)
    with open("BENCHMARK.json") as f:
        ms = metrics_of(json.load(f))
    if len(argv) == 2:
        report_one(load_set(argv[1]), ms)
        return 0
    return 1 if report_two(load_set(argv[1]), load_set(argv[2]), ms) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

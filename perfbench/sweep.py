#!/usr/bin/env python3
"""Runs the benchmark over seeds and records each run's JSON line.

    python3 perfbench/sweep.py --out DIR [--seeds 1-10] [--workloads a,b]
                               [CHECKOUT ...]

With no CHECKOUT (or one), runs the current directory (or that checkout)
into DIR/<workload>/s<seed>.json.
With two checkouts (parent first, change second), runs both on every seed,
alternating which side goes first, into DIR/parent/... and DIR/change/...;
then `python3 perfbench/compare.py DIR/parent DIR/change` gives the verdicts.
Run length is BENCHMARK.json's run_seconds on both sides.
"""
import argparse
import json
import os
import subprocess
import sys


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(checkout, workload, seed, seconds, dest):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        print(f"run failed ({checkout} {workload} seed {seed}):\n{r.stderr[-2000:]}",
              file=sys.stderr)
        return
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    with open(dest, "w") as f:
        f.write(lines[-1] + "\n")
    print(f"{checkout} {workload} s{seed}: {lines[-1]}", flush=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("checkouts", nargs="*")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else \
        [w["name"] for w in bench["workloads"]]
    if len(a.checkouts) > 2:
        raise SystemExit("at most two checkouts: parent and change")
    sides = [((a.checkouts or ["."])[0], a.out)] if len(a.checkouts) < 2 else \
        list(zip(a.checkouts, [os.path.join(a.out, "parent"), os.path.join(a.out, "change")]))
    for i, seed in enumerate(seeds_of(a.seeds)):
        for w in workloads:
            order = sides if i % 2 == 0 else sides[::-1]
            for checkout, dest in order:
                run_one(checkout, w, seed, bench["run_seconds"],
                        os.path.join(dest, w, f"s{seed}.json"))


if __name__ == "__main__":
    main()

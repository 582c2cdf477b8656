#!/usr/bin/env python3
"""Steadiness check for the benchmark.

    python3 perfbench/steady.py [--workloads a,b] [--runs 10] [--sets 1|2]
                                [--seed0 100] [--seconds S]

Runs `run.py` `--runs` times per workload, each with another seed, and
reports for every end-to-end metric its median, quartiles and spread
(the distance between the quartiles as a share of the median, from
`statistics.quantiles(values, n=4)`) against the metric's bound in
BENCHMARK.json. The target is a spread under a third of the bound. A
spread over the bound makes the set fail, except for `setup_s`: its
spread is printed and flagged but does not fail the set, because
set-up time is gated on its median only. With `--sets 2` it runs a
second set with fresh seeds and also reports whether the second median
is worse than the first by more than the bound: two sets of runs of
the same code must agree. Runs execute one at a time. A summary is
written to `.bench_results/steady.json`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: float) -> dict:
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-2000:] + r.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} failed ({r.returncode})")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        print(f"  {workload} seed {seed}: INCORRECT ({res['failed']}/{res['attempted']} failed)")
    return res


def spread(values: list) -> tuple:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main() -> int:
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    a = ap.parse_args()
    bounds = {m["name"]: (m["bound"], m["better"]) for m in bench["end_to_end"]}
    summary, ok = {}, True
    for w in a.workloads.split(","):
        sets = []
        for s in range(a.sets):
            vals = {m: [] for m in bounds}
            for i in range(a.runs):
                seed = a.seed0 + 1000 * s + i
                res = run_once(w, seed, a.seconds)
                ok &= res["correct"]
                for m in bounds:
                    vals[m].append(res["metrics"][m]["value"])
                print(f"  {w} set {s + 1} seed {seed}: " + ", ".join(
                    f"{m}={vals[m][-1]:.4g}" for m in bounds), flush=True)
            sets.append(vals)
        summary[w] = {}
        print(f"\n{w}: metric, median, q1, q3, spread, bound"
              + (", set2/set1" if a.sets == 2 else ""))
        for m, (bound, better) in bounds.items():
            med, q1, q3, sp = spread(sets[0][m])
            row = {"median": med, "q1": q1, "q3": q3, "spread": sp, "bound": bound,
                   "values": [st[m] for st in sets]}
            flag = ""
            if sp > bound:
                flag = "spread over bound (not gated)" if m == "setup_s" else "SPREAD OVER BOUND"
                ok &= m == "setup_s"
            elif sp > bound / 3:
                flag = "spread over bound/3"
            if a.sets == 2:
                med2 = statistics.median(sets[1][m])
                worse = (med2 - med) / med if better == "lower" else (med - med2) / med
                row["second_median"], row["second_worse_by"] = med2, worse
                if worse > bound:
                    flag, ok = (flag + " SETS DISAGREE").strip(), False
            summary[w][m] = row
            print(f"  {m:20s} {med:12.5g} {q1:12.5g} {q3:12.5g} {sp:8.4f} {bound:6.3f}"
                  + (f" {row['second_worse_by']:+8.4f}" if a.sets == 2 else "") + f"  {flag}")
    os.makedirs(os.path.join(ROOT, ".bench_results"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_results", "steady.json"), "w") as f:
        json.dump(summary, f, indent=1)
    print("\nsteady" if ok else "\nNOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

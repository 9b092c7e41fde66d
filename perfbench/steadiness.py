#!/usr/bin/env python3
"""Steadiness check: runs every workload repeatedly, a new seed each time,
alternating the order of the workloads from round to round, and reports each
end-to-end metric's median, quartiles and spread (the distance between the
quartiles as a share of the median). With --sets 2 the rounds alternate
between two sets, and it also reports how far the second set's median lies
from the first's. The bounds in BENCHMARK.json come from these figures.

  python3 perfbench/steadiness.py --runs 10 [--sets 2] [--workloads a,b]
                                  [--out steadiness.json]

Run from the root of a checkout, like run.py.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed} failed:\n{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    calib = next((ln for ln in lines if ln.startswith("calibration_ms")), "")
    print(f"{workload} seed={seed} correct={res['correct']} {calib}", flush=True)
    return res


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "values": values}


def main():
    spec = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1, choices=[1, 2])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--out", default="")
    a = ap.parse_args()
    workloads = a.workloads.split(",")
    got = {(s, w): [] for s in range(a.sets) for w in workloads}
    for i in range(a.runs):
        for s in range(a.sets):
            order = workloads if (i + s) % 2 == 0 else workloads[::-1]
            for w in order:
                res = run(w, a.seed0 + i, spec["run_seconds"])
                got[(s, w)].append(res)
    report = {}
    for w in workloads:
        report[w] = {}
        for m in spec["end_to_end"]:
            n = m["name"]
            sets = [summary([r["metrics"][n]["value"] for r in got[(s, w)]]) for s in range(a.sets)]
            entry = {"bound": m["bound"], "sets": sets}
            if a.sets == 2:
                entry["median_shift"] = sets[1]["median"] / sets[0]["median"] - 1
            report[w][n] = entry
            shift = f" shift {entry['median_shift']:+.3f}" if a.sets == 2 else ""
            spreads = " / ".join("%.3f" % x["spread"] for x in sets)
            print(f"{w:15s} {n:14s} median {sets[0]['median']:10.4f} spread {spreads} "
                  f"bound {m['bound']}{shift}")
        fails = {(r["failed"], r["attempted"]) for s in range(a.sets) for r in got[(s, w)]}
        report[w]["failed_share"] = sorted({f / t for f, t in fails})
    if a.out:
        json.dump(report, open(a.out, "w"), indent=1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Steadiness check for the benchmark.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workload NAME ...]
                                [--first-seed 1] [--out FILE]

Runs every workload (or the ones named) ``--runs`` times per set, each run
with its own seed, for ``--sets`` sets. For each end-to-end metric it
prints the median and quartiles of each set (``statistics.quantiles(n=4)``)
and the spread: quartile distance over median. It fails (exit 1) when a
spread exceeds the metric's bound in BENCHMARK.json, when a later set's
median differs from the first set's (in either direction) by more than the
bound, or when a run fails or reports an incorrect result. Run from the
root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    took = time.time() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1]), took


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    ok, report = True, {}
    seed = args.first_seed
    for w in workloads:
        sets = []
        for s in range(args.sets):
            vals = {k: [] for k in bounds}
            for _ in range(args.runs):
                res, took = run_once(w, seed, bench["run_seconds"])
                print(f"{w} set {s + 1} seed {seed}: {took:.1f} s, correct "
                      f"{res['correct']}, failed {res['failed']}/{res['attempted']}",
                      flush=True)
                if not res["correct"] or res["failed"]:
                    ok = False
                for k in bounds:
                    vals[k].append(res["metrics"][k]["value"])
                seed += 1
                if args.out:  # keep what has been measured if a later run fails
                    with open(args.out, "w") as f:
                        json.dump(report | {"current": {w: vals}}, f, indent=1)
            sets.append({k: summary(v) | {"values": v} for k, v in vals.items()})
            report[w] = sets
        for k, m in bounds.items():
            first = sets[0][k]
            for i, st in enumerate(s[k] for s in sets):
                diff = (st["median"] - first["median"]) / first["median"]
                flag = ""
                if st["spread"] > m["bound"]:
                    flag += " SPREAD>BOUND"
                if abs(diff) > m["bound"]:
                    flag += " MEDIANS-DIFFER"
                if flag:
                    ok = False
                print(f"  {w:<14} {k:<16} set {i + 1}: median {st['median']:.4f} "
                      f"q1 {st['q1']:.4f} q3 {st['q3']:.4f} spread {st['spread']:.4f} "
                      f"(bound {m['bound']}, third {m['bound'] / 3:.4f}) "
                      f"vs set 1 {diff:+.4f}{flag}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    print("steady" if ok else "NOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

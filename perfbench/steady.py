#!/usr/bin/env python3
"""Steadiness check for the benchmark.

Usage (from the root of a checkout):
    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workloads a,b]

Runs the benchmark command from BENCHMARK.json `--runs` times per workload
and set, each run with its own seed, plus one traced run per workload and
set. For every end-to-end metric it prints the median and quartiles
(`statistics.quantiles(values, n=4)`) and the spread, the quartile distance
as a share of the median. It checks that each spread stays within the
metric's bound and, with two sets, that the second set's
median is not worse than the first's by more than the bound. It also
prints `trace.overhead_frac` from the traced runs. Exits 1 if a check
fails or a run reports incorrect results or failed queries.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(cmd, workload, seed, seconds, trace):
    args = cmd + ["--workload", workload, "--seed", str(seed),
                  "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(args, cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"run failed: {' '.join(args)} (exit {p.returncode})")
    res = json.loads(lines[-1])
    good = res["correct"] and not res["failed"]
    if not good:
        checked = next((l for l in lines if l.startswith("results checked")), "")
        print(f"  INCORRECT: {workload} seed {seed}: correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']}; {checked}")
    return {k: v["value"] for k, v in res["metrics"].items()}, good


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3, (q3 - q1) / q2 if q2 else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=[1, 2], default=2)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--no-trace", action="store_true")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [w["name"] for w in bench["workloads"]]
    if a.workloads:
        names = [n for n in a.workloads.split(",") if n]
    metrics = bench["end_to_end"]
    ok = True
    for w in names:
        medians = []
        for s in range(a.sets):
            seeds = [a.seed0 + 1000 * s + i for i in range(a.runs)]
            results = [run_once(bench["command"], w, seed, bench["run_seconds"], 0)
                       for seed in seeds]
            runs = [r for r, _ in results]
            ok = ok and all(g for _, g in results)
            print(f"\n{w} set {s + 1} (seeds {seeds[0]}..{seeds[-1]})")
            print(f"  {'metric':20} {'median':>12} {'q1':>12} {'q3':>12} "
                  f"{'spread':>8} {'bound':>6}")
            med = {}
            for m in metrics:
                q1, q2, q3, sp = spread([r[m["name"]] for r in runs])
                med[m["name"]] = q2
                flag = ""
                if sp > m["bound"]:
                    flag, ok = "SPREAD > BOUND", False
                elif sp > m["bound"] / 3:
                    flag = "spread > bound/3"
                print(f"  {m['name']:20} {q2:12.4f} {q1:12.4f} {q3:12.4f} "
                      f"{sp:8.3f} {m['bound']:6.2f} {flag}")
            medians.append(med)
            if not a.no_trace:
                t, good = run_once(bench["command"], w, seeds[-1] + 500,
                                   bench["run_seconds"], 1)
                ok = ok and good
                print(f"  traced run: trace.overhead_frac {t['trace.overhead_frac']:.4f}, "
                      f"warm pass {t['trace.warm_pass_s']:.3f}s traced vs "
                      f"{t['trace.untraced_warm_pass_s']:.3f}s untraced")
        if len(medians) == 2:
            for m in metrics:
                a1, a2 = medians[0][m["name"]], medians[1][m["name"]]
                worse = (a2 - a1) / a1 if m["better"] == "lower" else (a1 - a2) / a1
                verdict = "ok" if worse <= m["bound"] else "WORSE THAN BOUND"
                ok = ok and worse <= m["bound"]
                print(f"  {w} {m['name']:20} set1 {a1:10.4f} set2 {a2:10.4f} "
                      f"change {worse:+.3f} (bound {m['bound']}) {verdict}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

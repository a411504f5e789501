#!/usr/bin/env python3
"""Steadiness check: run each workload as sets of runs, separated in time,
and print each end-to-end metric's median, quartiles, spread and the gap
between the sets' medians, next to the pure-JVM calibration loop each
run logs (it moves with the host, not the engine).

    python3 perfbench/steady.py --runs 10 --sets 2 --gap 120

Spread is (Q3 - Q1) / median over one set, with the quartiles of
statistics.quantiles(values, n=4); gap is (median of set k - median of
set 1) / median of set 1. Both are held against the metric's bound in
BENCHMARK.json (setup_s is exempt from the spread test). Every run's
result line is appended to --log as JSON, so a check can be re-read.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: run failed ({p.returncode})")
    result = json.loads(lines[-1])
    calib = re.findall(r"calibration_ms \[([0-9.]+), ([0-9.]+)\]", p.stderr)
    result["calibration_ms"] = [float(x) for x in calib[-1]] if calib else None
    result["wall_s"] = time.time() - t0
    return result


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--runs", type=int, default=10, help="runs per workload and set")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--gap", type=float, default=120, help="seconds between sets")
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--seed", type=int, default=1, help="first seed")
    ap.add_argument("--log", default=os.path.join(ROOT, ".bench_build", "steady.jsonl"))
    args = ap.parse_args()
    workloads = args.workloads.split(",")
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    os.makedirs(os.path.dirname(args.log), exist_ok=True)

    results = {}  # (set, workload) -> [result]
    for s in range(args.sets):
        if s:
            time.sleep(args.gap)
        for w in workloads:
            for i in range(args.runs):
                seed = args.seed + i
                r = one_run(w, seed, args.seconds)
                results.setdefault((s, w), []).append(r)
                with open(args.log, "a") as f:
                    f.write(json.dumps({"set": s, "workload": w, "seed": seed, **r}) + "\n")
                print(f"set {s + 1} {w} seed {seed}: " + ", ".join(
                    f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
                    + f" ({r['wall_s']:.0f} s)", file=sys.stderr, flush=True)

    ok = True
    for w in workloads:
        print(f"\n{w}")
        for s in range(args.sets):
            rs = results[(s, w)]
            calib = [r["calibration_ms"][0] for r in rs if r["calibration_ms"]]
            share = sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs)
            wall = sum(r["wall_s"] for r in rs) / len(rs)
            print(f"  set {s + 1}: calibration median {statistics.median(calib):.1f} ms, "
                  f"failed share {share:.4f}, correct {all(r['correct'] for r in rs)}, "
                  f"mean wall {wall:.1f} s/run")
            ok &= all(r["correct"] for r in rs)
        print(f"  {'metric':18} {'set':>3} {'median':>11} {'Q1':>11} {'Q3':>11}"
              f" {'spread':>7} {'gap':>7} {'bound':>6}")
        for m in bounds:
            base = None
            for s in range(args.sets):
                xs = [r["metrics"][m]["value"] for r in results[(s, w)]]
                q1, med, q3 = quartiles(xs)
                spread = (q3 - q1) / med
                base = med if base is None else base
                gap = (med - base) / base
                flag = ""
                if m != "setup_s" and spread > bounds[m]:
                    flag += " SPREAD>BOUND"
                if gap > bounds[m]:
                    flag += " GAP>BOUND"
                ok &= not flag
                print(f"  {m:18} {s + 1:>3} {med:>11.4g} {q1:>11.4g} {q3:>11.4g}"
                      f" {spread:>7.3f} {gap:>+7.3f} {bounds[m]:>6.3f}{flag}")
    print("\nsteady" if ok else "\nNOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Steadiness check: runs each workload with seeds 1 to 10 and prints,
for every end-to-end metric, the median, the quartiles and the spread
(interquartile distance over the median) against the metric's bound in
BENCHMARK.json. With --traced N it also makes N traced runs per workload
and reports the tracing overhead: the traced median of each end-to-end
metric against the untraced one.

Run from the root of a checkout:

    python3 perfbench/steady.py --traced 3 --out perfbench/results/steady.json
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

RUNS = 10


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited with {p.returncode}")
    lines = p.stdout.strip().splitlines()
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    return detail, result, time.time() - t0


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--out", default="")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    e2e = spec["end_to_end"]
    report = {"runs": RUNS, "seconds": spec["run_seconds"], "workloads": {}}
    for w in (w["name"] for w in spec["workloads"]):
        seeds = range(1, RUNS + 1)
        rows, walls, host, failed = {m["name"]: [] for m in e2e}, [], None, 0
        for s in seeds:
            detail, result, wall = run(w, s, spec["run_seconds"], 0)
            host = detail["host"]
            walls.append(wall)
            failed += result["failed"]
            for m in e2e:
                rows[m["name"]].append(result["metrics"][m["name"]]["value"])
            print(f"{w} seed {s}: {wall:.1f} s wall, correct={result['correct']}", file=sys.stderr)
        traced = {m["name"]: [] for m in e2e}
        for s in seeds[:args.traced]:
            detail, _, wall = run(w, s, spec["run_seconds"], 1)
            for m in e2e:
                traced[m["name"]].append(detail["all_metrics"][m["name"]]["value"])
        out = {"host": host, "failed": failed, "wall_s_median": statistics.median(walls),
               "metrics": {}}
        print(f"\n== {w}: {RUNS} runs, {failed} failed ops, "
              f"median wall {statistics.median(walls):.1f} s, host {host}")
        print(f"{'metric':14} {'median':>11} {'q1':>11} {'q3':>11} {'spread':>7} "
              f"{'bound':>6} {'ok':>3}" + (f" {'traced':>11} {'overhead':>8}" if args.traced else ""))
        for m in e2e:
            xs = rows[m["name"]]
            q1, med, q3 = quartiles(xs)
            spread = (q3 - q1) / med if med else float("inf")
            ok = spread <= m["bound"]
            rec = {"unit": m["unit"], "values": xs, "median": med, "q1": q1, "q3": q3,
                   "spread": spread, "bound": m["bound"], "within_bound": ok,
                   "within_third": spread <= m["bound"] / 3}
            line = (f"{m['name']:14} {med:11.4f} {q1:11.4f} {q3:11.4f} {spread:7.3f} "
                    f"{m['bound']:6.2f} {'yes' if ok else 'NO':>3}")
            if traced[m["name"]]:
                tmed = statistics.median(traced[m["name"]])
                rec["traced_median"] = tmed
                rec["tracing_overhead"] = tmed / med - 1 if med else None
                line += f" {tmed:11.4f} {rec['tracing_overhead']:+8.3f}"
            out["metrics"][m["name"]] = rec
            print(line)
        report["workloads"][w] = out
    if args.out:
        os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()

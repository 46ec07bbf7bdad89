#!/usr/bin/env python3
"""Runs the benchmark over several seeds and summarizes each metric.

Usage:
  python3 perfbench/sweep.py --workload serve --seeds 1-10 [--trace 1] \
      [--seconds 8] [--out results.jsonl]

Runs one seed after another (never two at once, so runs do not share the
host), appends each run's result line, tagged with workload and seed, to
--out, and prints per metric the median, the quartiles and the spread:
the distance between the first and third quartile as a share of the
median (statistics.quantiles(values, n=4)).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(results):
    rows = {}
    for r in results:
        for name, m in r["metrics"].items():
            rows.setdefault(name, []).append(m["value"])
    out = {}
    for name, values in rows.items():
        med = statistics.median(values)
        q = statistics.quantiles(values, n=4) if len(values) > 1 else [med, med, med]
        out[name] = {"median": med, "q1": q[0], "q3": q[2],
                     "spread": (q[2] - q[0]) / med if med else 0.0, "n": len(values)}
    return out


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    p.add_argument("--seconds", type=float, default=8)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out")
    args = p.parse_args()
    results = []
    for seed in seeds(args.seeds):
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True)
        if r.returncode != 0:
            raise SystemExit(f"seed {seed}: run failed with {r.returncode}")
        res = json.loads(r.stdout.strip().splitlines()[-1])
        res.update(workload=args.workload, seed=seed)
        results.append(res)
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps(res) + "\n")
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']}",
              flush=True)
    for name, s in summarize(results).items():
        print(f"{name:32s} median {s['median']:14.4f}  q1 {s['q1']:14.4f}  "
              f"q3 {s['q3']:14.4f}  spread {s['spread']:.3f}")


if __name__ == "__main__":
    main()

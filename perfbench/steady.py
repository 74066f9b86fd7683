#!/usr/bin/env python3
"""Steadiness check: run each workload N times with different seeds and
print, per end-to-end metric, the median, the quartiles and the spread
(Q3 - Q1) / median against the metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--workloads a,b] [--seconds S]

Run i uses seed i (1, 2, ...). A spread above a third of its bound is
marked ``WIDE``; above the bound, ``OVER``.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for w in a.workloads.split(","):
        runs = []
        for i in range(a.runs):
            seed = i + 1
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"]
            p = subprocess.run(cmd,
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            if p.returncode != 0 or not line:
                print(f"{w} seed {seed}: run failed ({p.returncode})")
                continue
            r = json.loads(line)
            runs.append(r)
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
            print(f"{w} seed {seed}: correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} {vals}", flush=True)
        if len(runs) < 2:
            continue
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            mark = "OVER" if spread > bound else "WIDE" if spread > bound / 3 else "ok"
            print(f"  {w:10s} {name:18s} median={med:.4g} q1={q1:.4g} q3={q3:.4g} "
                  f"spread={spread:.3f} bound={bound} {mark}", flush=True)


if __name__ == "__main__":
    main()

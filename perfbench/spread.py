#!/usr/bin/env python3
"""Runs the benchmark over several seeds and reports each metric's spread.

Usage (from the root of a checkout):

    python3 perfbench/spread.py --workloads build live --seeds 1-10 \
        --seconds 4 [--trace 0] [--out spread.json]

For every workload and end-to-end metric it prints the median, the first
and third quartile (statistics.quantiles, n=4) and their distance as a
share of the median, next to the metric's bound in BENCHMARK.json. The
raw values of every run go to --out as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import benchlib  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    secs = a.seconds if a.seconds is not None else spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    runs = {}
    for w in a.workloads:
        runs[w] = []
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(secs), "--trace", str(a.trace)],
                               cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            if p.returncode != 0:
                print(f"{w} seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                sys.exit(1)
            res = json.loads(p.stdout.strip().splitlines()[-1])
            res["seed"], res["wall_s"] = s, wall
            runs[w].append(res)
            print(f"{w} seed {s}: {wall:.1f} s, correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']}", flush=True)
    print()
    print(f"{'workload':8s} {'metric':34s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'iqr/med':>8s} {'bound':>6s}")
    for w, rs in runs.items():
        for name in rs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in rs]
            med = statistics.median(vals)
            if len(vals) >= 2:
                q = statistics.quantiles(vals, n=4)
                share = benchlib.iqr_share(vals) if med else float("nan")
            else:
                q, share = [med, med, med], float("nan")
            b = bounds.get(name)
            print(f"{w:8s} {name:34s} {med:12.6g} {q[0]:12.6g} {q[2]:12.6g} {share:8.3f} "
                  f"{'' if b is None else b:>6}")
        walls = [r["wall_s"] for r in rs]
        print(f"{w:8s} {'(run wall s)':34s} {statistics.median(walls):12.6g} "
              f"{min(walls):12.6g} {max(walls):12.6g}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(runs, f, indent=1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Runs each workload on several seeds and reports each metric's spread.

    python3 perfbench/steadiness.py --runs 10 --seconds 15 --first-seed 1

The spread of a metric is the distance between the first and third
quartile of its values (`statistics.quantiles(values, n=4)`) as a share of
their median, the figure a metric's bound in BENCHMARK.json must exceed.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf"), med


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    for w in ("runner_mixed", "runner_live", "catalog"):
        values = {}
        for i in range(a.runs):
            seed = a.first_seed + i
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(a.seconds),
                                "--trace", "0"],
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            wall = time.time() - t0
            if p.returncode != 0:
                sys.stderr.write(p.stderr[-3000:])
                raise SystemExit("%s seed %d failed" % (w, seed))
            r = json.loads(p.stdout.strip().splitlines()[-1])
            print("%s seed %d: %.0f s, correct=%s %s" % (
                w, seed, wall, r["correct"],
                {k: v["value"] for k, v in r["metrics"].items()}), flush=True)
            for k, v in r["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print("%s spread over %d runs:" % (w, a.runs))
        for k, vs in values.items():
            s, med = spread(vs)
            print("  %-14s median %12.4f  spread %.3f" % (k, med, s))
        sys.stdout.flush()


if __name__ == "__main__":
    main()

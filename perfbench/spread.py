#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, as the acceptance check
computes it: N runs of one workload with seeds 1..N, then for each metric
the distance between the first and third quartile
(statistics.quantiles(values, n=4)) as a share of the median.

    python3 perfbench/spread.py <workload> [runs] [seconds]
"""
import json
import statistics
import subprocess
import sys

w = sys.argv[1]
runs = int(sys.argv[2]) if len(sys.argv) > 2 else 10
secs = sys.argv[3] if len(sys.argv) > 3 else "18"
vals = {}
for seed in range(1, runs + 1):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                        "--seed", str(seed), "--seconds", secs, "--trace", "0"],
                       capture_output=True, text=True)
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert last["correct"], p.stdout[-2000:]
    for n, m in last["metrics"].items():
        vals.setdefault(n, []).append(m["value"])
    print(seed, {n: round(m["value"], 4) for n, m in last["metrics"].items()},
          flush=True)
for n, v in vals.items():
    q1, med, q3 = statistics.quantiles(v, n=4)
    print(f"{w} {n}: median {statistics.median(v):.4g} "
          f"spread {(q3 - q1) / statistics.median(v):.3f}")

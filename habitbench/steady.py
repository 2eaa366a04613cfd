#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Usage (from the repository root):
  python3 habitbench/steady.py <workload> <first_seed> <runs> [seconds] [trace]

Runs the workload once per seed and prints, for each metric, the median
and the quartile spread (Q3 - Q1) / median over the runs, the statistic
BENCHMARK.json's bounds apply to, plus each run's wall time.
"""
import json
import statistics
import subprocess
import sys
import time

workload, first, runs = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
seconds = sys.argv[4] if len(sys.argv) > 4 else "12"
trace = sys.argv[5] if len(sys.argv) > 5 else "0"
values, walls = {}, []
for seed in range(first, first + runs):
    t = time.time()
    p = subprocess.run(["python3", "habitbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", seconds, "--trace", trace],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    for l in p.stderr.splitlines():
        if l.startswith("[habitbench]"):
            print("  " + l, flush=True)
    walls.append(time.time() - t)
    line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    r = json.loads(line) if line.startswith("{") else {}
    shown = " ".join(f"{k}={v['value']:.4g}" for k, v in r.get("metrics", {}).items()
                     if trace == "0")
    print(f"seed {seed}: exit {p.returncode} correct {r.get('correct')} "
          f"attempted {r.get('attempted')} failed {r.get('failed')} "
          f"wall {walls[-1]:.1f}s {shown}", flush=True)
    for k, v in r.get("metrics", {}).items():
        values.setdefault(k, []).append(v["value"])
for k, vs in values.items():
    med = statistics.median(vs)
    if len(vs) >= 2 and med:
        q = statistics.quantiles(vs, n=4)
        print(f"{k:40s} median {med:12.4f}  spread {(q[2] - q[0]) / med:7.3f}")
    else:
        print(f"{k:40s} median {med:12.4f}")
print(f"wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")

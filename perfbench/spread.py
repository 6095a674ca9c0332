#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --seeds 1 2 3 4 5 6 7 8 9 10 [--workloads boost_fit]

Runs ``run.py`` once per workload and seed (untraced, ``run_seconds`` from
BENCHMARK.json), then prints for each end-to-end metric the median, the
quartiles, and the spread (third minus first quartile, as a share of the
median) next to the metric's bound.  A metric is steady when its spread stays
below a third of its bound.  Raw results are appended to ``perfbench/.work/spread.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    args = p.parse_args()
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    log = os.path.join(HERE, ".work", "spread.jsonl")
    worst = 0.0
    for workload in args.workloads:
        values: dict = {m["name"]: [] for m in bench["end_to_end"]}
        walls = []
        for seed in args.seeds:
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                   "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            walls.append(time.perf_counter() - t0)
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            with open(log, "a") as f:
                f.write(json.dumps({"workload": workload, "seed": seed, "wall_s": walls[-1],
                                    "exit": proc.returncode, **result}) + "\n")
            if not result["correct"]:
                print(f"{workload} seed {seed}: {result['failed']} failed operations", file=sys.stderr)
            for name, m in result["metrics"].items():
                values[name].append(m["value"])
        print(f"{workload}: {len(args.seeds)} runs, wall median {statistics.median(walls):.1f}s "
              f"max {max(walls):.1f}s")
        for m in bench["end_to_end"]:
            xs = values[m["name"]]
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            flag = "" if spread < m["bound"] / 3 else "  <-- above bound/3"
            worst = max(worst, spread / m["bound"])
            print(f"  {m['name']:<12} median {med:12.4f} q1 {q1:12.4f} q3 {q3:12.4f} "
                  f"spread {spread:6.3f} bound {m['bound']}{flag}")
    print(f"worst spread / bound: {worst:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

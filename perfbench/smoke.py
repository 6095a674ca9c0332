#!/usr/bin/env python3
"""Harness smoke test: every workload, one operation, untraced and traced.

    python3 perfbench/smoke.py

Runs ``run.py --scale smoke --max-ops 1`` (sf0.001-sized inputs) for each
workload with ``--trace 0`` and ``--trace 1`` and fails if a run exits
non-zero, reports a wrong output, misses any metric named in
``BENCHMARK.json``, or did not run its correctness gate on every operation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402  (argument parsing and constants only; no Spark at import)

# Checks against a reference computed outside the library under test.
REFERENCE_CHECKS = {"numpy_combine", "duckdb_oracle"}


def expected_metrics(trace: int) -> set:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"] for m in bench["per_layer" if trace else "end_to_end"]}


def main() -> int:
    problems = []
    for workload in run.WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                   "--seed", "1", "--seconds", "1", "--trace", str(trace),
                   "--scale", "smoke", "--max-ops", "1"]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            tag = f"{workload} trace={trace}"
            before = len(problems)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
                continue
            result = json.loads(lines[-1])
            missing = expected_metrics(trace) - set(result["metrics"])
            if missing:
                problems.append(f"{tag}: missing metrics {sorted(missing)}")
            if not result["correct"] or result["failed"]:
                problems.append(f"{tag}: {result['failed']} of {result['attempted']} operations failed")
            record_line = [ln for ln in lines if ln.startswith("  record: ")]
            with open(record_line[-1].split(": ", 1)[1]) as f:
                record = json.load(f)
            unchecked = [r["op"] for r in record["operations"] if not r.get("checks")]
            if unchecked:
                problems.append(f"{tag}: correctness gate did not run for {unchecked}")
            if not REFERENCE_CHECKS & set(record["operations"][0].get("checks", ())):
                problems.append(f"{tag}: the cold operation skipped its reference check")
            status = "ok" if len(problems) == before else "FAILED"
            print(f"{tag}: {status} ({result['attempted']} ops, {len(result['metrics'])} metrics)")
    for p in problems:
        print("FAIL " + p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Tiny-size smoke run of every workload, untraced and traced.

    python3 perfbench/smoke.py

Runs ``run.py --tiny`` for each workload in ``BENCHMARK.json`` with
``--trace 0`` and ``--trace 1`` and fails unless each run exits 0, reports a
correct result with no failures, and prints every metric ``BENCHMARK.json``
names for that mode, with its declared unit.  Takes a few minutes: each run
starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(bench: dict, workload: str, trace: int) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", str(trace), "--tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    where = f"{workload} trace={trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}: {proc.stderr[-2000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"{where}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        problems.append(f"{where}: correct={result['correct']} failed={result['failed']} "
                        f"attempted={result['attempted']}")
    declared = bench["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    for metric in declared:
        name, unit = metric["name"], metric["unit"]
        if name not in got:
            problems.append(f"{where}: missing {name}")
        elif got[name]["unit"] != unit or not isinstance(got[name]["value"], (int, float)):
            problems.append(f"{where}: {name} = {got[name]}, want unit {unit}")
    extra = set(got) - {m["name"] for m in declared}
    if extra:
        problems.append(f"{where}: undeclared metrics {sorted(extra)}")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for w in bench["workloads"]:
        for trace in (0, 1):
            found = check(bench, w["name"], trace)
            print(f"{w['name']} trace={trace}: {'ok' if not found else 'FAIL'}", flush=True)
            problems += found
    for p in problems:
        print(p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

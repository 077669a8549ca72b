#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on tiny seeded inputs.

    python3 perfbench/smoke.py

Runs every workload once untraced and once traced with `--size tiny`
(a thousand rows, 120 documents) and asserts that each run
exits 0, passes every check, and prints every metric BENCHMARK.json lists,
each with its unit, both as a `metric` line and in the final JSON line.
Exits 1 on the first problem.
"""
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []
    for wl in (w["name"] for w in spec["workloads"]):
        for trace, listed in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", wl, "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            tag = f"{wl} trace={trace}"
            if proc.returncode != 0:
                problems.append(f"{tag}: exit {proc.returncode}: {proc.stderr[-2000:]}")
                continue
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            printed = {l.split()[1]: l.split()[3] for l in lines if l.startswith("metric ")}
            if not (result["correct"] and result["failed"] == 0 and result["attempted"] > 0):
                problems.append(f"{tag}: checks failed: " +
                                "; ".join(l for l in lines if l.startswith("FAILED")))
            for m in listed:
                got = result["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"] or printed.get(m["name"]) != m["unit"]:
                    problems.append(f"{tag}: metric {m['name']} missing or not in {m['unit']}")
            print(f"{tag}: {len(result['metrics'])} metrics, "
                  f"{result['attempted']} operations, {result['failed']} failed")
    for p in problems:
        print("SMOKE FAILED " + p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()

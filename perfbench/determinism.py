#!/usr/bin/env python3
"""Counter-determinism check for the benchmark.

Usage (from the repository root):
    python3 perfbench/determinism.py [--seed N] [--workload NAME ...]

Runs each workload traced twice with the same seed and compares every
per-layer job, task and shuffle-record count; prints the ones that
differ (and any report hash that differs) and exits 1 if any do. Then runs it once untraced and prints the
tracing overhead on cycle_s (traced minus untraced, as a share).
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
COUNTS = (".jobs", ".tasks", ".shuffle_records", ".lookup_jobs", ".lookup_tasks")


def run(workload, seed, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "5", "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, check=True).stdout.strip().splitlines()[-1]
    if trace:
        with open(os.path.join(BUILD, "traces", f"{workload}-seed{seed}.metrics.json"),
                  encoding="utf-8") as f:
            return json.load(f)
    return {"end_to_end": json.loads(out)["metrics"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workload", nargs="*", default=["claims", "operator-surface"])
    a = ap.parse_args()
    bad = 0
    for w in a.workload:
        first, second = run(w, a.seed, 1), run(w, a.seed, 1)
        names = [n for n in first["per_layer"] if n.endswith(COUNTS)]
        diff = [(n, first["per_layer"][n]["value"], second["per_layer"][n]["value"])
                for n in names
                if first["per_layer"][n]["value"] != second["per_layer"][n]["value"]]
        print(f"{w}: {len(names)} counters compared, {len(diff)} differ")
        for n, x, y in diff:
            print(f"  {n}: {x} != {y}")
        bad += len(diff)
        if first["report_hashes"] != second["report_hashes"]:
            print(f"  report hashes differ: {first['report_hashes']} != {second['report_hashes']}")
            bad += 1
        plain = run(w, a.seed, 0)["end_to_end"]["cycle_s"]["value"]
        traced = [r["end_to_end"]["cycle_s"]["value"] for r in (first, second)]
        over = (sum(traced) / 2 - plain) / plain
        print(f"  tracing overhead on cycle_s: {over:+.1%} "
              f"(traced {traced[0]:.2f}/{traced[1]:.2f} s, untraced {plain:.2f} s)")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

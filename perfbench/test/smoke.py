#!/usr/bin/env python3
"""Smoke test of the benchmark harness itself.

Runs every workload in BENCHMARK.json once untraced and once traced at the
sf0.001 shape (run.py --smoke) with the output checks on, and fails unless
each run exits 0, reports correct outputs, and prints exactly the metrics
BENCHMARK.json lists for its mode.

Usage: python3 perfbench/test/smoke.py
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    expected = {0: {m["name"] for m in bench["end_to_end"]},
                1: {m["name"] for m in bench["per_layer"]}}
    failures = []
    for w in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            cmd = bench["command"] + ["--workload", w, "--seed", "7", "--seconds", "2",
                                      "--trace", str(trace), "--smoke"]
            r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            lines = r.stdout.strip().splitlines()
            label = f"{w} --trace {trace}"
            try:
                res = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                failures.append(f"{label}: exit {r.returncode}, no result line: {r.stderr[-400:]}")
                continue
            got = set(res["metrics"])
            problems = []
            if r.returncode != 0 or not res["correct"] or res["failed"]:
                problems.append(f"exit {r.returncode}, correct={res['correct']}, failed={res['failed']}")
            if got != expected[trace]:
                problems.append(f"missing {sorted(expected[trace] - got)}, extra {sorted(got - expected[trace])}")
            if res["attempted"] < 1:
                problems.append("nothing attempted")
            print(f"{'FAIL' if problems else 'ok  '} {label}: {res['attempted']} attempted"
                  + (f" — {'; '.join(problems)}" if problems else ""), flush=True)
            failures += [f"{label}: {p}" for p in problems]
    for f in failures:
        print("FAIL " + f, file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

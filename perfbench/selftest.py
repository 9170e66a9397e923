#!/usr/bin/env python3
"""Checks that the benchmark fails loudly.

    python3 perfbench/selftest.py

Runs a short `tiles` benchmark whose second op is made to throw and
asserts that the failure is counted (failed = 1, correct = false), that it
is recorded with its error and without a timing, that only successful ops
are timed, and that the command exits non-zero. Then checks that the command refuses to run when the engine's
sources are missing, without printing a result. Exit 0 when all hold.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd, *extra):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", "tiles", "--seed", "7", "--seconds", "1",
           "--trace", "0", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)


def main():
    errors = []

    p = run(ROOT, "--fail-op", "2")
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    if p.returncode == 0:
        errors.append("a failing op did not make the command exit non-zero")
    if result.get("failed") != 1 or result.get("correct") is not False:
        errors.append(f"failure not counted in the result line: {result}")
    with open(os.path.join(ROOT, ".bench_build", "perfbench",
                           "record-tiles-seed7-trace0.json")) as fh:
        record = json.load(fh)
    failures = record["failures"]
    if [f["op"] for f in failures] != [2] or "injected" not in failures[0]["error"]:
        errors.append(f"failure not recorded with its error: {failures}")
    ops = record["ops"]
    if ops[1]["seconds"] is not None:
        errors.append(f"the failed op was recorded with a timing: {ops[1]}")
    timed = record["metrics"]["ops_timed"]["value"]
    steady_ok = sum(1 for o in ops if o["round"] > 0 and not o["error"])
    if timed != steady_ok:
        errors.append(f"{timed} ops timed, but {steady_ok} steady ops "
                      "succeeded")

    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    q = run(bare)
    shutil.rmtree(bare)
    if q.returncode == 0 or q.stdout.strip():
        errors.append("ran without the engine's sources: "
                      f"exit {q.returncode}, stdout {q.stdout!r}")

    for e in errors:
        print(f"FAIL: {e}")
    print("selftest:", "FAILED" if errors else "ok")
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()

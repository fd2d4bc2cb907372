#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at a tiny corpus size,
untraced and traced.

    python3 perfbench/smoke.py

Asserts that each run prints every metric BENCHMARK.json names, with its
unit, that every answer matched the oracle (``failed`` is 0, so the
error rate is 0), and that the benchmark refuses to run from a directory
holding only BENCHMARK.json and perfbench/. Prints each workload's
traced-vs-untraced operation median (the tracing overhead at this size).
Takes a few minutes; run it on an otherwise idle machine.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY_CONVS = "120"


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--convs", TINY_CONVS],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def check(out: subprocess.CompletedProcess, wanted: list[dict], what: str) -> dict:
    if out.returncode != 0:
        raise AssertionError(f"{what}: exit {out.returncode}\n{out.stderr[-3000:]}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        raise AssertionError(f"{what}: result keys {sorted(res)}")
    if not (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1):
        raise AssertionError(f"{what}: {res['failed']}/{res['attempted']} failed\n{out.stderr[-3000:]}")
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    want = {m["name"]: m["unit"] for m in wanted}
    if got != want:
        raise AssertionError(f"{what}: metrics/units differ: {set(got.items()) ^ set(want.items())}")
    for k, v in res["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            raise AssertionError(f"{what}: {k} is not a number")
    return res


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, HERE)
    from run import DEFAULT_CONVS  # every workload, including those not in BENCHMARK.json

    for name in sorted(DEFAULT_CONVS):
        plain = check(run(ROOT, name, 0), spec["end_to_end"], f"{name} --trace 0")
        traced = check(run(ROOT, name, 1), spec["per_layer"], f"{name} --trace 1")
        for m in spec["end_to_end"]:
            if plain["metrics"][m["name"]]["value"] == 0:
                raise AssertionError(f"{name}: end-to-end metric {m['name']} is 0")
        base = plain["metrics"]["op_p50_ms"]["value"]
        with_trace = traced["metrics"]["trace.op_p50_ms"]["value"]
        print(f"{name}: ok; op_p50_ms {base:.1f} untraced, {with_trace:.1f} traced "
              f"({100.0 * (with_trace / base - 1):+.1f}% tracing overhead at {TINY_CONVS} convs)")

    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    out = run(bare, sorted(DEFAULT_CONVS)[0], 0)
    shutil.rmtree(bare, ignore_errors=True)
    if out.returncode == 0 or out.stdout.strip():
        raise AssertionError("run.py succeeded without the package beside it")
    print("bare directory: refused as expected")
    return 0


if __name__ == "__main__":
    sys.exit(main())

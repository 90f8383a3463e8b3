#!/usr/bin/env python3
"""Smoke test for the benchmark: every workload once at a tiny size.

    python3 perfbench/smoke_test.py

Run it from the root of a checkout. For each workload in BENCHMARK.json it
runs perfbench/run.py with --size tiny, untraced and traced, and checks
that the result has every end-to-end (resp. per-layer) metric with the
declared unit, that every output check passed (correct, failed == 0), and
that attempted >= 1. Exits non-zero on the first failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--size", "tiny"]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, check=False)
    if out.returncode != 0:
        raise AssertionError(f"{workload} trace={trace}: exit {out.returncode}")
    return json.loads(out.stdout.decode().strip().splitlines()[-1])


def check(result, expected, label):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, \
        f"{label}: keys {sorted(result)}"
    assert result["correct"] is True and result["failed"] == 0, \
        f"{label}: output checks failed: {result}"
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1, label
    got = result["metrics"]
    for m in expected:
        assert m["name"] in got, f"{label}: missing metric {m['name']}"
        assert got[m["name"]]["unit"] == m["unit"], \
            f"{label}: {m['name']} unit {got[m['name']]['unit']} != {m['unit']}"
        assert isinstance(got[m["name"]]["value"], (int, float)), label
    assert len(got) == len(expected), \
        f"{label}: unexpected metrics {sorted(set(got) - {m['name'] for m in expected})}"


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in spec["workloads"]:
        for trace, metrics in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            label = f"{w['name']} trace={trace}"
            check(run(w["name"], trace), metrics, label)
            print(f"ok  {label}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Tiny-size self-check of the benchmark.

Runs every workload at the tiny input size with tracing off and on, and
asserts that each run exits 0, passes its gate, and prints every metric
BENCHMARK.json names with the declared unit. Then checks that the
planted-error gate trips when one planted error is removed from the
manifest (and passes with the manifest intact).

Usage (from the repository root): python3 perfbench/selfcheck.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def check_run(workload, trace, declared):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", str(trace),
                        "--size", "tiny"], cwd=ROOT, capture_output=True, text=True)
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-2000:]}"
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
    for m in declared:
        got = res["metrics"].get(m["name"])
        assert got is not None, f"{workload} trace={trace}: {m['name']} missing"
        assert got["unit"] == m["unit"], f"{m['name']}: unit {got['unit']} != {m['unit']}"
        assert isinstance(got["value"], (int, float)), f"{m['name']}: {got['value']!r}"
    print(f"ok: {workload} trace={trace} prints {len(declared)} metrics with units")


def check_gate_trips():
    work = os.path.join(run.BUILD, "submission-batch")
    with open(os.path.join(work, "input", "manifest.json")) as f:
        manifest = json.load(f)
    gate = os.path.join(work, "gate")
    assert run.gate_submissions(gate, manifest) == [], "gate fails on the intact manifest"
    sub, planted = sorted(manifest.items())[0]
    short = dict(manifest)
    short[sub] = planted[1:]
    assert run.gate_submissions(gate, short) == [sub], "gate passes with a planted error missing"
    print(f"ok: the gate trips when {planted[0]} is removed from the manifest")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in run.WORKLOADS:
        check_run(w, 0, bench["end_to_end"])
        check_run(w, 1, bench["per_layer"])
    check_gate_trips()


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Steadiness check: runs the benchmark once per seed and reports, for every
end-to-end metric, the median and the spread (interquartile range over
median, from statistics.quantiles(values, n=4)) against its bound in
BENCHMARK.json.

Usage (from the repository root):
  python3 perfbench/spread.py --workload <name> [--seeds 1-10] [--out file.json]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a = ap.parse_args()
    lo, hi = map(int, a.seeds.split("-"))
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    values = {m["name"]: [] for m in bench["end_to_end"]}
    runs = []
    for seed in range(lo, hi + 1):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            a.workload, "--seed", str(seed), "--seconds",
                            str(bench["run_seconds"]), "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines else {}
        info = json.loads(lines[-2])["perfbench"] if len(lines) > 1 else {}
        runs.append({"seed": seed, "rc": p.returncode, "result": res,
                     "wall_s": info.get("wall_s")})
        print(f"seed {seed}: rc={p.returncode} wall={info.get('wall_s')} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res.get("metrics", {}).items()),
              flush=True)
        for k, v in res.get("metrics", {}).items():
            values[k].append(v["value"])
    print()
    for m in bench["end_to_end"]:
        vs = values[m["name"]]
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med
        print(f"{m['name']:20s} median={statistics.median(vs):10.4g} spread={spread:.3f} "
              f"bound={m['bound']} {'OK' if spread <= m['bound'] else 'OVER'}")
    if a.out:
        json.dump({"workload": a.workload, "runs": runs, "values": values},
                  open(a.out, "w"), indent=1)


if __name__ == "__main__":
    main()

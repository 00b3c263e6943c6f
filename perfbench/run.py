#!/usr/bin/env python3
"""graft benchmark: one closed-loop client on a local[nproc] Spark session.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads are listed in WORKLOADS below and described in perfbench/README.md.
The command builds the engine and the harness from source on first use
(sbt, offline), generates the workload's inputs from --seed, runs the JVM
harness, checks the outputs (planted-error manifest or DuckDB oracle) and
prints one JSON object as its last line:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see BENCHMARK.json). A failed operation or gate makes the
command exit 1 after printing the result.
"""
import argparse
import contextlib
import csv
import glob
import hashlib
import importlib.util
import io
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_submission  # noqa: E402
import gen_tables  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

# Input sizes per workload. "tiny" is the self-check size.
WORKLOADS = {
    "submission-batch": {"kind": "submission", "rows": 200, "subs": 1},
    "query-mix": {"kind": "tables", "sf": 0.01},
}
TINY = {"submission": {"rows": 30}, "tables": {"sf": 0.001}}
JVM_BUDGET_S = 165

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    files = []
    for pattern in ("build.sbt", "project/build.properties", "src/main/**/*",
                    "perfbench/build.sbt", "perfbench/project/build.properties",
                    "perfbench/src/**/*"):
        files += [f for f in glob.glob(os.path.join(ROOT, pattern), recursive=True)
                  if os.path.isfile(f)]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt when sources changed; returns the
    runtime classpath."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            rec = json.load(f)
        if rec.get("digest") == digest:
            return rec["classpath"], digest
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    log("building engine and harness with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=840)
    with open(os.path.join(BUILD, "build.log"), "w") as f:
        f.write(p.stdout + p.stderr)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip() and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"build failed (see {BUILD}/build.log)")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    log(f"built in {time.time() - t0:.1f}s")
    return cp, digest


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def make_inputs(spec, seed, input_dir):
    shutil.rmtree(input_dir, ignore_errors=True)
    os.makedirs(input_dir)
    if spec["kind"] == "submission":
        _, rows = gen_submission.generate(input_dir, seed, spec["rows"], spec["subs"])
        return rows
    gen_tables.generate(input_dir, seed, spec["sf"])
    return 0


def run_jvm(classpath, args, work, budget_s):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xmx4g", f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
              f"-Dderby.system.home={work}",
              "-cp", classpath, "graftbench.Main"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"harness exceeded {budget_s:.0f}s (see {work}/jvm.log)")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"harness exited {rc}:\n{tail}")


def read_error_files(sub_dir):
    """(sheet, Row_Index, Column_Name) of every row in the *_Errors.csv files."""
    got = set()
    for part in glob.glob(os.path.join(sub_dir, "*_Errors.csv", "*.csv")):
        with open(part, newline="") as f:
            for row in csv.DictReader(f):
                got.add((row["CSV_Sheet_Name"], int(row["Row_Index"]), row["Column_Name"]))
    return got


def gate_submissions(gate_dir, manifest):
    """Names of submissions whose reported errors differ from the manifest."""
    bad = []
    for sub, planted in sorted(manifest.items()):
        want = {(s, int(r), c) for s, r, c in planted}
        got = read_error_files(os.path.join(gate_dir, sub))
        if got != want:
            log(f"{sub}: missing {sorted(want - got)[:5]} unexpected {sorted(got - want)[:5]}")
            bad.append(sub)
    return bad


def gate_oracle(sf_dir, gate_dir, queries):
    """Names of queries whose results differ from the DuckDB oracle, using
    tools/check_oracle.py unchanged."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        mod.main(sf_dir, gate_dir)
    passed = {ln.split()[1] for ln in buf.getvalue().splitlines() if ln.startswith("PASS ")}
    for ln in buf.getvalue().splitlines():
        if ln.startswith("FAIL "):
            log(ln[:300])
    return [q for q in queries if q not in passed]


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="tiny: self-check inputs")
    a = ap.parse_args(argv)
    t_start = time.time()
    for need in ("build.sbt", "src/main/scala", "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"not a graft checkout: {need} is missing under {ROOT}")

    classpath, digest = build()
    t_built = time.time()  # a run may take 180 s, plus its build on first use
    spec = dict(WORKLOADS[a.workload])
    if a.size == "tiny":
        spec.update(TINY[spec["kind"]])
    work = os.path.join(BUILD, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "input")
    t_gen = time.time()
    rows = make_inputs(spec, a.seed, input_dir)
    log(f"inputs generated in {time.time() - t_gen:.1f}s")

    nproc = os.cpu_count() or 1
    budget = JVM_BUDGET_S - (time.time() - t_built)
    run_jvm(classpath, ["--workload", a.workload, "--input", input_dir, "--work", work,
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--cpus", str(nproc), "--rows", str(rows),
                        "--as-of", gen_submission.AS_OF], work, budget)
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)

    if spec["kind"] == "submission":
        with open(os.path.join(input_dir, "manifest.json")) as f:
            manifest = json.load(f)
        gate_failed = gate_submissions(res["gate_dir"], manifest)
    else:
        with open(os.path.join(res["gate_dir"], "oracle_sql.json")) as f:
            queries = sorted(json.load(f))
        gate_failed = gate_oracle(input_dir, res["gate_dir"], queries)
        names = {op.split(":")[0] for op in res["errors"]}
        gate_failed = [q for q in gate_failed if q not in names]
    for e in res["errors"]:
        log(f"operation failed: {e[:300]}")

    attempted = res["attempted"]
    failed = res["failed"] + len(gate_failed)
    info = {"workload": a.workload, "seed": a.seed, "size": a.size, "spec": spec,
            "nproc": nproc, "commit": git_commit(), "source_digest": digest,
            "conf": res["conf"], "passes": res["passes"],
            "pass_seconds": res["pass_seconds"],
            "gate_failed": gate_failed, "wall_s": round(time.time() - t_start, 1)}
    print(json.dumps({"perfbench": info}))
    metrics = res["end_to_end"] if a.trace == 0 else res["per_layer"]
    if a.trace == 1:
        metrics["failed_frac"] = {"value": failed / max(1, attempted), "unit": "ratio"}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its result.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run compiles the program and
the benchmark (perfbench/build.py). The last line of standard output is
one JSON object with the keys correct, attempted, failed and metrics. The
exit code is 0 only when the run finished and its output checks passed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["serve", "ingest"]
RUN_TIMEOUT_S = 170
# a fixed heap, so the collector's cadence does not follow heap growth
JAVA_OPTS = ["-Xms2g", "-Xmx2g", "-Xss8m", "-XX:+UseG1GC"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def java(args, work):
    """Runs the benchmark main in its own process group; returns its exit code."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", build.classpath(),
                                  "perfbench.Main"] + args
    p = subprocess.Popen(cmd, start_new_session=True)
    try:
        return p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
        p.wait()


def run_workload(a, workload):
    """Runs one workload; returns (exit code, result object or None)."""
    work = os.path.abspath(os.path.join(build.BUILD_DIR, "work", f"run-{os.getpid()}-{workload}"))
    os.makedirs(work)
    try:
        result = os.path.join(work, "result.json")
        trace_out = os.path.join(build.BUILD_DIR, "traces", f"{workload}-seed{a.seed}.jsonl")
        code = java(["--workload", workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                     "--trace", a.trace, "--result", result, "--work", os.path.join(work, "data"),
                     "--trace-out", os.path.abspath(trace_out)], work)
        if not os.path.exists(result):
            print(f"perfbench: {workload}: no result (exit code {code})", file=sys.stderr)
            return code or 1, None
        with open(result) as f:
            out = json.load(f)
        assert set(out) == {"correct", "attempted", "failed", "metrics"}, out
        return code, out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=["0", "1"])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    build.build()
    if a.selftest:
        work = os.path.abspath(os.path.join(build.BUILD_DIR, "work", f"run-{os.getpid()}"))
        os.makedirs(work)
        try:
            return java(["--selftest"], work)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    if a.workload != "all":
        code, out = run_workload(a, a.workload)
        if out is None:
            return code
        sys.stdout.flush()
        print(json.dumps(out))
        return code
    # every workload in turn: one result line each, then the combined result
    codes, combined = [], {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        code, out = run_workload(a, w)
        codes.append(code)
        if out is None:
            combined["correct"] = False
            continue
        print(w, json.dumps(out), flush=True)
        combined["correct"] &= out["correct"]
        combined["attempted"] += out["attempted"]
        combined["failed"] += out["failed"]
        combined["metrics"].update({f"{w}.{k}": v for k, v in out["metrics"].items()})
    print(json.dumps(combined))
    return next((c for c in codes if c != 0), 0)


if __name__ == "__main__":
    sys.exit(main())

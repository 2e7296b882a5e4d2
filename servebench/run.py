#!/usr/bin/env python3
"""Serving, bulk-scoring and ingest benchmark of the graft engine.

    python3 servebench/run.py --workload serve|ingest_score \\
        --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source when they changed
(`build.py`), then runs one workload in a fresh JVM on a local Spark
session with one core per CPU. All data, Spark scratch space and the
catalog warehouse live in a private directory under `servebench/.work`
that is removed afterwards; traced runs leave their spans in
`servebench/.out`. The last stdout line is the JSON result; any failure
exits non-zero without one.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_LIMIT_S = 170  # a run must end within 180 s of its start, build excluded


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["serve", "ingest_score"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        build.build()
    except build.BuildError as e:
        print(f"[servebench] build failed: {e}", file=sys.stderr)
        return 2

    start = time.monotonic()
    work = os.path.join(build.HERE, ".work", f"{a.workload}_{a.seed}_{os.getpid()}")
    out = os.path.join(build.HERE, ".out")
    cmd = build.java("servebench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--out", out])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True, cwd=build.HERE)
    try:
        stdout, _ = proc.communicate(timeout=RUN_LIMIT_S - (time.monotonic() - start))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("[servebench] run exceeded its time limit", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = stdout.rstrip("\n").split("\n") if stdout.strip() else []
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stdout.write("".join(l + "\n" for l in lines if not l.startswith("{")))
        print(f"[servebench] run failed (exit code {proc.returncode})", file=sys.stderr)
        return proc.returncode or 1
    sys.stdout.write("".join(l + "\n" for l in lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())

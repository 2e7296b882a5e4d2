#!/usr/bin/env python3
"""The benchmark's own tests (input determinism, checker, tail rule).

    python3 servebench/test.py
"""
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402


def main():
    try:
        build.build()
    except build.BuildError as e:
        print(f"[servebench] build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.HERE, ".work", f"selftest_{os.getpid()}")
    os.makedirs(work)
    try:
        return subprocess.run(build.java("servebench.SelfTest", [], heap="1g"), cwd=work).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

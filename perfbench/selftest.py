#!/usr/bin/env python3
"""Self-tests of the benchmark: its generators and its correctness checks.

    python3 perfbench/selftest.py

Builds like run.py, then runs perfbench.SelfTest: every generator gives the
same inputs for a seed and different inputs for another seed, and every
correctness check fails on a deliberately broken output (a deleted dump
shard, a dropped parent row, a re-admitted duplicate, ...). Exits non-zero
if any test fails.
"""

import os
import shutil
import sys

import run


def main():
    jar = run.build()
    scratch = run.build_dir() / f"selftest-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    scratch.mkdir(parents=True)
    log = run.build_dir() / "last-selftest.log"
    try:
        code = run.run_jvm(jar, "perfbench.SelfTest", [str(scratch)], scratch, log)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    for line in log.read_text().splitlines():
        if line.startswith(("ok ", "FAIL ")) or line.endswith(" failed"):
            print(line)
    if code != 0:
        print(f"perfbench self-test failed (exit {code}); log at {log}", file=sys.stderr)
    sys.exit(0 if code == 0 else 1)


if __name__ == "__main__":
    main()

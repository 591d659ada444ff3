#!/usr/bin/env python3
"""graft-bench's own tests, run from the root of a checkout:

    python3 perfbench/selftest.py

The statistics tests (perfbench/test_stats.py), then the plan-walk check
(perfbench/src/test/scala) over the seed-1 tables.
"""
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402


def main():
    root = os.getcwd()
    work = os.path.join(root, ".bench_build", "perfbench")
    if subprocess.run([sys.executable, "-m", "unittest", "discover", "-s", HERE]).returncode:
        return 1
    data = os.path.join(work, "data", "seed-1")
    datagen.generate(1, data)
    classes = run.build(root, work, tests=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = run.spark_command(root, classes, tmp, "graftbench.PlanWalkCheck", data)
    log_path = os.path.join(work, "selftest.log")
    with open(log_path, "w") as log:
        rc = subprocess.run(cmd, cwd=tmp, stdin=subprocess.DEVNULL, stderr=log).returncode
    if rc:
        print(run.log_tail(log_path), file=sys.stderr)
    return rc


if __name__ == "__main__":
    sys.exit(main())

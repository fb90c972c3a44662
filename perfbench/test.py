#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/test.py

Builds like `run.py` does, then runs `perfbench.SelfTest` (percentile
rule, geomean, span self time, job attribution, failure accounting).
Exits non-zero if any check fails.
"""
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
from run import JVM_OPENS  # noqa: E402


def main():
    root = os.getcwd()
    classes = build.build(root, os.path.join(root, ".bench_build"))
    tmp = os.path.join(root, ".bench_work", "selftest")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{os.path.join(build.spark_jars(root), '*')}", "perfbench.SelfTest"]
    sys.exit(subprocess.run(cmd, cwd=tmp, stderr=subprocess.DEVNULL).returncode)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""The benchmark's own tests: build, then run graftbench.SelfTest.

    python3 perfbench/test.py

Covers the seeded generator (byte-identical per seed), the percentile rule
(a reported tail has at least ten samples beyond it), the brute-force and
ladder truth, and the output check flagging a wrong answer.
"""

import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

if __name__ == "__main__":
    root = os.getcwd()
    classes, _ = build.ensure_built(
        root, os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build"))
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    sys.exit(subprocess.run(["java", "-Xmx1g", "-XX:-UsePerfData", "-cp", cp, "graftbench.SelfTest"]).returncode)

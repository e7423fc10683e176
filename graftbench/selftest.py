#!/usr/bin/env python3
"""Tests of the harness itself (generators, statistics). Builds if needed."""
import subprocess
import sys

import run

if __name__ == "__main__":
    run.build()
    with open(run.CLASSPATH) as fh:
        cp = fh.read().strip()
    sys.exit(subprocess.call(["java", "-cp", cp, "graftbench.SelfTest"], cwd=run.HERE))

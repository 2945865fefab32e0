#!/usr/bin/env python3
"""Print count() against noop-sink warm timings for every benchmarked query.

    python3 perfbench/d1_gap.py [reps]

Run from the repository root. Uses the benchmark's build, fixture, core
count and a fresh registry, like a benchmark run.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

import run


def main():
    reps = sys.argv[1] if len(sys.argv) > 1 else "3"
    root = os.getcwd()
    with open(os.path.join(run.HERE, "workloads.json")) as f:
        spec = json.load(f)
    jars = run.spark_jars()
    os.makedirs(os.path.join(root, run.BUILD), exist_ok=True)
    classes = run.build(root, jars)
    fixture_dir = run.ensure_fixture(root)
    names = [q for w in ("sensor_queries", "curation_queries") for q in spec[w]["queries"]]
    work = tempfile.mkdtemp(prefix="d1-", dir=os.path.join(root, run.BUILD))
    try:
        env = dict(os.environ, GRAFT_REGISTRY_DIR=os.path.join(work, "registry"))
        subprocess.run(run.java(classes, jars, work, "perfbench.CountVsNoop",
                                [fixture_dir, str(run.CORES), reps] + names),
                       cwd=work, env=env, check=True, stderr=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

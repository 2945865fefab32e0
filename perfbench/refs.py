#!/usr/bin/env python3
"""Re-derive perfbench/refs.json, the reference outputs every run checks.

    python3 perfbench/refs.py

Run from the repository root after a change that legitimately changes a
benchmarked query's output or the fixture. It:
  1. dumps every benchmarked query with graft.Verify on the benchmark
     fixture and compares each with its DuckDB oracle (tools/selfcheck.py),
     recording each query's verdict;
  2. takes each query's order-insensitive row hash from the cold passes of
     two fresh JVMs with the queries in two different orders, and reports
     any query whose hash or failure differs between them;
  3. counts the rows Main.client must score, with DuckDB.
"""
import json
import os
import random
import re
import shutil
import subprocess
import sys
import tempfile

import duckdb

import run

FLEET_ROWS_SQL = """
SELECT count(*) FROM (
  SELECT time_bucket(INTERVAL '{res}', CAST(ts AS TIMESTAMP)) AS b
  FROM read_parquet('{dir}/events.parquet')
  WHERE ts >= TIMESTAMP '{lo}' AND ts < TIMESTAMP '{hi}' AND event_type IN ({tags})
  GROUP BY b HAVING count(DISTINCT event_type) = {n})
"""


def _selfcheck(root, classes, jars, fixture_dir, names):
    """graft.Verify dump + tools/selfcheck.py in a fresh JVM and registry;
    returns {query: "OK" or the mismatch}."""
    out = tempfile.mkdtemp(prefix="oracle-", dir=os.path.join(root, run.BUILD))
    try:
        env = dict(os.environ, GRAFT_REGISTRY_DIR=os.path.join(out, "registry"),
                   SPARK_GRAFT_CPUS=str(run.CORES))
        subprocess.run(run.java(classes, jars, out, "graft.Verify",
                                [fixture_dir, os.path.join(out, "dump")] + names),
                       cwd=out, env=env, check=True, capture_output=True)
        r = subprocess.run([sys.executable, os.path.join(root, "tools", "selfcheck.py"),
                            fixture_dir, os.path.join(out, "dump")], capture_output=True, text=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    status = {}
    for line in r.stdout.splitlines():
        m = re.match(r"\s+(OK|FAIL)\s+([\w]+)(.*)", line)
        if m:
            status[m.group(2)] = "OK" if m.group(1) == "OK" else m.group(3).lstrip(": ")
    return status


def oracle_check(root, classes, jars, fixture_dir, names):
    """Every benchmarked query against its DuckDB oracle. A query that
    threw in the shared process (no output to compare) is retried alone in
    a fresh one; the retry is recorded."""
    status = _selfcheck(root, classes, jars, fixture_dir, names)
    for q in names:
        if status.get(q) == "no spark output":
            retry = _selfcheck(root, classes, jars, fixture_dir, [q]).get(q, "no result")
            status[q] = f"{retry} (alone in a fresh process; threw in the shared run)"
    return status


def hashes(root, classes, jars, fixture_dir, workload, names):
    cfg = {"workload": workload, "seed": 0, "seconds": 0, "trace": False,
           "cores": run.CORES, "passes": [names], "traced": [False]}
    raw, _, _ = run.run_jvm(root, classes, jars, fixture_dir, cfg)
    return {o["name"]: (o["hash"] if o["ok"] else f"error {o['error']['class']}")
            for o in raw["ops"] if o["phase"] == "cold"}


def main():
    root = os.getcwd()
    with open(os.path.join(run.HERE, "workloads.json")) as f:
        spec = json.load(f)
    jars = run.spark_jars()
    os.makedirs(os.path.join(root, run.BUILD), exist_ok=True)
    classes = run.build(root, jars)
    fixture_dir = run.ensure_fixture(root)
    refs = {"fixture": run.fixture.VERSION, "queries": {}, "order_dependent": {}}
    names = [q for w in ("sensor_queries", "curation_queries") for q in spec[w]["queries"]]
    refs["oracle"] = oracle_check(root, classes, jars, fixture_dir, names)
    for w in ("sensor_queries", "curation_queries"):
        a = sorted(spec[w]["queries"])
        b = a[:]
        random.Random(w).shuffle(b)
        ha = hashes(root, classes, jars, fixture_dir, w, a)
        hb = hashes(root, classes, jars, fixture_dir, w, b)
        # a query whose first call threw in both orders gets a third
        # fresh JVM with it placed last, after every other fit
        threw = [q for q in a if ha[q].startswith("error") and hb[q].startswith("error")]
        if threw:
            hc = hashes(root, classes, jars, fixture_dir, w,
                        [q for q in a if q not in threw] + threw)
            for q in threw:
                hb[q] = hc[q]
        for q in a:
            if ha[q] != hb[q]:
                refs["order_dependent"][q] = [ha[q], hb[q]]
            ok = [h for h in (ha[q], hb[q]) if not h.startswith("error")]
            if len(set(ok)) != 1:
                sys.exit(f"{q}: no single reference hash from {ha[q]} / {hb[q]}")
            refs["queries"][q] = ok[0]
    f = spec["fleet_serve"]
    tags = f["config"]["defaults"]["dataset"]["tags"]
    refs["client_rows"] = duckdb.sql(FLEET_ROWS_SQL.format(
        res=f["resolution"], dir=fixture_dir, lo=f["client_from"].replace("T", " "),
        hi=f["client_to"].replace("T", " "), tags=", ".join(f"'{t}'" for t in tags),
        n=len(tags))).fetchone()[0]
    with open(os.path.join(run.HERE, "refs.json"), "w") as out:
        json.dump(refs, out, indent=2, sort_keys=True)
        out.write("\n")
    print(json.dumps({k: refs[k] for k in ("oracle", "order_dependent")}, indent=2))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft benchmark: one workload per run, end to end or traced by layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
JVM harness from source into .bench_build/ and generates the fixture there;
later runs reuse both. Every run starts a fresh JVM with an empty registry
and fleet directory under .bench_build/ and removes them afterwards; the
run's raw records, spans included, stay in .bench_build/raw/.

Workloads (perfbench/workloads.json): sensor_queries, curation_queries,
fleet_serve. The last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1. Exit code 1 on any wrong output.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import fixture  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402

BUILD = ".bench_build"
CORES = 4
HEAP = "3g"
JVM_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit (JavaModuleOptions defaults)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
        fail("no Spark installation found (set SPARK_HOME)")
    return os.path.join(home, "jars")


def build(root, jars):
    """Compile src/main/scala and perfbench/harness with the Scala compiler
    Spark ships; cached by a hash of every source file."""
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        fail("no library sources under src/main/scala")
    srcs += sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = tempfile.mkdtemp(prefix="classes-", dir=os.path.join(root, BUILD))
    argfile = os.path.join(tmp, "..", os.path.basename(tmp) + ".args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
                        "@" + argfile], capture_output=True, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("compile failed")
    os.rename(tmp, out)
    for stale in glob.glob(os.path.join(root, BUILD, "classes-*")):
        if stale != out:
            shutil.rmtree(stale, ignore_errors=True)
    return out


def ensure_fixture(root):
    out = os.path.join(root, BUILD, fixture.VERSION)
    if not os.path.isdir(out):
        tmp = tempfile.mkdtemp(prefix="fixture-", dir=os.path.join(root, BUILD))
        fixture.generate(tmp)
        os.rename(tmp, out)
    return out


def seeded_config(spec, workload, seed, seconds, trace):
    """Everything the seed decides: query order per pass, request sizes,
    payload offsets and arrival times. The JVM sees only these inputs."""
    rng = random.Random(f"{workload}:{seed}")
    w = spec[workload]
    cfg = {"workload": workload, "seed": seed, "seconds": seconds, "trace": bool(trace),
           "cores": CORES}
    if workload == "fleet_serve":
        sizes = w["request_sizes"]

        def rung(name, rate, n, traced=False, idx0=0):
            # one arrival at a seeded point in each 1/rate slot: the rate is
            # exact and bursts stay bounded; every size equally often, in
            # seeded order
            due = [(i + rng.random()) * 1000.0 / rate for i in range(n)]
            mix = (sizes * n)[:n]
            rng.shuffle(mix)
            return {"name": name, "rate": rate, "due_ms": due, "sizes": mix,
                    "offsets": [rng.randrange(100000) for _ in range(n)],
                    "traced": traced, "idx0": idx0}

        # highest rate first: the base rung, which the end-to-end metrics
        # read, then runs with the JIT levelled
        rungs = [rung(r["name"], r["rate"], r["n"]) for r in reversed(w["ladder"])]
        if trace:
            # the base rung in four blocks, untraced, traced, traced,
            # untraced (ABBA): a warm-up trend that is linear over them
            # cancels from the traced-minus-untraced overhead
            base = w["ladder"][0]
            half = base["n"] // 2
            rungs[-1:] = [rung(name, base["rate"], half, t, i0) for name, t, i0 in (
                (base["name"], False, 0), ("base_traced", True, 0),
                ("base_traced", True, half), (base["name"], False, half))]
        cfg["fleet"] = {
            "config": w["config"], "serve_machine": w["serve_machine"],
            "resolution": w["resolution"], "connections": min(CORES, os.cpu_count() or 1),
            "warmup": rung("warmup", w["warmup"]["rate"], w["warmup"]["n"], bool(trace)),
            "rungs": rungs,
            "client_from": w["client_from"], "client_to": w["client_to"],
            "client_runs": w["client_runs"],
            "decomposed_samples": [{"size": s, "offset": rng.randrange(100000)}
                                   for s in sizes for _ in range(w["decomposed_per_size"])]}
    else:
        # the pass count follows from --seconds alone, so a run's sample
        # count, and with it the reported tail percentile, never varies;
        # a traced run adds as many traced passes, in ABBA order
        n_warm = max(2, int(seconds // w["nominal_pass_s"]))
        warm_traced = stats.abba(2 * n_warm) if trace else [False] * n_warm
        passes = []
        for _ in range(len(warm_traced) + 1):
            order = list(w["queries"])
            rng.shuffle(order)
            passes.append(order)
        cfg["passes"] = passes
        cfg["traced"] = [bool(trace)] + warm_traced
    return cfg


def java(classes, jars, work, main, args):
    """Command line for one of the compiled mains, with scratch in `work`."""
    return (["java", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}"] + ADD_OPENS
            + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), main] + args)


def dir_stats(path):
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]
    return len(files), sum(os.path.getsize(p) for p in files if os.path.isfile(p))


def run_jvm(root, classes, jars, fixture_dir, cfg):
    """One fresh JVM over a fresh work dir; returns (raw records, launch
    epoch ms, registry (files, bytes))."""
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(root, BUILD))
    try:
        for d in ("registry", "tmp", "spark-local"):
            os.makedirs(os.path.join(work, d))
        cfg = dict(cfg, work_dir=work, fixture_dir=fixture_dir)
        cfg_path, out_path = os.path.join(work, "config.json"), os.path.join(work, "out.json")
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        env = dict(os.environ, GRAFT_REGISTRY_DIR=os.path.join(work, "registry"))
        cmd = java(classes, jars, os.path.join(work, "tmp"), "perfbench.GraftBench",
                   [cfg_path, out_path])
        log_path = os.path.join(work, "jvm.log")
        launch = time.time() * 1000.0
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
            try:
                code = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = "timeout"
            finally:
                # also on SIGTERM (see main): never leave the JVM behind
                if p.poll() is None:
                    p.kill()
                    p.wait()
        if code != 0:
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"benchmark JVM exited with {code}")
        with open(out_path) as f:
            raw = json.load(f)
        return raw, launch, dir_stats(os.path.join(work, "registry"))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in spec:
        fail(f"unknown workload {args.workload}; have {sorted(spec)}")
    with open(os.path.join(HERE, "refs.json")) as f:
        refs = json.load(f)
    jars = spark_jars()
    os.makedirs(os.path.join(root, BUILD), exist_ok=True)
    classes = build(root, jars)
    fixture_dir = ensure_fixture(root)
    cfg = seeded_config(spec, args.workload, args.seed, args.seconds, args.trace)
    raw, launch, registry = run_jvm(root, classes, jars, fixture_dir, cfg)
    # the raw records, spans included, of the latest run per workload,
    # seed and mode, for reading a run back
    os.makedirs(os.path.join(root, BUILD, "raw"), exist_ok=True)
    with open(os.path.join(root, BUILD, "raw",
                           f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(raw, f)
    families = [f for w in spec.values() for f in w.get("families", [])]
    res = metrics.compute(args.workload, spec[args.workload], raw, launch, registry,
                          refs, bool(args.trace), CORES, families)
    for line in res["report"]:
        print(line)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()

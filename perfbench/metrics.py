"""Turns the JVM's raw records into the benchmark's metrics and checks."""
import stats

MODEL_TYPES = ("pca_anomaly", "ar_forecast")
SIZES = (1, 100, 1000)
SELF_LAYERS = ("op.query", "entry.build", "sink.noop", "spark.job", "op.request",
               "serve.parse", "serve.score", "serve.encode", "loadgen.rung", "client.align",
               "op.build", "serve.load", "build.dataset", "build.machine")
SPARK = ("jobs", "stages", "tasks", "single_task_stages", "executor_run_ms", "executor_cpu_ms",
         "gc_ms", "cpu_util", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
         "task_skew", "driver_gap_ms")


def per_layer_names(all_families):
    names = ["entry.build_ms", "entry.cold_build_ms", "registry.files_written",
             "registry.bytes_written", "catalyst.analysis_ms", "catalyst.optimization_ms",
             "catalyst.planning_ms", "catalyst.executions"]
    names += [f"spark.{m}" for m in SPARK]
    names += ["codegen.compile_ms", "codegen.compiles", "codegen.cold_compile_ms"]
    names += [f"family.{f}_s" for f in all_families]
    names += ["build.dataset_ms", "build.artifact_bytes"] + [f"build.fit_ms.{t}" for t in MODEL_TYPES]
    names += ["serve.load_ms"] + [f"serve.{m}.r{s}" for m in
                                  ("parse_ms", "score_ms", "encode_ms", "http_ms", "jobs_per_request")
                                  for s in SIZES]
    names += ["client.align_ms", "client.post_ms", "loadgen.late_ms", "loadgen.backlog"]
    names += [f"self_ms.{n.replace('.', '_')}" for n in SELF_LAYERS]
    names += ["trace.overhead_op_p50_ms", "trace.overhead_pct"]
    return names


def _dur(o):
    return o["end"] - o["start"]


def _in(t, windows):
    return any(s <= t <= e for s, e in windows)


def _layer_spark(raw, windows, n_ops, cores):
    """Scheduler and Catalyst counters over the traced windows, per op."""
    n = max(1, n_ops)
    jobs = [j for j in raw["jobs"] if _in(j["start"], windows)]
    stages = [s for s in raw["stages"] if _in(s["start"], windows)]
    execs = [x for x in raw["executions"] if _in(x["t"], windows)]
    wall = sum(e - s for s, e in windows)
    cpu = sum(s["cpu_ms"] for s in stages)
    multi = [s["task_max_ms"] / s["task_median_ms"] for s in stages
             if s["tasks"] > 1 and s["task_median_ms"] > 0]
    out = {
        "spark.jobs": len(jobs) / n, "spark.stages": len(stages) / n,
        "spark.tasks": sum(s["tasks"] for s in stages) / n,
        "spark.single_task_stages": sum(1 for s in stages if s["tasks"] == 1) / n,
        "spark.executor_run_ms": sum(s["run_ms"] for s in stages) / n,
        "spark.executor_cpu_ms": cpu / n,
        "spark.gc_ms": sum(s["gc_ms"] for s in stages) / n,
        "spark.cpu_util": cpu / (wall * cores) if wall > 0 else 0.0,
        "spark.shuffle_read_bytes": sum(s["shuffle_read"] for s in stages) / n,
        "spark.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages) / n,
        "spark.spill_bytes": sum(s["spill"] for s in stages) / n,
        "spark.task_skew": sum(multi) / len(multi) if multi else 1.0,
        "catalyst.executions": len(execs) / n,
    }
    for ph in ("analysis", "optimization", "planning"):
        out[f"catalyst.{ph}_ms"] = sum(x[ph]["end"] - x[ph]["start"] for x in execs
                                       if x.get(ph)) / n
    return out


def _span_tree(raw, windows):
    """Harness spans in the windows plus Spark jobs as child spans."""
    spans = [s for s in raw["spans"] if _in(s["start"], windows)]
    jobs = [j for j in raw["jobs"] if _in(j["start"], windows)]
    parents = stats.assign_parents(spans, [(j["start"], j["end"]) for j in jobs])
    nxt = max([s["id"] for s in spans] + [0]) + 1
    for i, (j, p) in enumerate(zip(jobs, parents)):
        spans.append({"id": nxt + i, "name": "spark.job", "start": j["start"],
                      "end": j["end"], "parent": p})
    return spans


def _self_times(spans, n_ops):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {f"self_ms.{n.replace('.', '_')}": 0.0 for n in SELF_LAYERS}
    for s in spans:
        key = f"self_ms.{s['name'].replace('.', '_')}"
        if key in out:
            out[key] += stats.self_time((s["start"], s["end"]), kids.get(s["id"], []))
    n = max(1, n_ops)
    return {k: v / n for k, v in out.items()}


def _driver_gap(spans, op_name, n_ops):
    """Op time not covered by any Spark job (JobTrace's driver gaps); jobs
    may hang off an op's child span, so they are collected up to the op."""
    by_id = {s["id"]: s for s in spans}
    op_jobs = {}
    for s in spans:
        if s["name"] != "spark.job":
            continue
        p = by_id.get(s["parent"])
        while p is not None and p["name"] != op_name:
            p = by_id.get(p["parent"])
        if p is not None:
            op_jobs.setdefault(p["id"], []).append((s["start"], s["end"]))
    gap = sum(stats.self_time((s["start"], s["end"]), op_jobs.get(s["id"], []))
              for s in spans if s["name"] == op_name)
    return gap / max(1, n_ops)


def _families(all_families, warm):
    med = {}
    for o in warm:
        med.setdefault(o["name"], []).append(_dur(o))
    fam = {f"family.{f}_s": 0.0 for f in all_families}
    for name, ds in med.items():
        key = f"family.{name.split('_')[0]}_s"
        if key in fam:
            fam[key] += stats.median(ds) / 1000.0
    return fam


def _fmt(name, value, unit):
    return f"  {name:<28} {value:>14.4f} {unit}"


def compute(workload, spec, raw, launch, registry, refs, trace, cores, all_families):
    if workload == "fleet_serve":
        return _fleet(spec, raw, launch, refs, trace, cores, all_families)
    return _queries(workload, raw, launch, registry, refs, trace, cores, all_families)


def _queries(workload, raw, launch, registry, refs, trace, cores, all_families):
    ops = raw["ops"]
    # cold and recheck calls are hashed; a recheck repeats a query whose
    # cold call threw, in set-up (pass 0) and, if that threw too, after
    # the timed passes
    hashed = [o for o in ops if o["phase"] != "warm"]
    warm = [o for o in ops if o["phase"] == "warm"]
    plain = [o for o in warm if not o["traced"]]
    plain_passes = [_dur(p) for p in raw["passes"] if p["phase"] == "warm" and not p["traced"]]
    ref = refs["queries"]
    wrong, causes = {}, []
    for o in hashed:
        if o["ok"] and ref.get(o["name"]) != o["hash"]:
            wrong[o["name"]] = f"hash {o['hash']} != reference {ref.get(o['name'])}"
    unchecked = sorted({o["name"] for o in ops} - {o["name"] for o in hashed if o["ok"]})
    for o in ops:
        if not o["ok"]:
            causes.append(f"{o['name']} ({o['phase']} pass {o['pass']}) "
                          f"{o['error']['class']}: {o['error']['message']}")
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in wrong)
    # a failed execution misses any latency limit: it counts as infinite
    lat = [_dur(o) if o["ok"] else float("inf") for o in plain]
    tail_p = stats.highest_tail(len(lat))
    setup_s = (raw["setup_end"] - launch) / 1000.0
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (stats.percentile(lat, 50), "ms"),
        "op_tail_ms": (stats.percentile(lat, tail_p), "ms"),
        "throughput_per_s": (len(plain) / (sum(plain_passes) / 1000.0), "1/s"),
    }
    report = [f"workload {workload}: {len(hashed)} cold and recheck (output-checked) + "
              f"{len(warm)} warm executions "
              f"({len(plain)} untraced, {len(plain_passes)} untraced passes)",
              "end-to-end (untraced):"]
    named = dict(e2e)
    named.update({
        "peak_rss_mb": (raw["vm_hwm_kb"] / 1024.0, "MB"),
        "pass_s": (stats.median(plain_passes) / 1000.0, "s"),
        "query_p50_s": (stats.percentile(lat, 50) / 1000.0, "s"),
        f"query_p{tail_p}_s": (stats.percentile(lat, tail_p) / 1000.0, "s"),
        "error_rate": (failed / len(ops), "ratio"),
    })
    report += [_fmt(k, v, u) for k, (v, u) in named.items()]
    report += [f"  op_tail_ms is p{tail_p} of {len(lat)} samples, "
               f"{stats.beyond(len(lat), tail_p)} beyond it"]
    # no pass levels warm-up before the timed ones: show what is left of it
    report += ["  untraced warm passes: " + ", ".join(f"{p / 1000.0:.3f}" for p in plain_passes)
               + f" s; last against first {100.0 * (plain_passes[-1] / plain_passes[0] - 1):+.1f}%"]
    report += [f"  WRONG {n}: {why}" for n, why in wrong.items()]
    report += [f"  UNCHECKED {n}: every hashed call threw, so its output was not compared"
               for n in unchecked]
    report += [f"  FAILED {c}" for c in causes]
    res = {"correct": not wrong, "attempted": len(ops), "failed": failed, "report": report}
    if not trace:
        res["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        return res

    traced_passes = [p for p in raw["passes"] if p["phase"] == "warm" and p["traced"]]
    windows = [(p["start"], p["end"]) for p in traced_passes]
    traced_ops = [o for o in warm if o["traced"]]
    n = len(traced_ops)
    layer = {k: 0.0 for k in per_layer_names(all_families)}
    layer.update(_layer_spark(raw, windows, n, cores))
    spans = _span_tree(raw, windows)
    layer.update(_self_times(spans, n))
    layer["spark.driver_gap_ms"] = _driver_gap(spans, "op.query", n)
    layer["entry.build_ms"] = sum(o["build_ms"] for o in traced_ops) / max(1, n)
    layer["entry.cold_build_ms"] = sum(o["build_ms"] for o in hashed if o["pass"] == 0)
    layer["registry.files_written"], layer["registry.bytes_written"] = registry
    cg = raw["codegen"]
    pairs = list(zip(cg[0::2], cg[1::2]))
    for (a, b), p in zip(pairs, raw["passes"]):
        if p["pass"] == 0:
            layer["codegen.cold_compile_ms"] += b["compile_ms"] - a["compile_ms"]
        elif p["traced"]:
            layer["codegen.compile_ms"] += (b["compile_ms"] - a["compile_ms"]) / max(1, n)
            layer["codegen.compiles"] += (b["compiles"] - a["compiles"]) / max(1, n)
    layer.update(_families(all_families, plain))
    traced_lat = [_dur(o) for o in traced_ops if o["ok"]]
    over = stats.percentile(traced_lat, 50) - stats.percentile(lat, 50)
    layer["trace.overhead_op_p50_ms"] = over
    layer["trace.overhead_pct"] = 100.0 * over / stats.percentile(lat, 50)
    res["report"].append("per layer (traced passes, per query execution):")
    res["report"] += [_fmt(k, v, "") for k, v in layer.items()]
    res["metrics"] = {k: {"value": v, "unit": _unit(k)} for k, v in layer.items()}
    return res


def _unit(name):
    if name.endswith("_ms") or "_ms." in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_pct"):
        return "%"
    if name in ("spark.cpu_util", "spark.task_skew"):
        return "ratio"
    return "count"


def _fleet(spec, raw, launch, refs, trace, cores, all_families):
    reqs = raw["requests"]
    conns = raw["connections"]
    limit = spec["latency_limit_ms"]
    bad = {(m["rung"], m["idx"]): m["why"] for m in raw["mismatches"]}
    causes, wrong = [], []
    for m in raw["machines"]:
        if not m["ok"]:
            (causes if not m["built"] else wrong).append(
                f"machine {m['name']} ({m['type']}) {m['error']['class']}: {m['error']['message']}")
    for r in raw["warmup"] + reqs:
        if r["error"]:
            causes.append(f"request {r['rung']}#{r['idx']} ({r['size']} rows) "
                          f"{r['error']['class']}: {r['error']['message']}")
        if (r["rung"], r["idx"]) in bad:
            wrong.append(f"request {r['rung']}#{r['idx']}: {bad[(r['rung'], r['idx'])]}")
    clients = [raw["client_warmup"]] + raw["client"]
    for c in clients:
        if c["error"]:
            causes.append(f"client {c['error']['class']}: {c['error']['message']}")
        elif c["rows"] != refs["client_rows"]:
            wrong.append(f"client scored {c['rows']} rows, reference {refs['client_rows']}")
    attempted = len(raw["machines"]) + len(raw["warmup"]) + len(reqs) + len(clients)
    failed = (sum(1 for m in raw["machines"] if not m["ok"])
              + sum(1 for r in raw["warmup"] + reqs
                    if r["error"] or (r["rung"], r["idx"]) in bad)
              + sum(1 for c in clients if c["error"] or c["rows"] != refs["client_rows"]))

    def rung(name):
        return [r for r in reqs if r["rung"] == name]

    base = rung(spec["ladder"][0]["name"])
    lat = [x if not r["error"] else float("inf")
           for x, r in zip(stats.due_latencies(base), base)]
    tail_p = stats.highest_tail(len(lat))
    ladder = []
    for step in spec["ladder"]:
        rs = rung(step["name"])
        ok = [r for r in rs if not r["error"] and (r["rung"], r["idx"]) not in bad]
        p = stats.highest_tail(len(rs))
        # a failed request misses the limit: it counts at infinite latency
        ls = stats.due_latencies(ok) + [float("inf")] * (len(rs) - len(ok))
        t = stats.percentile(ls, p) if p else float("inf")
        grows = stats.backlog_grows(rs, conns)
        ladder.append((step["rate"], p, t, grows, t <= limit and not grows))
    met = [rate for rate, _, _, _, good in ladder if good]
    rows_s = [c["rows"] / ((c["end"] - c["start"]) / 1000.0) for c in raw["client"] if not c["error"]]
    machines = len(raw["machines"])
    e2e = {
        "setup_s": ((raw["setup_end"] - launch) / 1000.0, "s"),
        "op_p50_ms": (stats.percentile(lat, 50), "ms"),
        "op_tail_ms": (stats.percentile(lat, tail_p), "ms"),
        "throughput_per_s": (stats.median(rows_s), "1/s"),
    }
    named = dict(e2e)
    p95 = stats.percentile(lat, 95) if stats.beyond(len(lat), 95) >= stats.MIN_BEYOND else None
    named.update({
        "peak_rss_mb": (raw["vm_hwm_kb"] / 1024.0, "MB"),
        "build_s_per_machine": (raw["build_ms"] / 1000.0 / machines, "s"),
        "predict_p50_ms": (stats.percentile(lat, 50), "ms"),
        "predict_max_rps": (max(met) if met else 0.0, "1/s"),
        "client_rows_per_s": (stats.median(rows_s), "1/s"),
        "error_rate": (failed / attempted, "ratio"),
    })
    if p95 is not None:
        named["predict_p95_ms"] = (p95, "ms")
    report = [f"workload fleet_serve: {machines} machines, {len(raw['warmup'])} warm-up and "
              f"{len(reqs)} timed requests over {conns} connections, {len(raw['client'])} client runs",
              "end-to-end (untraced):"]
    report += [_fmt(k, v, u) for k, (v, u) in named.items()]
    report += [f"  base-rate latency from due time: op_tail_ms is p{tail_p} of {len(lat)} "
               f"samples, {stats.beyond(len(lat), tail_p)} beyond it"
               + ("" if p95 is not None else "; too few samples for p95")]
    report += [f"  ladder {rate:>5} req/s: p{p} {t:9.1f} ms, backlog "
               f"{'grows' if grows else 'steady'} -> {'meets' if good else 'misses'} {limit} ms"
               for rate, p, t, grows, good in ladder]
    report += [f"  WRONG {w}" for w in wrong]
    report += [f"  FAILED {c}" for c in causes]
    res = {"correct": not wrong, "attempted": attempted, "failed": failed, "report": report}
    if not trace:
        res["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        return res

    layer = {k: 0.0 for k in per_layer_names(all_families)}
    # the two traced blocks of the base rate run back to back
    traced = rung("base_traced")
    win = [(min(r["due"] for r in traced), max(r["end"] for r in traced))]
    layer.update(_layer_spark(raw, win, len(traced), cores))
    dec_spans = [s for s in raw["spans"] if s["name"] in
                 ("op.request", "serve.parse", "serve.score", "serve.encode")]
    dec_win = [(s["start"], s["end"]) for s in dec_spans if s["name"] == "op.request"]
    spans = _span_tree(raw, dec_win)
    dec = raw["decomposed"]
    layer["spark.driver_gap_ms"] = _driver_gap(spans, "op.request", len(dec))
    # fleet operations differ in kind, so self times are run totals
    layer.update(_self_times(_span_tree(raw, [(0.0, float("inf"))]), 1))
    for s in SIZES:
        ds = [d for d in dec if d["size"] == s]
        if not ds:
            continue
        for m in ("parse_ms", "score_ms", "encode_ms"):
            layer[f"serve.{m}.r{s}"] = stats.median([d[m] for d in ds])
        layer[f"serve.jobs_per_request.r{s}"] = stats.median([d["request_jobs"] for d in ds])
        http = [r["end"] - r["send"] for r in traced if r["size"] == s and not r["error"]]
        if http:
            layer[f"serve.http_ms.r{s}"] = (stats.median(http) - layer[f"serve.parse_ms.r{s}"]
                                            - layer[f"serve.encode_ms.r{s}"])
    builds = raw["machine_builds"]
    layer["build.dataset_ms"] = stats.median([b["dataset_ms"] for b in builds])
    for t in MODEL_TYPES:
        fits = [b["build_ms"] - b["dataset_ms"] for b in builds if b["type"] == t]
        if fits:
            layer[f"build.fit_ms.{t}"] = stats.median(fits)
    layer["build.artifact_bytes"] = raw["artifact_bytes"]
    layer["serve.load_ms"] = raw["load_ms"]
    align = stats.median([a["ms"] for a in raw["client_align"]])
    layer["client.align_ms"] = align
    layer["client.post_ms"] = stats.median([_dur(c) for c in raw["client"]]) - align
    late = [r["send"] - r["due"] for r in base]
    layer["loadgen.late_ms"] = stats.percentile(late, 95)
    layer["loadgen.backlog"] = max(stats.backlog(base, r["due"]) for r in base)
    tl = stats.due_latencies([r for r in traced if not r["error"]])
    over = stats.percentile(tl, 50) - stats.percentile(lat, 50)
    layer["trace.overhead_op_p50_ms"] = over
    layer["trace.overhead_pct"] = 100.0 * over / stats.percentile(lat, 50)
    res["report"].append("per layer (traced base rung per request; decomposed calls):")
    res["report"] += [_fmt(k, v, "") for k, v in layer.items()]
    res["metrics"] = {k: {"value": v, "unit": _unit(k)} for k, v in layer.items()}
    return res

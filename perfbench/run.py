#!/usr/bin/env python3
"""The repository benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload registry-small --seed 1 --seconds 12 --trace 0

It builds the engine from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the JVM harness
(perfbench/scala/Harness.scala) in a run directory of its own, checks every
timed output (perfbench/check.py) and prints, as its last line, one JSON
object with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`. The line
before it is a report: input manifest, host-noise stamps, sample counts and
the name and reason of every failing query or window.

Workloads, the frozen query lists and the stream parameters live in
perfbench/workloads.json; README.md in this directory explains the metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build   # noqa: E402
import check   # noqa: E402
import gen     # noqa: E402
import stats   # noqa: E402

DEADLINE_S = 170          # a run must end within 180 s once built
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def load_config():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def metric_specs():
    """(end_to_end, per_layer) name -> unit, from BENCHMARK.json."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def host_stamp():
    """Cumulative steal and total CPU jiffies, and the 1-minute load."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    return {"steal": cpu[7] if len(cpu) > 7 else 0, "total": sum(cpu[:8]), "load1": load}


def run_jvm(classes, rundir, heap, args, timeout):
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, os.path.abspath("src/main/resources"),
                          os.path.join(build.spark_jars(), "*")])
    # a fixed heap: the collector then never resizes it in the middle of a run
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xss4m", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", "--rundir", rundir]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    log = os.path.join(rundir, "jvm.log")
    with open(log, "w") as lf:
        # SPARK_LOCAL_DIRS would override spark.local.dir and leave the run dir
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(rundir, "local"))
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=max(10, timeout))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result = os.path.join(args["out"], "result.json")
    if code != 0 or not os.path.exists(result):
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        raise SystemExit(f"harness failed ({code})")
    with open(result) as f:
        return json.load(f)


# ------------------------------------------------------------------ batch

def batch_outcome(res, inputs, names):
    """(attempted, failed, {query: reason}) over every execution. An
    execution fails when it threw, when its result differs from the
    checked warm-up result, or when that result differs from DuckDB."""
    verdict = check.check_batch(inputs, os.path.join(res["_out"], "results"),
                                res["oracle_sql"], names)
    warm = {e["query"]: e["digest"] for e in res["executions"] if e["pass"] == 0}
    reasons, failed = {}, 0
    for e in res["executions"]:
        q = e["query"]
        why = None
        if e["error"] is not None:
            why = e["error"]
        elif verdict.get(q) != "OK":
            why = verdict.get(q, "unchecked")
        elif e["digest"] != warm.get(q):
            why = f"pass {e['pass']} result differs from the checked one"
        if why:
            failed += 1
            reasons.setdefault(q, why)
    return len(res["executions"]), failed, reasons


def batch_e2e(res):
    passes = [p for p in res["passes"] if not p["traced"]]
    timed = {p["pass"] for p in passes}
    ex = [e for e in res["executions"] if e["pass"] in timed]
    lat = [e["ms"] for e in ex]
    by_query = {q: stats.median([e["ms"] for e in ex if e["query"] == q])
                for q in sorted({e["query"] for e in ex})}
    return {
        "setup_s": res["setup"]["setup_ms"] / 1000.0,
        # a pass's cost as the sum of each query's median over the passes:
        # a burst of host load then costs one query one sample, not a pass
        "pass_s": sum(by_query.values()) / 1000.0,
        "pass_cpu_s": stats.median([p["cpu_ms"] for p in passes]) / 1000.0,
        "latency_p50_ms": stats.percentile(lat, 50),
        "latency_p90_ms": stats.percentile(lat, 90),
        "heap_live_mb": res["jvm"]["heap_live_mb"],
    }, {"latency_samples": len(lat), "passes": len(passes),
        "pass_s": [p["wall_ms"] / 1000.0 for p in passes], "query_ms": by_query}


def overhead_pct(passes):
    return 100.0 * stats.tracing_overhead([p["wall_ms"] for p in passes],
                                          [p["traced"] for p in passes])


def traced_layers(res, passes, cores):
    """Layers measured the same way on every workload, per traced pass:
    listener counters, JVM gauges and the tracing overhead."""
    tp = [p for p in passes if p["traced"]]
    n = max(1, len(tp))
    L = res["layers"]
    gauge = lambda k: sum(p[k] for p in tp) / n  # noqa: E731
    wall = sum(p["wall_ms"] for p in tp)
    return {
        "codegen.compile_ms": gauge("codegen_ms"),
        "codegen.compiles": gauge("codegen_compiles"),
        "codegen.fallbacks": res["jvm"]["codegen_fallbacks"] / n,
        "driver.cpu_ms": gauge("cpu_ms") - L.get("exec.cpu_ms", 0.0) / n,
        "jvm.gc_ms": gauge("gc_ms"),
        "jvm.jit_ms": gauge("jit_ms"),
        "jvm.rss_peak_mb": res["jvm"]["rss_peak_mb"],
        "exec.slot_utilization": L.get("exec.run_ms", 0.0) / (wall * cores) if wall else 0.0,
        "trace.overhead_pct": overhead_pct(passes),
        **{k: L.get(k, 0.0) / n for k in SHARED_COUNTERS},
    }


def batch_layers(res, cores):
    tp = [p for p in res["passes"] if p["traced"]]
    n = max(1, len(tp))
    traced = {p["pass"] for p in tp}
    ex = [e for e in res["executions"] if e["pass"] in traced]
    L = res["layers"]
    per = lambda k: L.get(k, 0.0) / n  # noqa: E731
    total_ms = sum(e["ms"] for e in ex) or 1.0
    phase = lambda k: sum(e["catalyst"].get(k, 0.0) for e in ex) / n  # noqa: E731
    # query, build, plan, execute and tables.load spans exist for traced passes only
    self_ms = stats.self_time_by_name(res["spans"])
    covered = [abs(e["build_ms"] + e["plan_ms"] + e["exec_ms"] - e["ms"]) <= 0.1 * e["ms"] for e in ex]
    return {
        "tables.load_ms": per("tables.load_ms"),
        "tables.load_jobs": per("jobs.tables"),
        "build.schema_jobs": per("build.schema_jobs"),
        "build.ms": sum(e["build_ms"] for e in ex) / n,
        "build.jobs": per("jobs.build"),
        "build.share": sum(e["build_ms"] for e in ex) / total_ms,
        "plan.analysis_ms": phase("analysis"),
        "plan.optimization_ms": phase("optimization"),
        "plan.planning_ms": phase("planning"),
        "plan.exchanges": per("plan.exchanges"),
        "plan.custom_execs": per("plan.custom_execs"),
        "plan.sort_fallbacks": per("plan.custom.sortFallbacks"),
        "storage.residual_bytes": stats.median([p["residual_bytes"] for p in tp]) if tp else 0.0,
        "span.build_ms": self_ms.get("build", 0.0) / n,
        "span.plan_ms": self_ms.get("plan", 0.0) / n,
        "span.execute_ms": self_ms.get("execute", 0.0) / n,
        "span.query_other_ms": self_ms.get("query", 0.0) / n,
        "span.tables_ms": self_ms.get("tables.load", 0.0) / n,
        "trace.span_coverage": sum(covered) / len(covered) if covered else 0.0,
        **traced_layers(res, res["passes"], cores),
    }


SHARED_COUNTERS = [
    "sched.jobs", "sched.stages", "sched.tasks", "sched.delay_ms",
    "exec.run_ms", "exec.cpu_ms", "exec.gc_ms",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms",
    "spill.memory_bytes", "spill.disk_bytes", "storage.output_bytes"]


# ----------------------------------------------------------------- stream

def _batches(progress):
    return [(p["batch"], int(p["end_offset"]) if p["end_offset"] else -1) for p in progress]


def stream_latency(res):
    o = res["open"]
    commits = {b: end for b, _, end in o["commits"]}
    return stats.open_loop_latencies(o["start_ms"], o["rate"], o["adds"],
                                     _batches(o["progress"]), commits)


def stream_outcome(res, events, window_ms, shift_ms):
    out, reasons, attempted, failed = res["_out"], {}, 0, 0
    for phase in ("open", "drain"):
        exp = check.reference_counts(events, res[phase]["events"], window_ms, shift_ms)
        got = check.read_counts(os.path.join(out, f"{phase}_counts.tsv"))
        bad = check.compare_counts(got, exp)
        attempted += len(exp)
        failed += len(bad)
        for (start, word), g, e in bad[:20]:
            reasons[f"{phase} window {start} word {word}"] = f"engine={g} reference={e}"
    return attempted, failed, reasons


def stream_e2e(res):
    lat, _, _ = stream_latency(res)
    passes = [p for p in res["drain"]["passes"] if not p["traced"]]
    return {
        "setup_s": res["setup"]["setup_ms"] / 1000.0,
        "pass_s": stats.median([p["wall_ms"] for p in passes]) / 1000.0,
        "pass_cpu_s": stats.median([p["cpu_ms"] for p in passes]) / 1000.0,
        "latency_p50_ms": stats.percentile(lat, 50),
        "latency_p90_ms": stats.percentile(lat, 90),
        "heap_live_mb": res["jvm"]["heap_live_mb"],
    }, {"latency_samples": len(lat), "passes": len(passes),
        "pass_s": [p["wall_ms"] / 1000.0 for p in passes]}


def stream_layers(res, cores):
    o, d = res["open"], res["drain"]
    lat, lag, backlog = stream_latency(res)
    data = [p for p in o["progress"] if p["rows"] > 0]
    dur = lambda k: stats.median([p["durations"].get(k, 0.0) for p in data]) if data else 0.0  # noqa: E731
    states = [p["state"] for p in o["progress"] + d["progress"] if p["state"]]
    commits = {b: (s, e) for b, s, e in o["commits"]}
    sink = [commits[p["batch"]][1] - commits[p["batch"]][0] for p in data if p["batch"] in commits]
    # batch spans on the recorder's clock, with the sink commit as child
    spans, covered = [], []
    for i, p in enumerate(data):
        start = p["start_ms"] - res["epoch0_ms"]
        end = start + p["durations"].get("triggerExecution", 0.0)
        spans.append({"id": 2 * i, "parent": -1, "name": "stream.batch", "start": start, "end": end})
        if p["batch"] in commits:
            s, e = commits[p["batch"]]
            spans.append({"id": 2 * i + 1, "parent": 2 * i, "name": "sink", "start": s, "end": e})
            covered.append(start - 5 <= s and e <= end + 5)
    self_ms = stats.self_time_by_name(spans)
    eps = [p["events"] / (p["wall_ms"] / 1000.0) for p in d["passes"]]
    return {
        "stream.batches": len(o["progress"]),
        "stream.nodata_batches": len(o["progress"]) - len(data),
        "stream.batch_ms_p50": dur("triggerExecution"),
        "stream.add_batch_ms": dur("addBatch"),
        "stream.query_planning_ms": dur("queryPlanning"),
        "stream.wal_commit_ms": dur("walCommit"),
        "stream.commit_offsets_ms": dur("commitOffsets"),
        "stream.state_rows": max((s.get("rows", 0.0) for s in states), default=0.0),
        "stream.state_bytes": max((s.get("bytes", 0.0) for s in states), default=0.0),
        "stream.state_commit_ms": stats.median([s.get("commit_ms", 0.0) for s in states]) if states else 0.0,
        "stream.late_rows_dropped": sum(s.get("dropped", 0.0) for s in states),
        "stream.backlog_max": backlog,
        "stream.generator_lag_ms": stats.percentile(lag, 99) if lag else 0.0,
        "stream.sink_ms": stats.median(sink) if sink else 0.0,
        "stream.eps": stats.median(eps) if eps else 0.0,
        "stream.eps_1core": res["jvm"]["eps_1core"],
        "stream.cpu_ms_per_kevent": o["cpu_ms"] / (o["events"] / 1000.0) if o["events"] else 0.0,
        "span.stream_batch_ms": self_ms.get("stream.batch", 0.0) / max(1, len(data)),
        "trace.span_coverage": sum(covered) / len(covered) if covered else 0.0,
        **traced_layers(res, d["passes"], cores),
    }


# ------------------------------------------------------------------- main

def session_layers(res):
    return {k: res["setup"][k] for k in
            ("session.start_ms", "session.attach_ms", "session.warmup_ms")}


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    cfg = load_config()
    if a.workload not in cfg["workloads"]:
        raise SystemExit(f"unknown workload {a.workload}; known: {sorted(cfg['workloads'])}")
    w = cfg["workloads"][a.workload]
    e2e_units, layer_units = metric_specs()
    root = os.getcwd()
    classes = build.build(root)
    built = time.time()
    cores = max(1, min(cfg["cores"], os.cpu_count() or 1))
    bdir = os.path.join(root, build.build_dir())
    host0 = host_stamp()
    stream = None
    if w["kind"] == "stream":
        stream = {k: w[k] for k in ("n", "vocab", "zipf_s", "events_per_s", "jitter_ms")}
    inputs = gen.materialize(os.path.join(bdir, "inputs"), a.seed, w.get("sf", 0), stream)
    rundir = os.path.join(bdir, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    out = os.path.join(rundir, "out")
    # a fixed number of passes per run (at least two): every run then
    # measures the same work at the same point of the JVM's warm-up. A
    # traced run adds one, so that its traced passes sit between untraced ones.
    jargs = {"workload": w["kind"], "inputs": inputs, "out": out, "seconds": a.seconds, "trace": a.trace,
             "cores": cores, "passes": max(2, round(a.seconds / w["nominal_pass_s"])) + a.trace}
    if stream:
        events = []
        with open(os.path.join(inputs, "stream_events.tsv")) as f:
            for line in f:
                t, s = line.rstrip("\n").split("\t", 1)
                events.append((int(t), s))
        span = max(t for t, _ in events) - min(t for t, _ in events)
        win = w["window_ms"]
        shift = -(-(span + w["watermark_ms"] + win) // win) * win
        jargs.update(rate=w["rate"], chunk=w["chunk"], tick_ms=w["tick_ms"], window=f"{win // 1000} seconds",
                     watermark=f"{w['watermark_ms'] // 1000} seconds", shift_ms=shift)
    else:
        jargs.update(queries=",".join(w["queries"]), warmups=w["warmups"])
    try:
        res = run_jvm(classes, rundir, w["heap"], jargs, DEADLINE_S - (time.time() - built))
        res["_out"] = out
        if stream:
            attempted, failed, reasons = stream_outcome(res, events, w["window_ms"], shift)
            e2e, samples = stream_e2e(res)
            layers = stream_layers(res, cores) if a.trace else {}
        else:
            attempted, failed, reasons = batch_outcome(res, inputs, w["queries"])
            e2e, samples = batch_e2e(res)
            layers = batch_layers(res, cores) if a.trace else {}
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    host1 = host_stamp()
    dt = max(1, host1["total"] - host0["total"])
    if a.trace:
        # too noisy between runs on a shared 4-core host to gate on (IQR
        # over 10 seeds up to 29% of the median), so reported per layer
        layers.update({k: e2e[k] for k in ("pass_cpu_s", "latency_p90_ms")})
        traces = os.path.join(bdir, "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump(res["spans"], f)
        layers.update(session_layers(res))
        layers["error_rate"] = failed / attempted
        layers["host.steal_pct"] = 100.0 * (host1["steal"] - host0["steal"]) / dt
        layers["host.load_avg"] = host1["load1"]
        values, units = layers, layer_units
    else:
        values, units = e2e, e2e_units
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cores": cores, "inputs_manifest": res["manifest"], "samples": samples,
        "host": {"before": host0, "after": host1,
                 "steal_pct": 100.0 * (host1["steal"] - host0["steal"]) / dt},
        "build_s": round(built - started, 3), "run_s": round(time.time() - started, 3),
        "failures": reasons,
    }
    print(json.dumps(report, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

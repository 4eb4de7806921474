#!/usr/bin/env python3
"""The repo benchmark. One run of one workload:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Builds the engine and the JVM harness from source on first use (sbt,
cached under perfbench/.work by a fingerprint of the sources), copies the
fixed input tables of perfbench/data into a fresh run directory (the seed
sets only the DAG's query order and the stream's arrival schedule), runs
the harness in a fresh JVM,
checks every output and prints one JSON object as the last stdout line:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. Exits 1 when an output is wrong, 2 when it cannot run.
Workloads, metrics and their definitions live in perfbench/design.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics as M  # noqa: E402

DESIGN = json.load(open(os.path.join(HERE, "design.json")))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
JVM_MODULES = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def fingerprint():
    """Hash of every source and build file the build reads."""
    h = hashlib.sha1()
    for top in ("src/main", "project", "perfbench/src", "perfbench/project"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    h.update(open(p, "rb").read())
    for f in ("build.sbt", "perfbench/build.sbt"):
        h.update(open(os.path.join(ROOT, f), "rb").read())
    return h.hexdigest()


def classpath():
    """Compile engine + harness once per source state; return the
    runtime classpath."""
    stamp = os.path.join(WORK, "build.json")
    fp = fingerprint()
    if os.path.exists(stamp):
        b = json.load(open(stamp))
        if b.get("fingerprint") == fp:
            return b["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    lines = [l for l in r.stdout.splitlines() if ".jar" in l]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-2000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(WORK, exist_ok=True)
    json.dump({"fingerprint": fp, "classpath": cp}, open(stamp, "w"))
    return cp


def log_time(what, since):
    print(f"perfbench: {what} {time.time() - since:.1f} s", file=sys.stderr)


def run_jvm(cp, args, run_dir):
    """Run the harness with its working and temporary files in run_dir."""
    t = time.time()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", *[f"--add-opens={m}=ALL-UNNAMED" for m in JVM_MODULES],
           "-Xmx3g", "-XX:ReservedCodeCacheSize=1g",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Harness", *args]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=run_dir)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        tail = open(log_path).read()[-3000:]
        sys.stderr.write(tail)
        fail(f"harness exited with {code}")
    log_time("jvm", t)


# ---------------------------------------------------------------- DAG

def dag_plan(seed, check_every):
    """(phase, query, checked) in DAG phase order, queries shuffled within
    each phase by seed. A run checks every `check_every`-th query of the
    frozen list, starting at seed mod `check_every`, so that consecutive
    seeds check every query."""
    rng = np.random.default_rng(seed)
    plan, i = [], 0
    for phase, names in DESIGN["workloads"]["reference_dag"]["phases"]:
        checked = [(i + k) % check_every == seed % check_every
                   for k in range(len(names))]
        i += len(names)
        plan += [(phase, names[j], checked[j])
                 for j in rng.permutation(len(names))]
    return plan


def run_dag(cp, run_dir, seed, seconds, trace):
    spec = DESIGN["workloads"]["reference_dag"]
    data = os.path.join(run_dir, "data")
    shutil.copytree(os.path.join(HERE, spec["tables"]), data)
    plan = dag_plan(seed, spec["check_every"])
    plan_file = os.path.join(run_dir, "plan.tsv")
    with open(plan_file, "w") as f:
        f.writelines(f"{p}\t{q}\t{'check' if c else 'skip'}\n"
                     for p, q, c in plan)
    out = os.path.join(run_dir, "out")
    os.makedirs(out)
    run_jvm(cp, ["--workload", "reference_dag", "--data", data,
                 "--plan", plan_file, "--out", out, "--trace", str(trace)],
            run_dir)
    r = json.load(open(os.path.join(out, "result.json")))
    names = [q for _, q, _ in plan]
    errors = {q["name"]: q["error"] for q in r["queries"] if q["error"]}
    errors.update(r["check_errors"])
    t = time.time()
    import oracle  # DuckDB is needed by this workload only
    checked = oracle.check_queries(
        data, os.path.join(out, "check"), r["oracle_sql"],
        [q for _, q, c in plan if c and q not in errors])
    errors.update({n: why for n, why in checked.items() if why})
    log_time(f"oracle (jvm check writes {r['check_s']:.1f} s)", t)

    e2e = {
        "setup_s": r["session_ready_s"],
        "pass_s": r["pass_s"],
        "live_heap_mb": r["heap_mb"],
    }
    layer, spans = {}, []
    if trace:
        layer, spans = dag_layers(r)
        op_ms = [q["end_ms"] - q["start_ms"] for q in r["queries"]]
        layer["op_p50_ms"] = M.percentile(op_ms, 0.5)
        layer["op_tail_ms"] = M.tail_percentile(op_ms, 0.9)
    return e2e, layer, spans, len(names), errors


def dag_layers(r):
    t = r["trace"]
    jobs = [j for j in t["jobs"] if j["phase"] in ("build", "action")]
    layer = {
        "tables.infer_jobs": sum(1 for j in jobs if j["infer"]),
        "tables.infer_s": sum(j["end_ms"] - j["start_ms"]
                              for j in jobs if j["infer"]) / 1e3,
        "memos.populate_s": r["memo_populate_s"],
        "memos.populated_n": r["memo_n"],
        "build.s": sum(q["build_end_ms"] - q["start_ms"]
                       for q in r["queries"]) / 1e3,
        "action.s": sum(q["end_ms"] - q["build_end_ms"]
                        for q in r["queries"]) / 1e3,
        "action.plan_s": t["action_plan_ms"] / 1e3,
        "jvm.gc_s": r["jvm"]["gc_s"],
        "jvm.jit_s": r["jvm"]["jit_s"],
        "jvm.cpu_s": r["pass_cpu_s"],
        "trace.pass_s": r["pass_s"],
    }
    for phase in ("build", "action"):
        js = [j for j in jobs if j["phase"] == phase]
        mb = 1e6
        layer.update({
            f"{phase}.jobs": len(js),
            f"{phase}.stages": sum(j["stages"] for j in js),
            f"{phase}.tasks": sum(j["tasks"] for j in js),
            f"{phase}.task_run_s": sum(j["run_ms"] for j in js) / 1e3,
            f"{phase}.task_cpu_s": sum(j["cpu_ns"] for j in js) / 1e9,
            f"{phase}.sched_delay_s":
                sum(j["sched_delay_ms"] for j in js) / 1e3,
            f"{phase}.shuffle_read_mb":
                sum(j["shuffle_read_bytes"] for j in js) / mb,
            f"{phase}.shuffle_write_mb":
                sum(j["shuffle_write_bytes"] for j in js) / mb,
            f"{phase}.spill_mb": sum(j["spill_bytes"] for j in js) / mb,
        })
    for phase, secs in r["phase_s"].items():
        layer[f"pipeline.{phase}.s"] = secs

    spans = []
    for q in r["queries"]:
        qid = f"q:{q['name']}"
        spans += [
            dict(id=qid, parent=None, trace=q["name"], kind="query",
                 name=q["name"], start_ms=q["start_ms"], end_ms=q["end_ms"]),
            dict(id=qid + "/build", parent=qid, trace=q["name"],
                 kind="build", name="build", start_ms=q["start_ms"],
                 end_ms=q["build_end_ms"]),
            dict(id=qid + "/action", parent=qid, trace=q["name"],
                 kind="action", name="action", start_ms=q["build_end_ms"],
                 end_ms=q["end_ms"])]
    for j in jobs:
        parent = f"q:{j['query']}/{j['phase']}"
        spans.append(dict(id=f"job:{j['id']}", parent=parent,
                          trace=j["query"], kind="job",
                          name=f"job {j['id']}", start_ms=j["start_ms"],
                          end_ms=j["end_ms"]))
    return layer, spans


# ------------------------------------------------------------- stream

def arrival_offsets(seed, n, rate):
    """Poisson arrivals: n offsets in ms, exponential gaps at `rate`/s."""
    gaps = np.random.default_rng(seed + 1).exponential(1000.0 / rate, n)
    return [int(x) for x in np.cumsum(gaps)]


def run_stream(cp, run_dir, seed, seconds, trace):
    spec = DESIGN["workloads"]["cdc_stream"]
    slices = os.path.join(run_dir, "slices")
    phase_a = spec["phase_a_slices"]
    phase_b = max(1, round(spec["live_rate_per_s"] * seconds))
    counts = gen.write_kafka_slices(
        slices, os.path.join(HERE, spec["events"]), phase_a + phase_b)
    names = sorted(os.listdir(slices))
    src, staging = (os.path.join(run_dir, d) for d in ("src", "staging"))
    os.makedirs(src)
    os.makedirs(staging)
    # Phase-A files keep their order through strictly increasing mtimes.
    base = time.time() - 3600
    for i, n in enumerate(names):
        dst = os.path.join(src if i < phase_a else staging, n)
        os.rename(os.path.join(slices, n), dst)
        if i < phase_a:
            os.utime(dst, (base + i, base + i))
    live = names[phase_a:]
    offsets = arrival_offsets(seed, len(live), spec["live_rate_per_s"])
    arrivals = os.path.join(run_dir, "arrivals.tsv")
    with open(arrivals, "w") as f:
        f.writelines(f"{n}\t{o}\n" for n, o in zip(live, offsets))
    out = os.path.join(run_dir, "out")
    os.makedirs(out)
    run_jvm(cp, ["--workload", "cdc_stream", "--src", src,
                 "--staging", staging, "--arrivals", arrivals,
                 "--phase-a", str(phase_a), "--events", str(sum(counts)),
                 "--out", out, "--trace", str(trace)],
            run_dir)
    r = json.load(open(os.path.join(out, "result.json")))
    log_time("sink checks", time.time() - r["check_s"])
    errors = {f"check:{k}": c.get("detail") or json.dumps(c)
              for k, c in r["checks"].items() if not c["ok"]}
    chains = r["chains"]
    attempted = len(chains) * len(names) + len(r["checks"])
    # Open loop: latency runs from when a slice was due, so a stall also
    # counts against the slices scheduled behind it.
    due = {n: v - late for n, v, late in
           zip(r["arrivals"], r["visible_ms"], r["late_ms"])}
    latencies, catchup_end, data_ends = [], 0, []
    for c, rec in chains.items():
        if rec["error"]:
            errors[f"chain:{c}"] = rec["error"]
        data = [p for p in rec["progress"] if p["rows"] > 0]
        for k in range(len(data), len(names)):
            errors[f"batch:{c}:{k}"] = "slice never processed"
        ends = M.batch_end_ms(rec["progress"])
        data_ends.append(sorted(ends[p["batch_id"]] for p in data))
        try:
            s2b = M.slice_batches(M.read_source_log(rec["checkpoint"]),
                                  names, rec["progress"])
        except ValueError as e:
            errors[f"slices:{c}"] = str(e)
            continue
        catchup_end = max(catchup_end, ends[s2b[names[phase_a - 1]]])
        latencies += M.slice_latencies(due, s2b, ends)
    if errors and not latencies:
        return {}, {}, [], attempted, errors
    backlog = M.backlog_at(r["visible_ms"], phase_a, data_ends)
    # Open loop: when a chain needs longer per slice than slices take to
    # arrive, its queue grows and latency measures the queue, not the
    # engine.
    busy = max(M.utilization(rec["progress"], r["live_start_ms"],
                             spec["live_rate_per_s"])
               for rec in chains.values())
    if busy > 1:
        print(f"perfbench: live phase over capacity (utilization "
              f"{busy:.2f}, backlog up to {max(backlog)} slices): the "
              f"latency figures measure the queue", file=sys.stderr)
    catchup_s = (catchup_end - r["t0_ms"]) / 1e3
    e2e = {
        "setup_s": r["session_ready_s"] + statistics.median(
            r["setup_cycles_s"]),
        "pass_s": catchup_s,
        "live_heap_mb": r["heap_mb"],
    }
    layer, spans = {}, []
    if trace:
        layer, spans = stream_layers(r, catchup_s, sum(counts[:phase_a]))
        layer.update({
            "op_p50_ms": M.percentile(latencies, 0.5),
            "op_tail_ms": M.tail_percentile(latencies, 0.9),
            "source.backlog_max": max(backlog),
            "source.utilization_max": busy,
        })
    return e2e, layer, spans, attempted, errors


PART_ORDER = ["latestOffset", "walCommit", "getBatch", "queryPlanning",
              "addBatch", "commitBatch", "commitOffsets"]


def stream_layers(r, catchup_s, catchup_events):
    layer = {
        "gen.late_ms_max": max(r["late_ms"]),
        "stream.catchup_events_per_s": catchup_events / catchup_s,
        "jvm.gc_s": r["jvm"]["gc_s"],
        "jvm.jit_s": r["jvm"]["jit_s"],
        "jvm.cpu_s": r["catchup_cpu_s"],
        "trace.pass_s": catchup_s,
    }
    spans = []
    for c, rec in r["chains"].items():
        ps = rec["progress"]
        data = [p for p in ps if p["rows"] > 0]
        med = lambda f: statistics.median(f(p) for p in data)  # noqa: E731
        dur = lambda k: med(lambda p: p["duration_ms"].get(k, 0))  # noqa
        last = ps[-1]
        layer.update({
            f"stream.{c}.batches": len(data),
            f"stream.{c}.batch_ms_p50": dur("triggerExecution"),
            f"stream.{c}.add_batch_ms": dur("addBatch"),
            f"stream.{c}.query_planning_ms": dur("queryPlanning"),
            f"stream.{c}.commit_ms": med(
                lambda p: p["duration_ms"].get("walCommit", 0) +
                p["duration_ms"].get("commitOffsets", 0)),
            f"stream.{c}.latest_offset_ms": dur("latestOffset"),
            f"stream.{c}.state_rows": last["state_rows"],
            f"stream.{c}.state_mem_mb": last["state_mem_bytes"] / 1e6,
            f"stream.{c}.state_commit_ms": med(
                lambda p: p["state_commit_ms"]),
            f"stream.{c}.watermark_dropped": sum(
                p["dropped_by_watermark"] for p in ps),
        })
        ends = M.batch_end_ms(ps)
        cid = f"chain:{c}"
        spans.append(dict(id=cid, parent=None, trace=c, kind="chain", name=c,
                          start_ms=r["t0_ms"], end_ms=max(ends.values())))
        for p in ps:
            bid = f"{cid}/batch:{p['batch_id']}"
            trace = f"{c}:{p['batch_id']}"
            spans.append(dict(id=bid, parent=cid, trace=trace, kind="batch",
                              name=f"batch {p['batch_id']}",
                              start_ms=p["start_ms"],
                              end_ms=ends[p["batch_id"]]))
            # Progress reports part durations only; they are laid out in
            # execution order from the batch start.
            t = p["start_ms"]
            parts = sorted((k for k in p["duration_ms"]
                            if k != "triggerExecution"),
                           key=lambda k: (PART_ORDER.index(k)
                                          if k in PART_ORDER else 99, k))
            for k in parts:
                d = p["duration_ms"][k]
                spans.append(dict(id=f"{bid}/{k}", parent=bid, trace=trace,
                                  kind="part", name=k, start_ms=t,
                                  end_ms=t + d))
                t += d
    return layer, spans


# --------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(DESIGN["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found next to perfbench/")
    spec = DESIGN["workloads"][a.workload]
    if spec.get("dropped"):
        fail(f"{a.workload} is not run: {spec['dropped']}")
    cp = classpath()
    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        runner = run_dag if a.workload == "reference_dag" else run_stream
        e2e, layer, spans, attempted, errors = runner(
            cp, run_dir, a.seed, a.seconds, a.trace)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for name, why in sorted(errors.items()):
        print(f"FAILED {name}: {why}", file=sys.stderr)
    failed = len(errors)
    if a.trace:
        names = [m["name"] for m in BENCH["per_layer"]]
        layer["failed_ratio"] = failed / attempted
        values = {n: layer.get(n, 0) for n in names}
        spans_dir = os.path.join(WORK, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        selfs = M.self_times(spans)
        for s in spans:
            s["self_ms"] = selfs[s["id"]]
        path = os.path.join(spans_dir, f"{a.workload}-seed{a.seed}.json")
        json.dump({"workload": a.workload, "seed": a.seed, "spans": spans},
                  open(path, "w"))
        print(f"spans: {os.path.relpath(path, ROOT)} ({len(spans)})")
    else:
        values = e2e
    units = {m["name"]: m["unit"]
             for m in BENCH["end_to_end"] + BENCH["per_layer"]}
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "trace": a.trace}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]}
                    for n, v in values.items()},
    }))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft's benchmark: one workload, measured end to end, outputs checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the program from source (first
run only), generates the workload's inputs from the seed, times the set-up
of a few fresh JVMs, drives one JVM at local[nproc] through graft's public
API, checks the outputs, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones (listeners, spans and layer probes), and the spans are
written to .bench_build/traces/. BENCHMARK.json lists the workloads and the
metrics; perfbench/README.md says what each one measures.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import datagen  # noqa: E402
import folds  # noqa: E402
import tables  # noqa: E402

WORKLOADS = ("ingest_drain", "gates")
# sf 0.1 is the scale of the repository's bench tables; at it `documents` is
# over the 512 KiB above which graft's Tables.load spreads its scan, so the
# dedup gates take the path they take at bench scale
GATE_SF = 0.1
# every JVM of a run must have ended this long after the run started
RUN_DEADLINE_S = 170
# fresh JVMs per run whose launch-to-ready times give setup_s, the workload's
# own JVM included; each costs about 10 s, and all the runs a comparison
# needs must fit in under an hour
SETUP_SAMPLES = 2
# build.sbt's heap layout: ParallelGC with a fixed young generation, so eden
# reuses the same pages every cycle, and Xms = Xmx, so nothing is uncommitted
# and faulted in again
HEAP = ["-XX:+UseParallelGC", "-Xms4g", "-Xmx4g", "-Xmn2g"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
# the bounded end-to-end metrics, in BENCHMARK.json order
END_TO_END = {"setup_s": "s", "delay_p50_ms": "ms", "rows_per_s": "rows/s",
              "gates_s": "s", "gates_geomean_s": "s", "peak_rss_mb": "MB"}
# also printed by name on every run, but not bounded: the closed loops have
# too few operations for a tail, and failed_share is 0 when nothing fails
REPORTED = dict(END_TO_END, delay_tail_ms="ms", failed_share="ratio")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def ensure_tables(root):
    """Generated gate tables, made once per checkout and data generator."""
    with open(tables.__file__, "rb") as f:
        stamp = hashlib.sha256(f.read() + str(GATE_SF).encode()).hexdigest()[:16]
    data = os.path.join(root, build.BUILD_DIR, "data", stamp)
    if not os.path.exists(os.path.join(data, "DONE")):
        log(f"generating tables at sf{GATE_SF}")
        shutil.rmtree(data, ignore_errors=True)
        tables.write_tables(data, GATE_SF)
        open(os.path.join(data, "DONE"), "w").close()
    return data, stamp


def private_tmp_supported():
    """graft's landing gates write under /tmp by fixed paths; the JVM runs in
    a private mount namespace with the run's own directory bound on /tmp,
    where the host allows it."""
    try:
        return subprocess.run(["unshare", "--mount", "--propagation", "private", "true"],
                              capture_output=True, timeout=10).returncode == 0
    except (OSError, subprocess.TimeoutExpired):
        return False


def run_jvm(classpath, jvm_dir, jvm_args, private, timeout_s):
    """Runs the harness with `jvm_args` plus its launch time; returns its
    exit code (None on timeout). Its /tmp and log are under `jvm_dir`."""
    tmp = os.path.join(jvm_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + HEAP + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Harness"] + jvm_args)
    if private:
        cmd = ["unshare", "--mount", "--propagation", "private", "sh", "-c",
               'mount --bind "$0" /tmp && exec "$@"', tmp] + cmd
    else:
        cmd = cmd[:1] + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}"] + cmd[1:]
    with open(os.path.join(jvm_dir, "jvm.log"), "w") as out:
        cmd.append(f"launched_ms={time.time() * 1000:.3f}")
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, timeout_s))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    if not private:
        # without a private /tmp the program's pid-suffixed dirs land on the
        # host's /tmp; remove what this JVM left there
        for path in glob.glob("/tmp/graft_*/*"):
            if str(proc.pid) in os.path.basename(path):
                shutil.rmtree(path, ignore_errors=True)
    return code


# ---- folds per workload: (metrics, attempted, failures, wrong, layer data) ----

def op_metrics(op_ms, busy_ms, rows, wall_ms):
    """The end-to-end metrics every workload shares, from its operations:
    per-operation delays, per-operation busy times, input rows and wall."""
    m = {"delay_p50_ms": folds.median(op_ms),
         "gates_s": sum(busy_ms) / 1000,
         "gates_geomean_s": folds.geomean([b / 1000 for b in busy_ms]),
         "rows_per_s": rows / (wall_ms / 1000)}
    # with 10 operations or fewer no percentile has 10 beyond it: the maximum
    m["delay_tail_ms"], m["_tail_pct"], m["_tail_n"] = (
        folds.tail(op_ms) or (max(op_ms), 100.0, len(op_ms)))
    return m


def fold_ingest(params, rec):
    """An operation is a batch. Each is due when the previous one ended, so
    its delay is its own duration, trigger start to the sink's end."""
    progress = {p["batch"]: p for p in rec["progress"]}
    batches = rec["batches"]
    failures, wrong = [], []
    if rec["error"]:
        failures.append(f"query failed: {rec['error']}")
        wrong.append(failures[-1])
    per_second = [(v, r) for v, r, d in params["phases"] for _ in range(d)]
    op_ms = [b["sinkEndMs"] - progress[b["batch"]]["trigger_start_ms"]
             for b in batches if b["batch"] in progress]
    got_total = {}
    for b in batches:
        got = {(s["_1"], s["_2"]): s["_3"] for s in b["stats"]}
        for k, c in got.items():
            got_total[k] = got_total.get(k, 0) + c
        p = progress.get(b["batch"])
        want = None
        if p is not None:
            want = {}
            for v, r in per_second[int(p["start_offset"] or 0):int(p["end_offset"])]:
                want[(v, 0)] = want.get((v, 0), 0) + r
        if got != want:
            failures.append(f"batch {b['batch']}: counts {got} != plan {want}")
            wrong.append(failures[-1])
    rows = sum(got_total.values())
    if rows != params["rows"]:
        wrong.append(f"rows over all batches {rows} != plan {params['rows']}")
    busy = [progress[b["batch"]]["duration_ms"]["triggerExecution"]
            for b in batches if b["batch"] in progress]
    first = min(p["trigger_start_ms"] for p in progress.values())
    wall = max(b["sinkEndMs"] for b in batches) - first
    m = op_metrics(op_ms, busy, rows, wall)
    layer = {"run_id": rec["run_id"], "batch_ids": {b["batch"] for b in batches},
             "sink_ms": [b["sinkEndMs"] - b["sinkStartMs"] for b in batches]}
    return m, max(1, len(batches)), failures, wrong, layer


def gate_input_rows(sql, table_rows):
    """Rows of the tables a gate reads, found in its oracle SQL."""
    words = set(re.findall(r"[a-z_]+", (sql or "").lower()))
    return sum(n for t, n in table_rows.items() if t in words)


def fold_gates(rec, check, oracle_failures, table_rows):
    """A gate's time is the fastest of its runs: the first loop runs on a
    JIT still warming, and co-resident load on a shared host only ever adds
    time. A gate whose checked output is wrong fails every run. The delays
    are those of whole loops over the gates, each due when the previous one
    ended: a median over the runs of six different gates would jump from
    one gate to another. A loop's delay is the sum of its runs."""
    per_gate, failures, wrong = {}, [], []
    for r in rec["runs"]:
        per_gate.setdefault(r["gate"], []).append(r["end_ms"] - r["start_ms"])
        if r["error"]:
            failures.append(f"{r['gate']} loop {r['loop']}: {r['error']}")
            wrong.append(failures[-1])
    for gate, why in oracle_failures.items():
        runs = len(per_gate.get(gate, []))
        failures += [f"{gate}: {why}"] * max(1, runs)
        wrong.append(f"{gate}: {why}")
    best = {g: min(v) for g, v in per_gate.items()}
    rows = sum(gate_input_rows(check[g]["oracle"], table_rows) for g in best)
    loops = {}
    for r in rec["runs"]:
        loops[r["loop"]] = loops.get(r["loop"], 0.0) + r["end_ms"] - r["start_ms"]
    m = op_metrics(list(loops.values()),
                   list(best.values()), rows, sum(best.values()))
    layer = {"gate_runs_ms": per_gate, "loops": rec["loops"]}
    return m, len(rec["runs"]), failures, wrong, layer


def fold(workload, params, rec, check=None, oracle_failures=None, table_rows=None):
    if workload == "gates":
        return fold_gates(rec, check, oracle_failures, table_rows)
    return fold_ingest(params, rec)


# ---- the traced run's per-layer metrics ----

def per_layer(raw, e2e, untraced_e2e, layer, cores, trace_path):
    """The traced run's per-layer metrics; writes the spans to trace_path."""
    lst = raw["listeners"]
    spans = list(raw["spans"])
    segments = [s for s in spans if s["name"] == "workload"]
    wall = sum(s["end_ms"] - s["start_ms"] for s in segments)
    ops = [s for s in spans if s["name"].startswith(("batch:", "gate:"))]
    # Spark jobs become spans under the operation, else the traced segment,
    # whose interval holds their start
    for j in lst["jobs"]:
        if "end_ms" not in j:
            continue
        parent = next((o["id"] for o in ops + segments
                       if o["start_ms"] <= j["start_ms"] <= o["end_ms"]), None)
        spans.append({"id": f"job:{j['job']}", "name": f"job:{j['job']}", "start_ms": j["start_ms"],
                      "end_ms": j["end_ms"], "parent": parent, "run_id": segments[0]["run_id"]})
    self_ms = folds.self_times(spans)
    os.makedirs(os.path.dirname(trace_path), exist_ok=True)
    with open(trace_path, "w") as f:
        json.dump([dict(s, self_ms=self_ms[s["id"]]) for s in spans], f)

    stages = lst["stages"]
    task_run_ms = sum(s["task_run_ms"] for s in stages)
    tails = [(s["completed_ms"] - s["max_task_ms"], s["completed_ms"])
             for s in stages if s["completed_ms"] > 0]
    critical = sum(folds.covered(tails, g["start_ms"], g["end_ms"]) for g in segments)
    m = {
        "spark.jobs": len(lst["jobs"]), "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.task_run_s": task_run_ms / 1000,
        "spark.task_cpu_s": sum(s["task_cpu_ns"] for s in stages) / 1e9,
        "spark.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "spark.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "spark.spill_bytes": sum(s["spill_bytes"] for s in stages),
        "spark.output_bytes": sum(s["output_bytes"] for s in stages),
        "spark.gc_s": lst["gc_s"],
        "spark.eff_parallelism": task_run_ms / (wall * cores),
        "spark.driver_floor_share": 1 - critical / wall,
        "trace.spans": len(spans),
        "trace.op_self_share": sum(self_ms[o["id"]] for o in ops)
        / max(1e-9, sum(o["end_ms"] - o["start_ms"] for o in ops)),
        "trace.workload_self_s": sum(self_ms[g["id"]] for g in segments) / 1000,
    }
    for k in OVERHEAD:
        m[f"trace.overhead.{k}"] = e2e[k] - untraced_e2e[k]

    def p50(xs):
        return folds.median(xs) if xs else 0.0
    # the measured query's triggers, as the StreamingQueryListener saw them
    progress = [p for p in lst["progress"]
                if p["run_id"] == layer.get("run_id") and p["batch"] in layer.get("batch_ids", ())]
    dur = lambda key: p50([p["duration_ms"].get(key, 0) for p in progress])  # noqa: E731
    m.update({
        "sources.latest_offset_ms": dur("latestOffset"), "sources.get_batch_ms": dur("getBatch"),
        "streaming.query_planning_ms": dur("queryPlanning"), "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.trigger_ms": dur("triggerExecution"), "streaming.add_batch_ms": dur("addBatch"),
        "streaming.batch_stats_ms": p50(layer.get("sink_ms", [])),
    })
    jobs_by_group = {}
    for j in lst["jobs"]:
        jobs_by_group[j["group"]] = jobs_by_group.get(j["group"], 0) + 1
    runs = {}
    for s in ops:
        if s["name"].startswith("gate:"):
            runs.setdefault(s["name"][5:], []).append(s["end_ms"] - s["start_ms"])
    for gate in datagen.GATES:
        m[f"operators.{gate}_s"] = p50(runs.get(gate, [])) / 1000
        m[f"operators.{gate}_jobs"] = jobs_by_group.get(gate, 0) / max(1, len(runs.get(gate, [])))
    probes = dict(raw["probes"]["values"])
    probes.update(probes.pop("landing", {}))
    m.update(probes)
    return m, raw["probes"]["errors"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    classpath = build.build(root)
    cores = len(os.sched_getaffinity(0))
    # a traced ingest run measures the workload twice, traced then untraced
    pass_seconds = a.seconds if not a.trace or a.workload == "gates" else max(1, a.seconds // 2)
    params = datagen.workload_inputs(a.workload, a.seed, pass_seconds)
    inputs_by_file = {a.workload: params}
    if a.workload == "gates" or a.trace:
        data, data_stamp = ensure_tables(root)
        params["data"] = data
    if a.trace:
        inputs_by_file["probes"] = dict(datagen.probe_inputs(), data=data)
    run_dir = os.path.join(root, build.BUILD_DIR, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    os.makedirs(inputs)
    for name, kv in inputs_by_file.items():
        with open(os.path.join(inputs, f"{name}.properties"), "w") as f:
            for k, v in kv.items():
                if k != "phases":
                    f.write(f"{k}={v}\n".replace("\\", "\\\\"))
    private = private_tmp_supported()
    # the first run in a checkout builds first; the deadline starts after it
    started = time.time()

    def harness(name, workload):
        """One JVM of the run, in its own directory; returns its raw record."""
        jvm_dir = os.path.join(run_dir, name)
        code = run_jvm(classpath, jvm_dir, [
            f"workload={workload}", f"seconds={pass_seconds}", f"trace={a.trace}",
            f"inputs={inputs}", f"out={jvm_dir}", f"cores={cores}"],
            private, started + RUN_DEADLINE_S - time.time())
        raw_path = os.path.join(jvm_dir, "raw.json")
        if code != 0 or not os.path.exists(raw_path):
            with open(os.path.join(jvm_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit(f"benchmark JVM ({name}) exited with {code}")
        with open(raw_path) as f:
            return json.load(f), jvm_dir

    try:
        # set-up samples in JVMs of their own, then the workload's JVM,
        # whose own set-up is the last sample; the traced run needs none
        setup_ms = [] if a.trace else [harness(f"setup{i}", "setup")[0]["setup_ms"]
                                       for i in range(SETUP_SAMPLES - 1)]
        raw, jvm_dir = harness("workload", a.workload)
        setup_ms.append(raw["setup_ms"])
        extra = {}
        if a.workload == "gates":
            import oracle
            check = raw["workload"]["check"]
            bad = {}
            for gate, c in check.items():
                why = c["error"] or ("gate has no oracle" if not c["oracle"] else oracle.check(
                    gate, jvm_dir, c["oracle"], data, data_stamp,
                    os.path.join(root, build.BUILD_DIR, "oracle")))
                if why:
                    bad[gate] = why
            extra = {"check": check, "oracle_failures": bad,
                     "table_rows": {t: pq_rows(os.path.join(data, f"{t}.parquet")) for t in oracle.TABLES}}
        passes = raw["workload"]
        if a.workload == "gates" and a.trace:
            runs = passes["measured"]["runs"]
            passes = {k: {"runs": [r for r in runs if r["traced"] == traced],
                          "loops": len({r["loop"] for r in runs if r["traced"] == traced})}
                      for k, traced in (("measured", True), ("untraced", False))}
        e2e, attempted, failures, wrong, layer = fold(a.workload, params, passes["measured"], **extra)
        setup_s = folds.median(setup_ms) / 1000
        e2e.update({"setup_s": setup_s, "peak_rss_mb": raw["peak_rss_mb"]})
        failed = len(failures)
        for line in failures[:20]:
            log(f"failed: {line}")
        summary = dict(e2e, failed_share=folds.failed_share(failed, attempted))
        log(f"{a.workload} seed {a.seed}: " + ", ".join(
            f"{k}={summary[k]:.4g} {u}" for k, u in REPORTED.items())
            + f" (tail p{e2e.get('_tail_pct', 0):.0f} of {e2e.get('_tail_n', 0)} ops;"
            f" setup samples {[round(x) for x in setup_ms]} ms;"
            f" MemAvailable {raw['env_start']['mem_available_mb']:.0f}->{raw['env_end']['mem_available_mb']:.0f} MB;"
            f" CPU steal {steal_share(raw['env_start'], raw['env_end']):.1%};"
            f" {raw['env']['master']}, shuffle partitions {raw['env']['shuffle_partitions']},"
            f" heap {' '.join(raw['env']['jvm_flags'])})")
        if "gate_runs_ms" in layer:
            log("gate runs ms: " + ", ".join(f"{g} {[round(x) for x in v]}" for g, v in layer["gate_runs_ms"].items())
                + f"; {layer['loops']} loops")
        if a.trace:
            untraced = fold(a.workload, params, passes["untraced"], **extra)[0]
            trace_path = os.path.join(root, build.BUILD_DIR, "traces",
                                      f"{a.workload}-seed{a.seed}-{os.getpid()}.json")
            metrics, errors = per_layer(raw, e2e, untraced, layer, cores, trace_path)
            for k, v in errors.items():
                log(f"probe {k} failed: {v}")
            log(f"spans written to {os.path.relpath(trace_path, root)}")
            units = dict(PER_LAYER)
            out = {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()}
            failed += len(errors)
            attempted += len(units)
        else:
            out = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
        print(json.dumps({"correct": not wrong, "attempted": attempted, "failed": failed,
                          "metrics": out}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def steal_share(start, end):
    """Share of the host's CPU time the hypervisor stole during the run."""
    total = end["cpu_jiffies"] - start["cpu_jiffies"]
    return (end["steal_jiffies"] - start["steal_jiffies"]) / total if total > 0 else 0.0


def pq_rows(path):
    import pyarrow.parquet as pq
    return pq.ParquetFile(path).metadata.num_rows


# end-to-end metrics whose traced-minus-untraced difference is reported
OVERHEAD = ("delay_p50_ms", "delay_tail_ms", "rows_per_s", "gates_s", "gates_geomean_s")
# per-layer metric -> unit, in BENCHMARK.json order
PER_LAYER = (
    [("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
     ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"), ("spark.shuffle_read_bytes", "bytes"),
     ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
     ("spark.output_bytes", "bytes"), ("spark.gc_s", "s"), ("spark.eff_parallelism", "ratio"),
     ("spark.driver_floor_share", "ratio"), ("spark.core_scaling", "ratio"),
     ("plans.rows_per_s", "rows/s"), ("sources.scan_rows_per_s", "rows/s"),
     ("sources.latest_offset_ms", "ms"), ("sources.get_batch_ms", "ms"),
     ("streaming.query_planning_ms", "ms"),
     ("streaming.wal_commit_ms", "ms"), ("streaming.trigger_ms", "ms"),
     ("streaming.add_batch_ms", "ms"), ("streaming.batch_stats_ms", "ms"),
     ("streaming.land_batch_ms", "ms"), ("streaming.compact_s", "s"), ("streaming.read_live_s", "s"),
     ("functions.hanoi_rows_per_s", "rows/s")]
    + [(f"functions.{f}_rows_per_s", "rows/s") for f in (
        "argmax_cosine", "bloom_agg", "bloom_contains", "collect_capped", "cosine", "hash60",
        "hilbert", "md5_slices", "min_k", "pq_sub_dists", "regexp_count")]
    + [(f"operators.{g}_{k}", u) for g in datagen.GATES for k, u in (("s", "s"), ("jobs", "count"))]
    + [("trace.spans", "count"), ("trace.op_self_share", "ratio"), ("trace.workload_self_s", "s")]
    + [(f"trace.overhead.{k}", REPORTED[k]) for k in OVERHEAD])


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the library and the harness from source (build.py), makes the
workload's inputs from the seed (gen.py), runs the harness in one JVM on
local[4], checks every output with DuckDB (checks.py), and prints one
`metric NAME VALUE` line per measured figure followed by a last line holding
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are BENCHMARK.json's end-to-end ones, from a run with
no tracing; with --trace 1 its per-layer ones, from a run that records
spans and listener counters. The run's full record (raw measurements,
checks, statistics, the host noise bracket) and its spans are written to
.bench_work/artifacts/.
"""
import argparse
import hashlib
import json
import os
import re
import resource
import shutil
import subprocess
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("cdc_replicate", "olap_cdc", "llm_ops")
JVM_TIMEOUT_S = 170
SETUPS = 5
CDC_TARGET_KEYS = 200_000
# Untimed passes between the cold pass and the timed ones: the JIT is still
# compiling Spark's planner and scheduler for the first few warm passes,
# which run up to half again as long as the later ones.
WARMUP_PASSES = 4
# The harness's least number of untraced warm passes. The latency tail of a
# query workload is the ten-beyond percentile of queries x this count, so it
# is the same percentile on every run whatever the speed of the passes.
MIN_WARM_PASSES = 4
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
OPERATORS = ("operators.task_cpu_s", "operators.task_run_s", "operators.gc_s", "operators.stages",
             "operators.tasks", "operators.shuffle_write_bytes", "operators.shuffle_read_bytes",
             "operators.spill_bytes")
PLAN = ("queries.plan_analysis_s", "queries.plan_optimization_s", "queries.plan_physical_s")
SCAN = ("Tables.scan_bytes", "Tables.scan_rows")


def read_steal_s():
    """Cumulative steal time of all CPUs from /proc/stat, in seconds."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def run_harness(classes_out, args, work):
    """Run the harness JVM; return the host noise bracket around it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # the parallel collector's stop-the-world pauses left run-to-run figures
    # steadier than G1's concurrent cycles on a 4-core box
    cmd += ["-XX:+UseParallelGC", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-cp", build.classpath(classes_out),
            "graftbench.Main"] + args
    steal0, cpu0, t0 = read_steal_s(), resource.getrusage(resource.RUSAGE_CHILDREN), time.time()
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"harness JVM failed ({code}):\n{tail}")
    cpu1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    return {"host.steal_s": read_steal_s() - steal0,
            "host.process_cpu_s": (cpu1.ru_utime - cpu0.ru_utime) + (cpu1.ru_stime - cpu0.ru_stime),
            "host.wall_s": time.time() - t0}


def median_of(records, key):
    return median([r["layers"][key] for r in records])


# ---------------------------------------------------------------------------
# olap_cdc and llm_ops: closed loop, one client


def query_list(workload):
    with open(os.path.join(HERE, "queries", f"{workload}.txt")) as f:
        return [q.strip() for q in f if q.strip() and not q.startswith("#")]


def fixture_dir():
    """The generated fixture, made once per checkout and generator version."""
    with open(gen.__file__, "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:16]
    path = os.path.join(WORK, f"fixture-{key}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write_fixture(tmp)
        try:
            os.rename(tmp, path)
        except OSError:  # another run made it first
            shutil.rmtree(tmp, ignore_errors=True)
    return path


def query_metrics(raw, verdicts, tail_p):
    """End-to-end figures. A query that threw or gave a wrong output counts
    as failed on every attempt and is left out of every time."""
    ops = raw["ops"]
    bad = {n for n, v in verdicts.items() if v} | {o["name"] for o in ops if not o["ok"]}
    failed = sum(1 for o in ops if o["name"] in bad)
    kept = [o for o in ops if o["name"] not in bad]
    warm = [p for p in raw["passes"] if p["kind"] == "warm" and not p["traced"]]
    timed = {p["pass"] for p in warm}

    def pass_s(p):
        return sum(o["wall_s"] for o in kept if o["pass"] == p)

    lat = [o["wall_s"] for o in kept if o["pass"] in timed]
    tail_ok = stats.tail_percentile(len(lat)) is not None and stats.tail_percentile(len(lat)) >= tail_p
    e2e = {
        "setup_s": median(raw["setups_s"]),
        "cold_pass_s": pass_s(0),
        "warm_pass_s": median([pass_s(p["pass"]) for p in warm]),
        "warm_cpu_s": median([p["cpu_s"] for p in warm]),
        "latency_p50_s": median(lat) if lat else None,
        "latency_tail_s": stats.tail(lat, tail_p) if tail_ok else None,
        "heap_peak_mb": max(raw["heap_old_after_gc_mb"]),
    }
    info = {"latency_samples": len(lat), "tail_percentile": tail_p, "warm_passes": len(warm),
            "failed_ratio": failed / len(ops), "failed_queries": sorted(bad), "verdicts": verdicts}
    return e2e, len(ops), failed, info


def query_layers(raw):
    """Per-layer figures: build and codegen of the cold pass (where eager
    frame fills and compiles land), the rest per traced warm pass."""
    cold = raw["passes"][0]
    traced = [p for p in raw["passes"] if p["kind"] == "warm" and p["traced"]]
    cold_ops = [o for o in raw["ops"] if o["pass"] == 0]
    return {
        "queries.build_s": sum(o["build_s"] for o in cold_ops),
        "queries.build_jobs": sum(o["build_jobs"] for o in cold_ops),
        "functions.codegen_compiles": cold["layers"]["functions.codegen_compiles"],
        "functions.codegen_compile_s": cold["layers"]["functions.codegen_compile_s"],
        **{k: median_of(traced, k) for k in PLAN + OPERATORS + SCAN},
        "trace.overhead_s": trace_overhead([p for p in raw["passes"] if p["kind"] == "warm"], "wall_s"),
    }


def trace_overhead(records, key):
    """Median over traced records of its time minus the mean of the two
    untraced records around it, which cancels the JIT's warming trend."""
    return median([
        t[key] - (a[key] + b[key]) / 2
        for a, t, b in zip(records, records[1:], records[2:])
        if t["traced"] and not a["traced"] and not b["traced"]])


def run_queries(args, classes_out, work):
    names = query_list(args.workload)
    tail_p = stats.tail_percentile(len(names) * MIN_WARM_PASSES)
    if args.plant_failure:
        names.append("__planted_throw__")
    qfile = os.path.join(work, "queries.txt")
    with open(qfile, "w") as f:
        f.write("\n".join(names) + "\n")
    fx = fixture_dir()
    raw_path = os.path.join(work, "raw.json")
    host = run_harness(classes_out, [
        "--workload", args.workload, "--data", fx, "--work", work, "--out", raw_path,
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--queries", qfile, "--seed", str(args.seed),
        "--setups", str(SETUPS), "--warmup-passes", str(WARMUP_PASSES),
        "--warm-passes", str(MIN_WARM_PASSES)], work)
    with open(raw_path) as f:
        raw = json.load(f)
    if args.record_digests:
        checks.record_digests(os.path.join(work, "outputs"), names, raw["oracle_sql"],
                              raw["capture_errors"])
    verdicts = checks.check_queries(fx, os.path.join(work, "outputs"), names,
                                    raw["oracle_sql"], raw["capture_errors"])
    e2e, attempted, failed, info = query_metrics(raw, verdicts, tail_p)
    layers = query_layers(raw) if args.trace else {}
    info["gen.late_s"] = 0.0  # closed loop: nothing is scheduled
    return raw, e2e, layers, attempted, failed, info, host


# ---------------------------------------------------------------------------
# cdc_replicate: open loop


def source_log(checkpoint):
    """{drop file name: batch id} from the file source's metadata log."""
    batches = {}
    d = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(d) if os.path.isdir(d) else []:
        if re.fullmatch(r"\d+(\.compact)?", name):
            with open(os.path.join(d, name)) as f:
                for line in f:
                    if line.startswith("{"):
                        e = json.loads(line)
                        batches[os.path.basename(e["path"])] = e["batchId"]
    return batches


def live_batches(raw):
    """The measured batches: after the seed batch (0) and the warm-up (1)."""
    return [p for p in raw["progress"] if p["input_rows"] > 0 and p["batch"] >= 2]


def cdc_metrics(raw, work, n_drops, events, tail_p):
    """End-to-end figures. A drop's lag runs from when it was due until the
    commit marker names the batch holding it; a drop whose batch never
    commits counts as failed, as do a diverged target and a read that
    reports differences."""
    live = live_batches(raw)
    markers = sorted((m["batch"], m["seen_ms"]) for m in raw["markers"])
    file_batch = source_log(os.path.join(work, "checkpoint"))
    starts = {p["batch"]: p["timestamp_ms"] for p in raw["progress"]}
    lags, waits, lost = [], [], n_drops - len(raw["drops"])
    for d in raw["drops"]:
        b = file_batch.get(d["file"])
        at = next((ms for mb, ms in markers if b is not None and mb >= b), None)
        if at is None:
            lost += 1
            continue
        lags.append((at - d["due_ms"]) / 1e3)
        if b in starts:
            waits.append((starts[b] - d["due_ms"]) / 1e3)

    with open(os.path.join(work, "target", "live.applied")) as f:
        vdir = os.path.join(work, "target", f"live.v{f.read().strip()}")
    files = [f for f in os.listdir(vdir) if f.endswith(".parquet")]
    got = checks.state_digest(os.path.join(vdir, "*.parquet"))
    want = checks.state_digest(os.path.join(work, "inputs", "expected.parquet"))
    reads = raw["reads"]
    bad_reads = sum(1 for r in reads if r["with_differences"] != 0 or r["total_compared"] != want[0])
    attempted = 2 + n_drops + len(reads) + 1  # seed, warm-up, drops, reads, final state
    failed = (not raw["seeded"]) + (not raw["warmed_up"]) + lost + bad_reads + (got != want)

    trig = [p["duration_ms"]["triggerExecution"] / 1e3 for p in live]
    tail_ok = stats.tail_percentile(len(lags)) is not None and stats.tail_percentile(len(lags)) >= tail_p
    e2e = {
        "setup_s": median(raw["setups_s"]),
        "cold_pass_s": raw["cold_s"] if raw["seeded"] else None,
        "warm_pass_s": median(trig) if trig else None,
        "warm_cpu_s": raw["live_cpu_s"] / len(live) if live else None,
        "latency_p50_s": median(lags) if lags else None,
        "latency_tail_s": stats.tail(lags, tail_p) if tail_ok else None,
        "heap_peak_mb": max(raw["heap_old_after_gc_mb"]),
    }
    untraced = [r["read_s"] for r in reads if not r["traced"] and not r["warm_up"]]
    info = {
        "latency_samples": len(lags), "tail_percentile": tail_p, "live_batches": len(live),
        "failed_ratio": failed / attempted, "lost_drops": lost,
        "cdc_lag_p50_s": e2e["latency_p50_s"], "cdc_lag_tail_s": e2e["latency_tail_s"],
        "cdc_commit_p50_s": e2e["warm_pass_s"],
        # the measured drops' events over the live batches' busy time (the
        # progress's numInputRows counts every scan of a batch's input)
        "cdc_capacity_events_per_s": events / sum(trig) if trig else None,
        "cdc_read_s": median(untraced),
        "cdc_state_bytes": sum(os.path.getsize(os.path.join(vdir, f)) for f in files),
        "state_check": {"target": got, "expected": want}, "bad_reads": bad_reads,
        "gen.late_s": max((d["placed_ms"] - d["due_ms"]) / 1e3 for d in raw["drops"]),
        "streaming.trigger_wait_s": median(waits) if waits else None,
        "streaming.read_files": len(files),
    }
    return e2e, attempted, failed, info


def cdc_layers(raw, info):
    """Per-layer figures: the CdcPipeline.start call and the seed batch's
    codegen; per live batch the operator and progress phase figures; per
    commit the StateCommit writes; planning and scan figures of the traced
    read. The tracing overhead is the traced read minus the untraced reads
    around it."""
    live = live_batches(raw)
    n = len(live) or 1
    lay = raw["layers_live"]
    commits = [m for m in raw["markers"] if m["batch"] >= 2 and "bytes" in m]
    traced = [r for r in raw["reads"] if r["traced"]]

    def phase(k):
        return median([p["duration_ms"].get(k, 0) / 1e3 for p in live])

    return {
        "queries.build_s": raw["start_call_s"],
        "queries.build_jobs": raw["start_jobs"],
        "functions.codegen_compiles": raw["layers_cold"]["functions.codegen_compiles"],
        "functions.codegen_compile_s": raw["layers_cold"]["functions.codegen_compile_s"],
        **{k: lay[k] / n for k in OPERATORS},
        **{k: median_of(traced, k) for k in PLAN + SCAN},
        "streaming.trigger_wait_s": info["streaming.trigger_wait_s"],
        "streaming.latest_offset_s": phase("latestOffset"),
        "streaming.query_planning_s": phase("queryPlanning"),
        "streaming.add_batch_s": phase("addBatch"),
        "streaming.wal_commit_s": phase("walCommit"),
        "streaming.commit_offsets_s": phase("commitOffsets"),
        "streaming.batch_rows": median([p["input_rows"] for p in live]),
        "streaming.watermark_lag_s": raw["watermark_lag_s"],
        "streaming.statecommit.bytes_rewritten": median([m["bytes"] for m in commits]),
        "streaming.statecommit.files_written": median([m["files"] for m in commits]),
        "streaming.statecommit.target_rows": median([m["rows"] for m in commits]),
        "streaming.statecommit.state_bytes": info["cdc_state_bytes"],
        "streaming.read_files": info["streaming.read_files"],
        "trace.overhead_s": trace_overhead(raw["reads"][1:], "read_s"),
    }


def run_cdc(args, classes_out, work):
    n_drops = max(1, round(args.seconds / gen.TRIGGER_S)) * gen.DROPS_PER_TRIGGER
    tail_p = stats.tail_percentile(n_drops)
    inputs = os.path.join(work, "inputs")
    plan = gen.CdcPlan(args.seed, CDC_TARGET_KEYS, n_drops)
    plan.write(inputs)
    raw_path = os.path.join(work, "raw.json")
    host = run_harness(classes_out, [
        "--workload", args.workload, "--data", inputs, "--work", work, "--out", raw_path,
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--setups", str(SETUPS)], work)
    with open(raw_path) as f:
        raw = json.load(f)
    e2e, attempted, failed, info = cdc_metrics(raw, work, n_drops, n_drops * plan.events_per_drop, tail_p)
    layers = cdc_layers(raw, info) if args.trace else {}
    return raw, e2e, layers, attempted, failed, info, host


# ---------------------------------------------------------------------------


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-failure", action="store_true",
                    help="add a query that always throws (the harness's own tests)")
    ap.add_argument("--record-digests", action="store_true",
                    help="record the output digests of the queries without an oracle")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes_out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or build.DEFAULT_OUT)
    build.build(classes_out)

    work = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    runner = run_cdc if args.workload == "cdc_replicate" else run_queries
    raw, e2e, layers, attempted, failed, info, host = runner(args, classes_out, work)
    if args.trace:
        layers.update(host)

    chosen = layers if args.trace else e2e
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    # a layer a workload never calls did no work: its counts are zero
    metrics = {m["name"]: {"value": chosen.get(m["name"], 0.0 if args.trace else None), "unit": m["unit"]}
               for m in wanted}
    correct = failed == 0 and all(v["value"] is not None for v in metrics.values())

    artifacts = os.path.join(WORK, "artifacts")
    os.makedirs(artifacts, exist_ok=True)
    stem = os.path.join(artifacts, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    self_s = raw.pop("self_s")
    with open(stem + "-spans.json", "w") as f:
        json.dump({"spans": raw.pop("spans"), "self_s": self_s}, f)
    with open(stem + ".json", "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                   "trace": args.trace, "correct": correct, "attempted": attempted, "failed": failed,
                   "end_to_end": e2e, "per_layer": layers, "info": info, "host": host, "raw": raw}, f)
    shutil.rmtree(work, ignore_errors=True)

    listed = {**e2e, **host, **{k: v for k, v in info.items() if not isinstance(v, (dict, list))}, **layers}
    for name in sorted(listed):
        print(f"metric {name} {listed[name]}")
    for name in sorted(self_s):
        print(f"self_s {name} {self_s[name]}")
    print(f"artifact {os.path.relpath(stem, ROOT)}.json")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

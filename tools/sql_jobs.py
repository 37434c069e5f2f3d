#!/usr/bin/env python3
"""Per-SQL-execution job summary of a Spark event log (read-only).

    python3 tools/sql_jobs.py EVENT_LOG_OR_DIR

EVENT_LOG_OR_DIR is an uncompressed Spark event log (JSON lines): one
file, one rolling log directory (`eventlog_v2_<app>`, Spark's default
layout), or a directory of logs, of which the newest is read. Any
unchanged run can write one; the JVM picks the settings up from the
environment:

    mkdir -p /tmp/ev
    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///tmp/ev -Dspark.eventLog.compress=false" \\
        python3 perfbench/run.py --workload llm_ops --seed 1 --seconds 18 --trace 0
    python3 tools/sql_jobs.py /tmp/ev

`sbt "runMain graft.Bench"` works the same way under the same variable.
perfbench's build and check steps start small JVMs of their own, which
write logs too; the run's own log is the newest.

It prints one line per SQL execution, in start order:

    exec      the execution id
    jobs      Spark jobs the execution ran
    tasks     tasks those jobs ran
    gap_s     from the execution's start to its first job's submission
              (planning, and driver work before any job)
    jobs_s    wall time during which at least one of its jobs ran
    between_s wall time between its first job's start and last job's end
              during which none ran (driver time between jobs)
    tail_s    from the last job's end to the execution's end
    total_s   the execution's wall time (= gap + jobs + between + tail)
    cpu_s     executor CPU time of its tasks
    description

and a last line of totals. Jobs run outside any SQL execution (RDD jobs,
eager checkpoints) are summed on a line of their own. A job is charged to
the execution named by its `spark.sql.execution.id` property, a task to
the job whose stages hold it.
"""
import argparse
import glob
import json
import os
import sys

NO_EXEC = "-"


def log_files(path):
    """The event log files of one application, in order: `path` itself if
    it is a file; the `events_<n>_<app>` parts of a rolling log directory
    (Spark's default); else those of the newest log in the directory."""
    if not os.path.isdir(path):
        return [path]
    parts = glob.glob(os.path.join(path, "events_*"))
    if parts:
        return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
    logs = [p for p in glob.glob(os.path.join(path, "*"))
            if not os.path.basename(p).startswith(".")]
    if not logs:
        sys.exit(f"no event log in {path}")
    return log_files(max(logs, key=os.path.getmtime))


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, reach = 0, None
    for s, e in sorted(intervals):
        if reach is None or s > reach:
            total += e - s
            reach = e
        elif e > reach:
            total += e - reach
            reach = e
    return total


def summarize(lines):
    """Per-execution rows (dicts) from the event log's JSON lines."""
    execs = {}        # execution id -> {"start", "end", "desc"}
    jobs = {}         # job id -> {"exec", "start", "end", "tasks", "cpu_ns"}
    stage_job = {}    # stage id -> job id
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart"):
            execs[ev["executionId"]] = {"start": ev["time"], "end": None,
                                       "desc": ev.get("description", "")}
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            if ev["executionId"] in execs:
                execs[ev["executionId"]]["end"] = ev["time"]
        elif kind == "SparkListenerJobStart":
            eid = (ev.get("Properties") or {}).get("spark.sql.execution.id")
            jobs[ev["Job ID"]] = {"exec": int(eid) if eid is not None else NO_EXEC,
                                  "start": ev["Submission Time"], "end": None,
                                  "tasks": 0, "cpu_ns": 0}
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID")))
            if job is not None:
                job["tasks"] += 1
                job["cpu_ns"] += (ev.get("Task Metrics") or {}).get("Executor CPU Time", 0)

    by_exec = {}
    for job in jobs.values():
        by_exec.setdefault(job["exec"], []).append(job)
    rows = [row(eid, x["desc"], x["start"], x["end"], by_exec.get(eid, []))
            for eid, x in sorted(execs.items(), key=lambda e: (e[1]["start"], e[0]))]
    if NO_EXEC in by_exec:
        rows.append(row(NO_EXEC, "(jobs outside any SQL execution)", None, None,
                        by_exec[NO_EXEC]))
    return rows


def row(eid, desc, start, end, jobs):
    """One execution's figures, in seconds. A job without an end (a log cut
    mid-run) is taken to end with its execution. The no-execution row
    gives only counts, CPU and `jobs_s`: its jobs share no timeline."""
    spans = [(j["start"], next(t for t in (j["end"], end, j["start"]) if t is not None))
             for j in jobs]
    r = {"exec": eid, "desc": desc, "jobs": len(jobs),
         "tasks": sum(j["tasks"] for j in jobs),
         "cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
         "jobs_s": covered(spans) / 1e3,
         "gap_s": None, "between_s": None, "tail_s": None, "total_s": None}
    if eid == NO_EXEC:
        return r
    first = min((s for s, _ in spans), default=end)
    last = max((e for _, e in spans), default=first)
    if spans:
        r["between_s"] = (last - first) / 1e3 - r["jobs_s"]
    if end is not None:
        r["total_s"] = (end - start) / 1e3
        r["gap_s"] = (first - start) / 1e3
        r["tail_s"] = (end - last) / 1e3
        r["between_s"] = r["between_s"] or 0.0
    return r


COLS = ("jobs", "tasks", "gap_s", "jobs_s", "between_s", "tail_s", "total_s", "cpu_s")


def fmt(v):
    if v is None:
        return "-".rjust(10)
    if isinstance(v, float):
        return f"{v:10.3f}"
    return str(v).rjust(10)


def render(rows):
    out = ["exec".rjust(6) + "".join(c.rjust(10) for c in COLS) + "  description"]
    for r in rows:
        out.append(str(r["exec"]).rjust(6) + "".join(fmt(r[c]) for c in COLS)
                   + "  " + " ".join(r["desc"].split())[:80])
    tot = {c: sum(r[c] for r in rows if r[c] is not None) for c in COLS}
    out.append("total".rjust(6) + "".join(fmt(tot[c]) for c in COLS)
               + f"  {sum(1 for r in rows if r['exec'] != NO_EXEC)} SQL executions")
    return "\n".join(out)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log", help="uncompressed Spark event log, or a directory of them")
    args = ap.parse_args(argv)
    def lines():
        for f in log_files(args.log):
            with open(f) as fh:
                yield from fh
    print(render(summarize(lines())))


if __name__ == "__main__":
    main()

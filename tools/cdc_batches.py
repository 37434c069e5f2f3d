#!/usr/bin/env python3
"""Per-batch report over cdc_replicate benchmark artifacts (read-only).

    python3 tools/cdc_batches.py [ARTIFACT_OR_DIR ...]
    python3 tools/cdc_batches.py --compare PARENT CHANGE

Each ARTIFACT_OR_DIR is a run record written by `perfbench/run.py`
(`.bench_work/artifacts/cdc_replicate-*.json`) or a directory holding
them; the default is this checkout's `.bench_work/artifacts`. For each run
it prints the run's `warm_cpu_s` and `host.steal_s`, then one line per
live batch: the streaming progress's `getBatch`, `addBatch` and
`triggerExecution` times and, when the run was traced (`--trace 1`), the
bytes and parquet files of the version the batch committed.

`--compare PARENT CHANGE` takes two such sets (e.g. the artifact
directories of two checkouts) and prints, per metric, the median and
quartiles of each set's untraced runs (tracing slows a run), the change in
per cent and, over the seeds both sets ran, how many pairs the change won.
Beside the run's end-to-end figures it compares each run's median live-batch
`getBatch` and `addBatch` (`batch.getBatch_s`, `batch.addBatch_s`), read
from the progress that every run records, so an A/B shows which phase of a
batch moved without a traced run.
"""
import argparse
import glob
import json
import os
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT = os.path.join(ROOT, ".bench_work", "artifacts")
PHASES = ("getBatch", "addBatch", "triggerExecution")
COMPARED = ("warm_cpu_s", "warm_pass_s", "latency_p50_s", "latency_tail_s", "cold_pass_s",
            "setup_s", "heap_peak_mb", "batch.getBatch_s", "batch.addBatch_s", "host.steal_s",
            "cdc_state_bytes")


def artifacts(paths):
    """The cdc_replicate run records under `paths`, oldest first."""
    files = []
    for p in paths:
        if os.path.isdir(p):
            files += glob.glob(os.path.join(p, "cdc_replicate-*.json"))
        else:
            files.append(p)
    files = [f for f in files if not f.endswith("-spans.json")]
    runs = []
    for f in sorted(files, key=os.path.getmtime):
        with open(f) as fh:
            runs.append((os.path.basename(f)[:-len(".json")], json.load(fh)))
    return runs


def figures(run):
    """The run's compared figures by name (None where it has none)."""
    out = dict(run.get("end_to_end", {}))
    out["host.steal_s"] = run.get("host", {}).get("host.steal_s")
    out["cdc_state_bytes"] = run.get("info", {}).get("cdc_state_bytes")
    batches = live_batches(run["raw"])
    for phase in ("getBatch", "addBatch"):
        ms = [p["duration_ms"][phase] for p in batches if phase in p["duration_ms"]]
        out[f"batch.{phase}_s"] = median(ms) / 1e3 if ms else None
    return out


def live_batches(raw):
    """The measured batches: after the seed batch (0) and the warm-up (1)."""
    return [p for p in raw["progress"] if p["input_rows"] > 0 and p["batch"] >= 2]


def fmt(v, width=9):
    if v is None:
        return "-".rjust(width)
    if isinstance(v, float):
        return f"{v:{width}.{0 if abs(v) >= 1e5 else 3}f}"
    return str(v).rjust(width)


def report(runs):
    for name, run in runs:
        f = figures(run)
        print(f"{name}  correct={run.get('correct')}  warm_cpu_s={fmt(f['warm_cpu_s'], 0)}"
              f"  host.steal_s={fmt(f['host.steal_s'], 0)}")
        raw = run["raw"]
        commits = {m["batch"]: m for m in raw["markers"]}
        print("  " + "  ".join(h.rjust(w) for h, w in
                               [("batch", 5), ("rows", 6)] + [(p, 16) for p in PHASES] +
                               [("bytes", 9), ("files", 5)]))
        for p in live_batches(raw):
            ms = p["duration_ms"]
            c = commits.get(p["batch"], {})
            cells = [fmt(p["batch"], 5), fmt(p["input_rows"], 6)] + \
                [fmt(ms.get(k, 0) / 1e3, 16) for k in PHASES] + \
                [fmt(c.get("bytes"), 9), fmt(c.get("files"), 5)]
            print("  " + "  ".join(cells))


def quartiles(xs):
    """(q1, median, q3) by linear interpolation between closest ranks."""
    xs = sorted(xs)

    def q(p):
        i = p * (len(xs) - 1)
        lo = int(i)
        return xs[lo] + (xs[min(lo + 1, len(xs) - 1)] - xs[lo]) * (i - lo)
    return q(0.25), q(0.5), q(0.75)


def compare(parent, change):
    parent = [(n, r) for n, r in parent if not r.get("trace")]
    change = [(n, r) for n, r in change if not r.get("trace")]

    def by_seed(runs):  # a seed run more than once pairs by its last run
        return {run.get("seed"): figures(run) for _, run in runs}

    a, b = by_seed(parent), by_seed(change)
    seeds = sorted(set(a) & set(b), key=str)
    print(f"parent: {len(parent)} runs, change: {len(change)} runs, paired seeds: {len(seeds)}")
    print(f"{'metric':>16}  {'parent q1/median/q3':>32}  {'change q1/median/q3':>32}"
          f"  {'delta':>8}  change won")
    for k in COMPARED:
        pa = [figures(r)[k] for _, r in parent if figures(r).get(k) is not None]
        pb = [figures(r)[k] for _, r in change if figures(r).get(k) is not None]
        if not pa or not pb:
            continue
        qa, qb = quartiles(pa), quartiles(pb)
        delta = f"{100 * (qb[1] - qa[1]) / qa[1]:+7.1f}%" if qa[1] else "-"
        pairs = [(a[s][k], b[s][k]) for s in seeds
                 if a[s].get(k) is not None and b[s].get(k) is not None]
        won = f"{sum(1 for x, y in pairs if y < x)}/{len(pairs)}"
        print(f"{k:>16}  {' '.join(fmt(v, 10) for v in qa):>32}"
              f"  {' '.join(fmt(v, 10) for v in qb):>32}  {delta:>8}  {won}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("paths", nargs="*", help="artifact files or directories")
    ap.add_argument("--compare", nargs=2, metavar=("PARENT", "CHANGE"),
                    help="two artifact files or directories to compare")
    args = ap.parse_args()
    if args.compare:
        compare(artifacts([args.compare[0]]), artifacts([args.compare[1]]))
    else:
        report(artifacts(args.paths or [DEFAULT]))


if __name__ == "__main__":
    main()

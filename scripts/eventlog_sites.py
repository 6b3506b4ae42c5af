#!/usr/bin/env python3
"""Attribute a Spark event log's wall time to call sites.

Usage: python3 scripts/eventlog_sites.py <eventlog> [--spans FILE]

<eventlog> is a Spark event log: a plain JSON-lines file, a `.zstd` file
(decompressed with `zstd -dc`), or a rolling event-log directory
(`eventlog_v2_*`, whose `events_*` files are read in order).

A *unit* is one SQL execution with all of its jobs, or one job that runs
outside any SQL execution. Its call site is the execution's description or
the job's result-stage name (`count at PartitionedMerge.scala:166`). Units
are walked in start order; each unit is charged its own wall time plus the
driver gap since the previous unit ended (the time the driver spent
between Spark calls), so the per-site milliseconds add up to the wall time
of the window. Units that overlap (concurrent `Pipeline.run` steps) are
charged only the time no earlier-started unit already covered. Prints, per
call site: units, jobs, ms (gap included), the gap share and `own ms`, the
units' own start-to-end time; with overlapping units the `own ms` column
sums to more than the wall time. Busiest first.

--spans restricts the walk to the intervals of the `run` spans (one
`Pipeline.run` each) in a perfbench spans file
(`perfbench/out/spans-etl_incremental-*.jsonl`, written with `--trace 1`);
the counts are then totals over those spans and a last line gives the
number of spans. Without it the whole log is walked.
"""
import argparse
import glob
import json
import os
import subprocess
import sys
from collections import defaultdict

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def lines(path):
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "events_*")),
                       key=lambda f: int(os.path.basename(f).split("_")[1]))
        for f in files:
            yield from lines(f)
    elif path.endswith(".zstd"):
        out = subprocess.run(["zstd", "-dc", path], check=True,
                             stdout=subprocess.PIPE).stdout
        yield from out.decode("utf-8").splitlines()
    else:
        with open(path, encoding="utf-8") as f:
            yield from f


def units(path):
    """[(start_ms, end_ms, site, jobs)] for every completed unit."""
    execs = {}   # execution id -> [start, end, site, jobs]
    jobs = {}    # job id -> [start, end, site, execution id or None]
    for line in lines(path):
        e = json.loads(line)
        kind = e.get("Event")
        if kind == SQL_START:
            execs[e["executionId"]] = [e["time"], None, e["description"], 0]
        elif kind == SQL_END:
            if e["executionId"] in execs:
                execs[e["executionId"]][1] = e["time"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            stages = sorted(e.get("Stage Infos", []), key=lambda s: s["Stage ID"])
            site = stages[-1]["Stage Name"] if stages else "?"
            jobs[e["Job ID"]] = [e["Submission Time"], None, site,
                                 int(ex) if ex is not None else None]
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]][1] = e["Completion Time"]
    out = []
    for start, end, site, ex in jobs.values():
        if ex is not None and ex in execs:
            execs[ex][3] += 1
        elif end is not None:
            out.append((start, end, site, 1))
    for start, end, site, n in execs.values():
        # executions that ran no job (e.g. a listing) still take driver time
        if end is not None:
            out.append((start, end, site, n))
    return sorted(out)


def windows(spans_path):
    ws = []
    with open(spans_path, encoding="utf-8") as f:
        for line in f:
            s = json.loads(line)
            if s["name"] == "run":
                ws.append((s["start_ms"], s["end_ms"]))
    return sorted(ws)


def attribute(us, lo, hi, acc):
    """Charge the units starting in [lo, hi] to their sites; returns the
    window's wall ms."""
    reach = lo
    for start, end, site, n in us:
        if start < lo or start > hi:
            continue
        gap = max(0.0, start - reach)
        busy = max(0.0, min(end, hi) - max(start, reach))
        a = acc[site]
        a[0] += 1
        a[1] += n
        a[2] += gap + busy
        a[3] += gap
        a[4] += max(0.0, min(end, hi) - start)
        reach = max(reach, min(end, hi))
    return hi - lo


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("eventlog")
    ap.add_argument("--spans")
    a = ap.parse_args()
    us = units(a.eventlog)
    if not us:
        sys.exit("no completed jobs in the event log")
    ws = windows(a.spans) if a.spans else [(us[0][0], max(u[1] for u in us))]
    if not ws:
        sys.exit(f"no run span in {a.spans}")
    acc = defaultdict(lambda: [0, 0, 0.0, 0.0, 0.0])
    wall = sum(attribute(us, lo, hi, acc) for lo, hi in ws)
    rows = sorted(acc.items(), key=lambda kv: -kv[1][2])
    print(f"{'call site':<58} {'units':>5} {'jobs':>5} {'ms':>9} {'gap ms':>8}"
          f" {'own ms':>8}")
    for site, (u, j, ms, gap, own) in rows:
        print(f"{site[:58]:<58} {u:>5} {j:>5} {ms:>9.0f} {gap:>8.0f} {own:>8.0f}")
    tu = sum(v[0] for v in acc.values())
    tj = sum(v[1] for v in acc.values())
    tms = sum(v[2] for v in acc.values())
    print(f"{'total':<58} {tu:>5} {tj:>5} {tms:>9.0f} "
          f"{sum(v[3] for v in acc.values()):>8.0f} "
          f"{sum(v[4] for v in acc.values()):>8.0f}")
    print(f"windows: {len(ws)}, wall {wall:.0f} ms, "
          f"after the last unit {wall - tms:.0f} ms")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Summarise a Spark event log per job group and engine call site.

For every job group, and within it every engine call site (the first two
`graft.` frames of the call stack that started the work), prints the Spark
jobs, the SQL executions, the summed job seconds and the span (first job or
SQL execution started to last job completed). Standard library only.

The benchmark's traced spans tag the jobs they start with the job group
`pb-<span id>`; pass the span file with --trace to label the groups with the
span names and to add one line per span name summed over its spans (e.g.
`sweep` over every lifecycle round).

Recipe (an event log of one traced lifecycle run; no benchmark file
changes):

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///tmp/ev -Dspark.eventLog.compress=false" \\
        python3 perfbench/run.py --workload lifecycle --seed 611 --seconds 18 --trace 1
    python3 tools/joblog.py /tmp/ev/eventlog_v2_local-* \\
        --trace perfbench/.traces/lifecycle-seed611.jsonl

The log argument is either a plain event-log file or a rolling event-log
directory (`eventlog_v2_*`, whose `events_<n>_*` parts are read in order).
"""
import argparse
import collections
import json
import os
import re

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
FRAME = re.compile(r"^graft\.(?:[\w$]+\.)*?([A-Z][\w$]*\.[\w$]+)\([\w$]+\.\w+:(\d+)\)$")


def events(path):
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        files = [os.path.join(path, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]
    else:
        files = [path]
    for f in files:
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def call_site(stack, fallback):
    """The first two engine frames of a call stack, innermost first."""
    frames = []
    for line in (stack or "").splitlines():
        m = FRAME.match(line.strip())
        if m:
            frames.append(f"{m.group(1)}:{m.group(2)}")
            if len(frames) == 2:
                break
    return " < ".join(frames) if frames else fallback


def merge(rs):
    """Sums counts and seconds; keeps the earliest start and latest end."""
    out = [0, 0, 0, None, None]
    for r in rs:
        out[0] += r[0]
        out[1] += r[1]
        out[2] += r[2]
        out[3] = r[3] if out[3] is None else min(out[3], r[3])
        out[4] = r[4] if out[4] is None else max(out[4], r[4])
    return out


def summarise(path):
    """Per (group, call site): [jobs, sql executions, job ms, first start, last end]."""
    rows = {}

    def add(key, r):
        rows[key] = merge([rows[key], r]) if key in rows else r

    sql_site, started = {}, {}
    for e in events(path):
        kind = e["Event"]
        if kind == SQL_START:
            site = call_site(e.get("details"), e.get("description", "?"))
            sql_site[e["executionId"]] = site
            add((e.get("jobGroupId") or "", site), [0, 1, 0, e["time"], e["time"]])
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sql = props.get("spark.sql.execution.id")
            site = sql_site.get(int(sql)) if sql is not None else None
            if site is None:
                stage = (e.get("Stage Infos") or [{}])[-1]
                site = call_site(stage.get("Details"), stage.get("Stage Name", "?"))
            started[e["Job ID"]] = ((props.get("spark.jobGroup.id", ""), site), e["Submission Time"])
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in started:
            key, t0 = started.pop(e["Job ID"])
            t1 = e["Completion Time"]
            add(key, [1, 0, t1 - t0, t0, t1])
    return rows


def line(label, r, span_s=None):
    span_s = (r[4] - r[3]) / 1e3 if span_s is None else span_s
    return f"{r[0]:6d} {r[1]:6d} {r[2] / 1e3:9.2f} {span_s:8.2f}  {label}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("log", help="event-log file or eventlog_v2_* directory")
    ap.add_argument("--trace", help="perfbench span file (.traces/<workload>-seed<n>.jsonl)")
    args = ap.parse_args()
    rows = summarise(args.log)
    names = {}
    if args.trace:
        with open(args.trace) as fh:
            for s in (json.loads(x) for x in fh if x.strip()):
                if "id" in s:  # the file ends with a summary line
                    names[f"pb-{s['id']}"] = s["name"]
    header = f"{'jobs':>6} {'sql':>6} {'job_s':>9} {'span_s':>8}  "
    by_group = collections.defaultdict(list)
    for (group, site), r in rows.items():
        by_group[group].append((site, r))
    print(header + "group / call site")
    for group in sorted(by_group, key=lambda g: merge(r for _, r in by_group[g])[3]):
        label = group or "(no group)"
        if group in names:
            label += f" {names[group]}"
        print(line(label, merge(r for _, r in by_group[group])))
        for site, r in sorted(by_group[group], key=lambda x: x[1][3]):
            print(line(f"    {site}", r))
    if names:
        # per span name: sums over its spans (span_s summed, not end - start)
        per_name = collections.defaultdict(list)
        for group, items in by_group.items():
            if group in names:
                per_name[names[group]].append(merge(r for _, r in items))
        print()
        print(header + "span name (spans), summed")
        for name, rs in sorted(per_name.items()):
            total = merge(rs)
            print(line(f"{name} ({len(rs)})", total, sum((r[4] - r[3]) / 1e3 for r in rs)))


if __name__ == "__main__":
    main()

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

`--stages <group>` prints, instead, every job of one job group with its
stages: tasks, stage ms (submitted to completed), summed executor run and
CPU ms, and shuffle read and write bytes; a stage the job skipped (its
shuffle output already existed) is marked so. With --trace, <group> may
also be a span name, which selects every span of that name and its
dotted sub-spans (e.g. `search` takes `search.plan` and `search.exec` of
every lifecycle round):

    python3 tools/joblog.py /tmp/ev/eventlog_v2_local-* \\
        --trace perfbench/.traces/lifecycle-seed611.jsonl --stages search

A stage is named by the RDDs it ran, not by Spark's stage name (under AQE
every SQL stage is named after the thread-pool frame that submitted it,
`$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768`): the
SQL operator scopes of its RDDs in lineage order (`Scan`,
`WholeStageCodegen (1)`, `ObjectHashAggregate`, `Exchange`, ...), then,
after `@`, the call site of its last RDD made by engine code
(`flatMap at Search.scala:358`). Spark's stage name stands when neither
exists.
"""
import argparse
import collections
import json
import os
import re

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
FRAME = re.compile(r"^graft\.(?:[\w$]+\.)*?([A-Z][\w$]*\.[\w$]+)\([\w$]+\.\w+:(\d+)\)$")
# an RDD call site in engine code: Spark skips its own and Scala's frames,
# so a Scala file here is the engine's (JDK frames are Java files)
RDD_SITE = re.compile(r"^\S+ at [\w$]+\.scala:\d+$")


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


def stage_name(info):
    """A stage's operator scopes and innermost engine RDD call site (see
    the module docstring); Spark's stage name if it has neither."""
    rdds = sorted(info.get("RDD Info") or [], key=lambda r: r["RDD ID"])
    ops, seen = [], set()
    for r in rdds:
        scope = json.loads(r["Scope"]) if r.get("Scope") else {}
        name = scope.get("name", "").strip()
        # operator scopes are capitalised; RDD-API scopes are the method
        # names (`map`, `union`, `mapPartitionsInternal`)
        if name[:1].isupper() and scope["id"] not in seen:
            seen.add(scope["id"])
            ops.append(name)
    sites = [r["Callsite"] for r in rdds if RDD_SITE.match(r.get("Callsite") or "")]
    parts = [" > ".join(ops)] if ops else []
    if sites:
        parts.append(f"@ {sites[-1]}")
    return " ".join(parts) or info.get("Stage Name", "?")


def stage_table(path, groups):
    """The jobs of the groups, in start order: (job id, group, stage ids),
    and per stage id [name, tasks, stage ms, run ms, cpu ms, shuffle read
    bytes, shuffle write bytes]. A stage id with no entry was skipped."""
    jobs, stages = [], {}

    def stage(sid):
        return stages.setdefault(sid, ["?", 0, 0, 0, 0.0, 0, 0])

    for e in events(path):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id", "")
            if group in groups:
                jobs.append((e["Job ID"], group, sorted(e.get("Stage IDs") or [])))
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            read = m.get("Shuffle Read Metrics") or {}
            s = stage(e["Stage ID"])
            s[1] += 1
            s[3] += m.get("Executor Run Time", 0)
            s[4] += m.get("Executor CPU Time", 0) / 1e6
            s[5] += read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
            s[6] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            s = stage(info["Stage ID"])
            s[0] = stage_name(info)
            s[2] = info.get("Completion Time", 0) - info.get("Submission Time", 0)
    return jobs, stages


def print_stages(path, groups):
    jobs, stages = stage_table(path, groups)
    total = [0, 0, 0, 0.0, 0, 0]
    print(f"{'stage':>7} {'tasks':>6} {'stage_ms':>9} {'run_ms':>9} {'cpu_ms':>9} "
          f"{'shuf_read':>11} {'shuf_write':>11}  name")
    ran_in = {}  # a stage a later job reuses is counted once, where it ran
    for job, group, ids in jobs:
        print(f"job {job} ({group})")
        for sid in ids:
            if sid not in stages or sid in ran_in:
                where = f" (ran in job {ran_in[sid]})" if sid in ran_in else ""
                print(f"{sid:7d} {'':>6} skipped{where}")
                continue
            ran_in[sid] = job
            name, *vals = stages[sid]
            tasks, stage_ms, run_ms, cpu_ms, read, write = vals
            print(f"{sid:7d} {tasks:6d} {stage_ms:9d} {run_ms:9d} {cpu_ms:9.0f} "
                  f"{read:11d} {write:11d}  {name}")
            total = [t + v for t, v in zip(total, vals)]
    t = total
    print(f"{'total':>7} {t[0]:6d} {t[1]:9d} {t[2]:9d} {t[3]:9.0f} {t[4]:11d} {t[5]:11d}"
          f"  ({len(jobs)} jobs)")


def line(label, r, span_s=None):
    span_s = (r[4] - r[3]) / 1e3 if span_s is None else span_s
    return f"{r[0]:6d} {r[1]:6d} {r[2] / 1e3:9.2f} {span_s:8.2f}  {label}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("log", help="event-log file or eventlog_v2_* directory")
    ap.add_argument("--trace", help="perfbench span file (.traces/<workload>-seed<n>.jsonl)")
    ap.add_argument("--stages", metavar="GROUP",
                    help="print the jobs and stages of one job group (or, with --trace, span name)")
    args = ap.parse_args()
    names = {}
    if args.trace:
        with open(args.trace) as fh:
            for s in (json.loads(x) for x in fh if x.strip()):
                if "id" in s:  # the file ends with a summary line
                    names[f"pb-{s['id']}"] = s["name"]
    if args.stages is not None:
        named = {g for g, n in names.items() if n == args.stages or n.startswith(args.stages + ".")}
        print_stages(args.log, {args.stages} | named)
        return
    rows = summarise(args.log)
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

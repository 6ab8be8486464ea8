#!/usr/bin/env python3
"""Run alternating (parent, change) pairs of the benchmark and compare them.

Each pair runs `python3 perfbench/run.py` once in the parent tree and once
in the change tree, for one workload, at `BENCHMARK.json`'s `run_seconds`,
with a fresh seed per pair (`--seed0`, `--seed0 + 1`, ...). The side that
runs first alternates: pair 0 runs the parent first, pair 1 the change
first, and so on. Both trees should be plain copies of their commits
(`git archive <rev> | tar -x -C <dir>`), so that neither run reads the
other's build.

For every end-to-end metric of `BENCHMARK.json` it prints each side's
median and quartiles, how many pairs the change won (ties count for
neither side) and whether the gain rule holds: the change wins at least
nine in ten pairs and the medians differ by more than the parent's
interquartile range. It also prints every run's `op_seconds` by position
and the run order, and the op_p50_s medians of the runs that went first
and second in their pair, to tell a change from a drift with run order.
Running a tree against a second copy of itself (parent against parent)
measures that drift alone.

Usage:
  python3 tools/pairs.py --parent DIR --change DIR --workload pipeline \\
      --pairs 10 --seed0 1901 [--benchmark BENCHMARK.json] [--json OUT]

Standard library only. The first run in each tree builds it (outside the
timed JVM).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(tree, workload, seed, seconds):
    """One benchmark run: (metrics {name: value}, detail line dict)."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"run failed in {tree} (seed {seed}, exit {proc.returncode})")
    result = json.loads(lines[-1])
    detail = json.loads(lines[-2])
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    return metrics, detail


def quartiles(xs):
    """(q1, median, q3) of xs; the quartiles are inclusive quantiles."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(runs, end_to_end):
    pairs = sorted({r["pair"] for r in runs})
    side = {(r["pair"], r["side"]): r for r in runs}
    print("\nrun order (pair, position, side, seed, op_seconds, op_p50_s):")
    for r in runs:
        secs = " ".join(f"{s:.2f}" for s in r["op_seconds"])
        print(f"  {r['pair']:>2} {r['position']} {r['side']:<6} {r['seed']:>6}  "
              f"[{secs}]  {r['metrics']['op_p50_s']:.3f}")
    print("\nmetric               parent q1/med/q3          change q1/med/q3          wins  rule")
    for m in end_to_end:
        name, better = m["name"], m["better"]
        par = [side[(p, "parent")]["metrics"][name] for p in pairs]
        chg = [side[(p, "change")]["metrics"][name] for p in pairs]
        pq1, pmed, pq3 = quartiles(par)
        cq1, cmed, cq3 = quartiles(chg)
        sign = 1 if better == "higher" else -1
        wins = sum(1 for a, b in zip(par, chg) if sign * (b - a) > 0)
        gain = sign * (cmed - pmed)
        holds = wins * 10 >= 9 * len(pairs) and gain > (pq3 - pq1)
        print(f"  {name:<18} {pq1:8.3f} {pmed:8.3f} {pq3:8.3f}   {cq1:8.3f} {cmed:8.3f} {cq3:8.3f}"
              f"   {wins:>2}/{len(pairs)}  {'holds' if holds else 'no'}")
    print("\nop_p50_s by position in the pair:")
    for pos in (1, 2):
        xs = [r["metrics"]["op_p50_s"] for r in runs if r["position"] == pos]
        print(f"  ran {'first ' if pos == 1 else 'second'}: median {statistics.median(xs):.3f} "
              f"over {len(xs)} runs")
    by_pair = {}
    for r in runs:
        by_pair.setdefault(r["pair"], {})[r["position"]] = r["metrics"]["op_p50_s"]
    later = sum(1 for v in by_pair.values() if v[2] < v[1])
    print(f"  the second run was faster in {later}/{len(pairs)} pairs")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, required=True)
    ap.add_argument("--benchmark", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"))
    ap.add_argument("--json", help="write every run's figures to this file")
    args = ap.parse_args()
    with open(args.benchmark) as fh:
        bench = json.load(fh)
    runs = []
    for p in range(args.pairs):
        seed = args.seed0 + p
        order = ["parent", "change"] if p % 2 == 0 else ["change", "parent"]
        for pos, name in enumerate(order, start=1):
            tree = args.parent if name == "parent" else args.change
            metrics, detail = run(tree, args.workload, seed, bench["run_seconds"])
            runs.append({"pair": p, "position": pos, "side": name, "seed": seed,
                         "op_seconds": detail["op_seconds"], "metrics": metrics})
            print(f"pair {p} {name:<6} seed {seed}: op_p50_s {metrics['op_p50_s']:.3f}",
                  file=sys.stderr, flush=True)
        if args.json:
            with open(args.json, "w") as fh:
                json.dump(runs, fh, indent=1)
    summarize(runs, bench["end_to_end"])


if __name__ == "__main__":
    main()

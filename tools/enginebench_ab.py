#!/usr/bin/env python3
"""Interleaved A/B runner for enginebench: two checkouts, one workload.

Runs each checkout's own `enginebench/run.py` from that checkout's root,
pair by pair, alternating which side goes first (pair 0: base first), with
seed = first seed + pair index on both sides of a pair; run.py takes its run
length from BENCHMARK.json. Host steal time is read from /proc/stat around
each run, and quartiles are statistics.quantiles(values, n=4), both as in
enginebench/steady.py. The metric list and each metric's
direction come from the BASE checkout's BENCHMARK.json: its end-to-end
metrics for untraced runs, its per-layer metrics for `--trace 1` runs.

For each metric it prints each side's median and quartiles, the change's
wins out of all pairs run (ties count for neither side; a pair whose change
run failed or printed no value counts as a loss), and whether the medians
differ by more than the base's interquartile range; then failed/attempted
per side and the steal of every run.

    python3 tools/enginebench_ab.py BASE_ROOT CHANGE_ROOT \\
        --workload serve --pairs 10 --seed 1 [--trace 0]

Standard library only.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def steal_seconds():
    """Cumulative steal time of the host (all CPUs), in seconds (/proc/stat
    counts in 1/100 s); None when /proc/stat has no steal column."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / 100.0
    except (OSError, IndexError, ValueError):
        return None


def run_one(root, workload, seed, trace):
    cmd = [sys.executable, "enginebench/run.py", "--workload", workload,
           "--seed", str(seed), "--trace", str(trace)]
    s0 = steal_seconds()
    t0 = time.time()
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    s1 = steal_seconds()
    result = None
    for line in reversed(p.stdout.splitlines()):
        if line.startswith("{"):
            try:
                result = json.loads(line)
                break
            except ValueError:
                pass
    if result is None:
        sys.stderr.write(p.stderr[-2000:])
        result = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}, "error": p.returncode}
    steal = None if s0 is None or s1 is None else s1 - s0
    return {"root": root, "seed": seed, "wall_s": wall, "steal_s": steal, "result": result}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def value(run, name):
    m = run["result"].get("metrics", {}).get(name)
    return None if m is None else m.get("value")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base", help="root of the base checkout (its BENCHMARK.json is read)")
    ap.add_argument("change", help="root of the changed checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    base, change = os.path.abspath(args.base), os.path.abspath(args.change)
    with open(os.path.join(base, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"] if args.trace == 0 else bench["per_layer"]

    runs = {"base": [], "change": []}
    for i in range(args.pairs):
        seed = args.seed + i
        order = [("base", base), ("change", change)]
        if i % 2 == 1:
            order.reverse()
        for side, root in order:
            r = run_one(root, args.workload, seed, args.trace)
            runs[side].append(r)
            res = r["result"]
            steal = "n/a" if r["steal_s"] is None else "%.2f" % r["steal_s"]
            print("pair %d seed %d %-6s failed %s/%s steal %s s wall %.0f s" % (
                i, seed, side, res.get("failed"), res.get("attempted"), steal, r["wall_s"]),
                file=sys.stderr, flush=True)

    print("workload %s, %d pairs from seed %d, trace %d" % (args.workload, args.pairs, args.seed, args.trace))
    print("%-32s %-34s %-34s %-7s %s" % ("metric", "base median [q1, q3]", "change median [q1, q3]",
                                          "wins", "beyond base IQR"))
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        b = [value(r, name) for r in runs["base"]]
        c = [value(r, name) for r in runs["change"]]
        bv = [x for x in b if x is not None]
        cv = [x for x in c if x is not None]
        if not bv:
            continue
        wins = 0
        for x, y, cr in zip(b, c, runs["change"]):
            if x is None or y is None or not cr["result"].get("correct"):
                continue
            if (y < x) if lower else (y > x):
                wins += 1
        bq1, bmed, bq3 = quartiles(bv)
        if cv:
            cq1, cmed, cq3 = quartiles(cv)
            change = "%.4g [%.4g, %.4g]" % (cmed, cq1, cq3)
            beyond = "yes" if abs(cmed - bmed) > (bq3 - bq1) else "no"
        else:
            change, beyond = "n/a", "n/a"
        print("%-32s %-34s %-34s %-7s %s" % (
            name, "%.4g [%.4g, %.4g]" % (bmed, bq1, bq3), change, "%d/%d" % (wins, args.pairs), beyond))
    for side in ("base", "change"):
        failed = sum(r["result"].get("failed", 0) or 0 for r in runs[side])
        attempted = sum(r["result"].get("attempted", 0) or 0 for r in runs[side])
        incorrect = sum(1 for r in runs[side] if not r["result"].get("correct"))
        steals = " ".join("n/a" if r["steal_s"] is None else "%.2f" % r["steal_s"] for r in runs[side])
        print("%-6s failed/attempted %d/%d, runs not correct %d, host steal s per run: %s" % (
            side, failed, attempted, incorrect, steals))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Steadiness check: run one workload repeatedly and report, per set of
runs, each end-to-end metric's median and spread, the failed share and the
host steal seen during the runs.

    python3 enginebench/steady.py --workload serve [--runs 10] [--sets 1]
        [--seed0 1]

The spread is the distance between the first and third quartile
(statistics.quantiles(values, n=4)) as a share of the median. Each metric's
bound comes from BENCHMARK.json; a spread under a third of its bound is
marked "ok". Runs use seeds seed0, seed0+1, ...; set k starts at
seed0 + k * runs. Steal is read from /proc/stat around each run, summed
over all CPUs. Run it from the root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def steal_s():
    try:
        with open("/proc/stat") as fh:
            cols = fh.readline().split()
        return int(cols[8]) / 100.0
    except (OSError, IndexError, ValueError):
        return float("nan")


def one_run(workload, seed, seconds, trace=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    s0, t0 = steal_s(), time.time()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall, steal = time.time() - t0, steal_s() - s0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run failed: {' '.join(cmd)}")
    return json.loads(p.stdout.strip().splitlines()[-1]), wall, steal


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values) if statistics.median(values) else float("inf")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--seed0", type=int, default=1)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary = []
    for s in range(a.sets):
        rows = []
        for r in range(a.runs):
            seed = a.seed0 + s * a.runs + r
            res, wall, steal = one_run(a.workload, seed, seconds)
            rows.append((res, wall, steal))
            ms = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            print(f"set {s} seed {seed}: wall {wall:.1f} s, steal {steal:.1f} s, "
                  f"correct {res['correct']}, failed {res['failed']}/{res['attempted']}: {ms}",
                  flush=True)
        names = list(rows[0][0]["metrics"])
        out = {"workload": a.workload, "set": s, "runs": a.runs, "metrics": {},
               "failed_share": sorted({r["failed"] / r["attempted"] for r, _, _ in rows}),
               "correct": all(r["correct"] for r, _, _ in rows),
               "host.steal_s": [round(st, 1) for _, _, st in rows],
               "wall_s": [round(w, 1) for _, w, _ in rows]}
        for n in names:
            vals = [r["metrics"][n]["value"] for r, _, _ in rows]
            sp = spread(vals)
            b = bounds.get(n)
            flag = "" if b is None else ("ok" if sp < b / 3 else ("within bound" if sp <= b else "OVER BOUND"))
            out["metrics"][n] = {"median": statistics.median(vals), "spread": sp, "bound": b}
            print(f"set {s} {n:24s} median {statistics.median(vals):12.5g}  spread {sp:7.2%}"
                  f"  bound {b}  {flag}")
        print(f"set {s} failed share {out['failed_share']}, correct {out['correct']}, "
              f"steal per run {out['host.steal_s']} s")
        print("SUMMARY " + json.dumps(out), flush=True)
        summary.append(out)
    if a.sets > 1:
        for n in summary[0]["metrics"]:
            meds = [s["metrics"][n]["median"] for s in summary]
            drift = (meds[-1] - meds[0]) / meds[0] if meds[0] else float("inf")
            print(f"between sets {n:24s} medians {meds}  change {drift:+.2%}")


if __name__ == "__main__":
    main()

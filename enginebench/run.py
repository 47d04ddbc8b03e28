#!/usr/bin/env python3
"""The engine's benchmark: one run of one workload.

    python3 enginebench/run.py --workload serve|store --seed N \
        --seconds S --trace 0|1
    python3 enginebench/run.py --selftest

Run it from the root of a checkout. The first run compiles the engine's
sources and the benchmark's (sbt, offline) into .bench_build/; later runs
reuse that build while the sources are unchanged. Each run works in its own
directory under .bench_work/ and removes it at the end, keeping only the
span trace of a traced run (.bench_work/traces/). The last line of standard
output is one JSON object: correct, attempted, failed and metrics (the
end-to-end metrics with --trace 0, the per-layer ones with --trace 1).
A traced run also measures the layers its workload does not time (the other
workload's and the query registry's) with a short probe of each.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build", "enginebench")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("serve", "store")
RUN_LIMIT_S = 170  # a run must end within 180 s
BUILD_LIMIT_S = 840

sys.path.insert(0, HERE)

JVM_OPTS = [
    "--add-modules", "jdk.incubator.vector",
    "-Xmx3g", "-Xss4m",
    "-XX:-UsePerfData",  # no hsperfdata file in /tmp: a run writes only in its checkout
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [opt for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for opt in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[enginebench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "sources.sha256")
    digest = sources_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        if open(stamp_file).read().strip() == digest:
            return open(cp_file).read().strip()
    log("building the engine and the benchmark (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S, text=True)
    if p.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.0f} s")
    return open(cp_file).read().strip()


def run_jvm(cp, args, work, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                                 "-cp", cp, "enginebench.Main"] + args
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("the JVM did not finish in time")
    with open(log_path) as fh:  # the JVM's progress lines
        for line in fh:
            if line.startswith("[enginebench]"):
                sys.stderr.write(line)
    for line in out.splitlines():
        if not line.startswith("BENCH_RESULT "):
            print(line, file=sys.stderr)
    results = [l for l in out.splitlines() if l.startswith("BENCH_RESULT ")]
    if p.returncode != 0 or not results:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"the JVM exited with {p.returncode} and no result")
    return json.loads(results[-1][len("BENCH_RESULT "):])


def oracle_failures(work, fixture, corrupt=None):
    """Timed executions of queries whose first result the oracle rejects."""
    import oracle
    results = os.path.join(work, "results")
    verdict = oracle.check(results, fixture, corrupt)
    runs = json.load(open(os.path.join(results, "executions.json")))
    failed = 0
    for name, why in verdict.items():
        if why is not None:
            log(f"oracle: {name}: {why}")
            failed += max(1, runs.get(name, 0))
    return failed, verdict


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float,
                    help="length of the timed window (default: run_seconds of BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="feed each check a corrupted output and show it counts as failed")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit(f"engine sources not found under {ENGINE_SRC}")
    if a.seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            a.seconds = json.load(fh)["run_seconds"]

    cp = build()
    start_ms = int(time.time() * 1000)  # setup_s counts from here, after the build
    deadline = time.time() + RUN_LIMIT_S
    name = "selftest" if a.selftest else a.workload
    work = os.path.join(WORK, f"{name}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        fixture = ""
        registry = a.selftest or a.trace == 1  # the registry part runs
        if registry:
            import fixture as fx
            fixture = os.path.join(work, "fixture")
            fx.write(fixture, a.seed)
        res = run_jvm(cp, [name, str(a.seed), str(a.seconds), str(a.trace), str(start_ms),
                           work, fixture], work, deadline)
        if registry and not a.selftest:
            failed, _ = oracle_failures(work, fixture)
            res["failed"] += failed
            res["correct"] = res["correct"] and failed == 0
        if name == "selftest":
            selftest_oracle(work, fixture, res)
        if a.trace:
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            for f in os.listdir(work):
                if f.startswith("trace-"):
                    shutil.move(os.path.join(work, f), os.path.join(traces, f))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for n in res.pop("notes", []):
        log(f"check: {n}")
    print(json.dumps(res))


def selftest_oracle(work, fixture, res):
    """The registry check's oracle half: a result with a dropped row must be
    rejected, and the untouched result accepted."""
    clean, _ = oracle_failures(work, fixture)
    dropped, _ = oracle_failures(work, fixture, {"q_mips": lambda t: t.slice(1)})
    ok = clean == 0 and dropped > 0
    print(f"SELFTEST registry oracle: clean {'passed' if clean == 0 else 'REJECTED'}, "
          f"dropped row {'counted as failed' if dropped > 0 else 'NOT CAUGHT'}", file=sys.stderr)
    res["attempted"] += 2
    res["failed"] += 1 if dropped > 0 else 0
    res["correct"] = res["correct"] and ok


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Pipeline benchmark entry point.

    python3 pipebench/run.py --workload <backfill|deep_daily|dashboard> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the benchmark together with the
warehouse program from source (sbt, once per source change), then runs one
workload in a fresh JVM with Spark pinned to every core and a heap sized
from /proc/meminfo, its warehouse and Spark local dirs in a fresh per-run
directory under .bench_build/. The last stdout line is the JSON result; the
line before it is the workload's report. Span files of traced runs go to
.bench_build/pipebench/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "pipebench")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
STAMP = os.path.join(STATE, "build.stamp")
WORKLOADS = ("backfill", "deep_daily", "dashboard")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700


def fail(msg, code=2):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so a run rebuilds only after a change."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")]
    for top in roots:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if not os.path.relpath(d, top).split(os.sep)[0] in ("target", "project")
            for f in files)
        for p in paths:
            if os.path.isfile(p) and (p.endswith((".scala", ".sbt", ".properties"))
                                      or "META-INF" in p):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Builds unless the last build was of these sources; returns their stamp."""
    stamp = source_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return stamp
    os.makedirs(STATE, exist_ok=True)
    log = os.path.join(STATE, "build.log")
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                                 "compile", "writeLaunch"], cwd=HERE, env=env,
                                stdin=subprocess.DEVNULL, stdout=out, stderr=subprocess.STDOUT,
                                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(LAUNCH):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"build failed (exit {rc}); full log in {log}")
    with open(STAMP, "w") as f:
        f.write(stamp)
    return stamp


def driver_mem():
    """Half the machine's memory in whole GiB, clamped to [2, 8] GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources next to the benchmark; run from the root of a checkout", 3)
    stamp = build()
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    classpath, jvm_flags = lines[0], lines[1:]

    cpus = str(len(os.sched_getaffinity(0)))
    mem = driver_mem()
    run_dir = os.path.join(STATE, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_DRIVER_MEM=mem)
    cmd = ["java", f"-Xms{mem}", f"-Xmx{mem}", *jvm_flags,
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Dderby.system.home={run_dir}",
           "-cp", classpath, "pipebench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", os.path.join(run_dir, "work"),
           "--traces", os.path.join(STATE, "traces")]
    err_path = os.path.join(STATE, "last-run.err")
    try:
        with open(err_path, "w") as err:
            try:
                p = subprocess.run(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                                   stdout=subprocess.PIPE, stderr=err, text=True,
                                   timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"run exceeded {RUN_TIMEOUT_S} s; JVM log in {err_path}", 4)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    out = p.stdout.strip().splitlines()
    if p.returncode != 0 or not out or not out[-1].startswith('{"correct"'):
        with open(err_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"run failed (exit {p.returncode}); JVM log in {err_path}", 5)
    if len(out) >= 2:
        out[-2] = with_tracing_overhead(a, stamp, out[-2], json.loads(out[-1]))
    print("\n".join(out))


def with_tracing_overhead(a, stamp, report_line, result):
    """Untraced runs record their op median; a traced run's report adds its
    overhead against the median of those recorded for the same sources."""
    history = os.path.join(STATE, f"untraced-{a.workload}-{stamp[:16]}.txt")
    report = json.loads(report_line)
    if not a.trace:
        with open(history, "a") as f:
            f.write(f"{result['metrics']['op_s_p50']['value']}\n")
        return report_line
    traced = result["metrics"]["trace.op_s_p50"]["value"]
    try:
        with open(history) as f:
            untraced = statistics.median(float(l) for l in f if l.strip())
        report["tracing_overhead"] = {"value": traced / untraced - 1, "unit": "ratio",
                                      "traced_op_s_p50": traced, "untraced_op_s_p50": untraced}
    except (OSError, statistics.StatisticsError):
        report["tracing_overhead"] = {"value": None, "unit": "ratio",
                                      "note": "no untraced run of this workload on these sources"}
    return json.dumps(report)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Builds the program and the benchmark from source, then runs one workload.

Run from the root of a checkout:

    python3 perfbench/run.py --workload mr_corpus --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

It first runs the benchmark's build (`build.py`), which compiles into
`.bench_build/perfbench/` and is reused while no source or build file
changes. Each run prints a report line and then, as its last line, one
JSON object with the keys `correct`, `attempted`, `failed` and `metrics`.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys

import build

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["mr_corpus", "lh_mixed"]
NAME = re.compile(r"^[A-Za-z0-9_.-]+$")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these module openings outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, log=None):
    print(f"perfbench: {msg}", file=sys.stderr)
    if log:
        print(build.log_tail(log), file=sys.stderr)
    sys.exit(2)


def run_java(classpath, workload, seed, seconds, trace, extra=()):
    """Runs one workload in a fresh JVM; returns its stdout lines."""
    work = os.path.join(BUILD, "runs", f"{workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens + [
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dderby.system.home={tmp}",
        "-cp", classpath, "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", work]
        + list(extra))
    log = os.path.join(BUILD, "logs", f"{workload}-{seed}-{trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    try:
        with open(log, "w") as err:
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                  stderr=err, stdin=subprocess.DEVNULL,
                                  text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"{workload} timed out; see {log}", log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"{workload} exited with {proc.returncode}; see {log}", log)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if not lines:
        fail(f"{workload} printed nothing; see {log}", log)
    return lines


def parse_result(line):
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected result keys {sorted(res)}")
    return res


def selftest(classpath):
    """Tiny pass of every workload: names and units, a passing gate, and
    a gate that counts a deliberately corrupted result as failed."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
              1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for w in WORKLOADS:
        for trace in (0, 1):
            lines = run_java(classpath, w, 1, 2, trace, ["--tiny"])
            res = parse_result(lines[-1])
            report = json.loads(lines[-2])["report"]
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != wanted[trace]:
                problems.append(f"{w} trace={trace}: metrics differ from BENCHMARK.json")
            named = list(res["metrics"].items()) + list(report["metrics"].items())
            for name, m in named:
                if not NAME.match(name) or not m.get("unit") or not NAME.match(m["unit"].replace("/", "_")):
                    problems.append(f"{w}: bad metric name or unit {name}: {m}")
            for name, m in res["metrics"].items():
                if not isinstance(m["value"], (int, float)):
                    problems.append(f"{w} trace={trace}: {name} is not a number: {m}")
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                problems.append(f"{w} trace={trace}: gate failed: {res}")
            print(f"selftest {w} trace={trace}: attempted={res['attempted']} "
                  f"failed={res['failed']}")
        res = parse_result(run_java(classpath, w, 1, 2, 0, ["--tiny", "--corrupt"])[-1])
        if res["correct"] or res["failed"] < 1:
            problems.append(f"{w}: a corrupted result was not counted as failed")
        print(f"selftest {w} corrupted: attempted={res['attempted']} failed={res['failed']}")
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not args.selftest and not args.workload:
        ap.error("--workload is required")
    try:
        classpath = build.build()
    except build.BuildError as e:
        fail(str(e))
    if args.selftest:
        sys.exit(selftest(classpath))
    lines = run_java(classpath, args.workload, args.seed, args.seconds, args.trace)
    try:
        parse_result(lines[-1])
    except ValueError as e:
        fail(f"malformed result: {e}")
    print("\n".join(lines))


if __name__ == "__main__":
    main()

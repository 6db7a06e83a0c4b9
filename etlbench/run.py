#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the indicator ETL.

    python3 etlbench/run.py --workload backfill|stream_replay \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the repository's
sources together with the harness under etlbench/ (sbt, offline); later
runs reuse the build while no source is newer than it. One JVM then sets
up, measures and checks the workload (etlbench/src/main/scala), the
sampled days go through the DuckDB oracle (oracle.py), and the last line
of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics from a separate traced run. The line
before it is a report with sample counts and timings. Build output, logs
and span files go to .bench_build/ in the checkout.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
WORKLOADS = ("backfill", "stream_replay")
RUN_LIMIT_S = 170
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these (the main build.sbt
# passes the same list).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        fail(f"no program sources at {main}")
    files = [os.path.join(HERE, "build.sbt")]
    for top in (main, os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".properties"))]
    return files


def build():
    """Compiles program + harness unless the classpath file is newer than every source."""
    newest = max(os.path.getmtime(f) for f in sources())
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log = os.path.join(BUILD, "logs", "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            timeout=850).returncode
    if rc != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (exit {rc}), see {log}")


def run_jvm(args, work, out_json, spans, log):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "etlbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(len(os.sched_getaffinity(0))), "--work", work, "--out", out_json,
            "--spans", spans]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT)

        def stop(signum, frame):
            proc.kill()
            proc.wait()
            sys.exit(1)
        signal.signal(signal.SIGTERM, stop)
        try:
            rc = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_LIMIT_S}s, see {log}")
    if rc != 0 or not os.path.exists(out_json):
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"benchmark JVM exited {rc}, see {log}\n{tail}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    build()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    out_json = os.path.join(work, "result.json")
    spans = os.path.join(BUILD, "trace", f"{tag}.spans.jsonl")
    try:
        os.makedirs(work)
        run_jvm(args, work, out_json, spans, os.path.join(BUILD, "logs", f"{tag}.log"))
        with open(out_json) as f:
            res = json.load(f)
        failures = list(res["failures"])
        failed = res["failed"]
        checks = {}
        t0 = time.time()
        for case in res["oracle"]:
            ok, msg = oracle.check_case(case["dir"])
            checks[case["name"]] = msg
            if not ok:
                failures.append(f"oracle {case['name']}: {msg}")
                failed = min(res["attempted"], failed + 1)
        res["info"]["oracle_s"] = time.time() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None or got["value"] is None:
            failures.append(f"metric {m['name']} not measured")
            continue
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    if not args.trace and not res["oracle"]:
        failures.append("no oracle case was checked")
    correct = not failures and failed == 0
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "info": res["info"], "samples": res["samples"], "oracle": checks, "failures": failures[:20]}
    print(json.dumps(report))
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

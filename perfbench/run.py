#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine (see perfbench/README.md).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest        # the benchmark's own tests

Run from the repository root. Builds the program from source into
.bench_build (once per source digest), runs one JVM at local[nproc] and
prints `# ...` report lines followed by one JSON result line.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True  # keep perfbench/ free of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["polylabel", "knn_join", "image_pipeline", "dedup_clusters"]
DEADLINE_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_flags(tmp):
    flags = []
    for p in ADD_OPENS:
        flags += ["--add-opens", p + "=ALL-UNNAMED"]
    return flags + [
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
        "-Dderby.stream.error.file=" + os.path.join(tmp, "derby.log"),
        "-Dlog4j2.configurationFile=" + os.path.join(build.BENCH, "log4j2.properties"),
    ]


def git_commit():
    if not os.path.isdir(".git"):
        return "none"
    try:
        r = subprocess.run(["git", "rev-parse", "--short=12", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_jvm(cp, main, args, deadline):
    tmp = os.path.join(build.OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    env["SPARK_DRIVER_MEM"] = "3g"
    cmd = ["java"] + jvm_flags(tmp) + ["-cp", ":".join(cp), main] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
    # the JVM never outlives this process: killed on SIGTERM, and on the
    # deadline by a timer (a hung JVM prints nothing to wake the loop)
    def terminate(signum, frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(os.path.join(build.OUT, "work", str(proc.pid)), ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, terminate)
    watchdog = threading.Timer(max(1.0, deadline - time.time()), proc.kill)
    watchdog.start()
    last = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if last is not None:
                print(last, flush=True)
            last = line
        rc = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(os.path.join(build.OUT, "work", str(proc.pid)), ignore_errors=True)
    if time.time() >= deadline:
        sys.stderr.write("perfbench: run exceeded its deadline\n")
        return 3, None
    return rc, last


def main():
    start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        cp, _ = build.build(with_tests=True)
        rc, last = run_jvm(cp, "perfbench.StatsTest", [], start + DEADLINE_S)
        if last is not None:
            print(last)
        return rc
    if a.workload is None:
        ap.error("--workload is required")
    cp, stamp = build.build()
    # set-up time starts at the JVM launch: the build is not the program's
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--launch-ms", str(int(time.time() * 1000)),
            "--hdr-commit", git_commit(), "--hdr-source_digest", stamp]
    # the first run in a checkout also compiles; the run itself keeps to
    # its own deadline after that
    rc, last = run_jvm(cp, "perfbench.Main", args, time.time() + DEADLINE_S - 5)
    if rc != 0 or last is None:
        if last is not None and not last.startswith("{"):
            print(last)
        sys.stderr.write("perfbench: run failed (exit %s)\n" % rc)
        return rc or 1
    result = json.loads(last)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    print(last, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload medallion_daily --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source on first use (see build.py),
starts one JVM running `perfbench.Main`, and relays its output. The last
line of standard output is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. Every file the run
writes stays under the repository root: `.bench_build/` (classes),
`.bench_work/` (tables and Spark scratch, removed at exit) and
`perfbench-out/` (JVM logs and span traces).
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("medallion_daily", "table_churn", "llm_curate")
RUN_LIMIT_S = 175.0   # the whole run, build excluded

# Spark on JDK 17 needs these when started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def stop(proc):
    """Terminate the JVM's whole process group and wait for it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        try:
            proc.wait(timeout=10)
            break
        except subprocess.TimeoutExpired:
            continue


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    try:
        classes = build.build(root)
    except Exception as e:  # noqa: BLE001 - any build failure ends the run
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        return 2
    started = time.time()

    out_dir = os.path.join(root, "perfbench-out")
    work = os.path.join(root, ".bench_work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    log_path = os.path.join(out_dir, tag + ".log")

    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(build.spark_jars(root), "*"),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    if a.trace:
        cmd += ["--trace-out", os.path.join(out_dir, tag + ".spans.jsonl")]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env.pop("SPARK_CONF_DIR", None)

    lines = []
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env,
                                    start_new_session=True, text=True)
            # a terminated runner takes its JVM down with it
            signal.signal(signal.SIGTERM, lambda *_: (stop(proc), sys.exit(1)))
            try:
                stdout, _ = proc.communicate(timeout=max(10.0, RUN_LIMIT_S - (time.time() - started)))
            except subprocess.TimeoutExpired:
                stop(proc)
                print("perfbench: run exceeded %.0f s; see %s" % (RUN_LIMIT_S, log_path), file=sys.stderr)
                return 1
        lines = [ln for ln in stdout.splitlines() if ln.strip()]
        if proc.returncode != 0 or not lines:
            print("perfbench: JVM exited with %s; see %s" % (proc.returncode, log_path), file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            print("perfbench: malformed result line", file=sys.stderr)
            return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

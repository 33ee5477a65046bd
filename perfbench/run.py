#!/usr/bin/env python3
"""Runs one workload of the benchmark and prints its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: bulk_assign, polygon_join, query_suite.
Run from the root of a checkout: the engine is built from src/main/scala
first (perfbench/build.py). The last line of stdout is one JSON object
with the keys correct, attempted, failed and metrics; --trace 0 reports
the end-to-end metrics, --trace 1 the per-layer ones and writes a span
file under the build directory. The exit code is 0 only when the run
completed and every correctness check passed.

    --smoke        tiny inputs (the benchmark's own test)
    --pin          re-pin the query_suite row counts and hashes from this
                   checkout into perfbench/pins/query_suite.tsv
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["bulk_assign", "polygon_join", "query_suite"]
TIMEOUT_S = 170
HEAP = "2g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()
    if not a.pin and not a.workload:
        ap.error("--workload is required")

    signal.signal(signal.SIGTERM, build.stop_children)
    signal.signal(signal.SIGINT, build.stop_children)
    root = os.getcwd()
    here = os.path.join(root, "perfbench")
    classpath = build.build(root)
    out = build.out_dir(root)
    tmp = os.path.join(out, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)

    cmd = ["java", "-Xmx" + HEAP, "-Xss8m", "-XX:+UseParallelGC"] + build.jvm_opens() + [
        "-Djava.io.tmpdir=" + tmp,
        "-Dlog4j2.configurationFile=" + os.path.join(here, "conf", "log4j2.properties"),
        "-cp", classpath, "perfbench.Main",
        "--data", os.path.join(here, "data", "sf0.01"),
        "--pins", os.path.join(here, "pins", "query_suite.tsv"),
        "--out", out,
        "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace)]
    if a.pin:
        cmd += ["--pin", os.path.join(here, "pins", "query_suite.tsv")]
    else:
        cmd += ["--workload", a.workload]
    if a.smoke:
        cmd.append("--smoke")

    proc = build.spawn(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        stdout, _ = proc.communicate(timeout=None if a.pin else TIMEOUT_S)
    except subprocess.TimeoutExpired:
        build.stop_children()
        raise SystemExit("perfbench: run exceeded %d s" % TIMEOUT_S)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode != 0:
        sys.stderr.write(stdout)
        raise SystemExit("perfbench: JVM exited with %d" % proc.returncode)
    if a.pin:
        return 0
    lines = [l for l in stdout.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        raise SystemExit("perfbench: no result line")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit("perfbench: malformed result line")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

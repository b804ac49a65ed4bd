#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds graft and the benchmark's Scala program from source on first use
(perfbench/build.py), then runs one closed-loop workload in a single JVM
with a local[nproc] Spark session. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. A full record with
provenance, per-batch latencies, failures and spans is written under
.bench_build/results/. Exit code 0 only when every output check passed.

Extra flags (not used by the comparison runs): --scale F shrinks every input
(the self-tests use it); --corrupt all re-runs every output check once per
check on a deliberately damaged copy of the outputs, and fails the run
unless each damaged copy trips its check.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("serve", "curate")
HEAP = "3g"
# A run must end well inside the 180 s a caller allows it.
JVM_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--corrupt", choices=("", "all"), default="")
    return ap.parse_args(argv)


def run(args):
    try:
        classpath, source_id = build.build()
    except build.BuildError as e:
        sys.stderr.write(f"perfbench: build failed: {e}\n")
        return 2
    run_dir = os.path.join(build.BUILD_DIR, "runs", f"{os.getpid()}_{time.time_ns()}")
    results_dir = os.path.join(build.BUILD_DIR, "results")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(results_dir, exist_ok=True)
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{HEAP}", "-Xss16m", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(build.BENCH_DIR, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false"] + opens +
           ["-cp", os.pathsep.join(classpath), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", repr(args.seconds), "--trace", str(args.trace),
            "--scale", repr(args.scale), "--corrupt", args.corrupt,
            "--run-dir", run_dir, "--results-dir", results_dir,
            "--truth-dir", os.path.join(build.BUILD_DIR, "truth"),
            "--source-id", source_id, "--heap", HEAP])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.stderr.write(f"perfbench: run exceeded {JVM_TIMEOUT_S} s and was killed\n")
        return 4
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line)
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        if lines:
            print(lines[-1])
        sys.stderr.write(f"perfbench: no result line (JVM exit code {proc.returncode})\n")
        return proc.returncode or 5
    print(json.dumps(result))
    if proc.returncode != 0:
        return proc.returncode
    return 0 if result["correct"] else 3


if __name__ == "__main__":
    sys.exit(run(parse_args(sys.argv[1:])))

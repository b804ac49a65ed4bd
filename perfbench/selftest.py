#!/usr/bin/env python3
"""Self-tests of the graft benchmark.

    python3 perfbench/selftest.py

1. BENCHMARK.json holds the contract's keys, and the metric names it lists
   are exactly the ones an untraced and a traced run print.
2. A tiny-input smoke run of every workload (--scale 0.05) passes its output
   checks, and with --corrupt all every check trips on a damaged copy of its
   outputs (pairs, keep-best, incremental flags, triage labels, top-k
   collisions, top-p prefixes, BM25 scores, hybrid ranks).
3. In a directory holding only BENCHMARK.json and perfbench/, the benchmark
   exits non-zero without printing a result.

Everything it writes stays under .bench_build/.
"""
import json
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def run(workload, *extra, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--scale", "0.05"] + list(extra)
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    return p.returncode, last, p.stderr


def main():
    failures = []

    def expect(ok, what):
        print(("ok    " if ok else "FAIL  ") + what)
        if not ok:
            failures.append(what)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    expect(set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"},
           "BENCHMARK.json has exactly the contract's keys")
    e2e = {m["name"] for m in spec["end_to_end"]}
    layers = {m["name"] for m in spec["per_layer"]}

    for w in [x["name"] for x in spec["workloads"]]:
        code, last, err = run(w, "--corrupt", "all")
        result = json.loads(last) if last.startswith("{") else {}
        expect(code == 0 and result.get("correct") is True, f"{w}: tiny smoke run passes its checks")
        expect(set(result.get("metrics", {})) == e2e, f"{w}: untraced run prints every end-to-end metric")
        expect("NOT detected" not in err and err.count("detected") >= 1,
               f"{w}: every corrupted output trips its check")
        for line in err.splitlines():
            if "corrupted" in line:
                print("      " + line.split("perfbench: ")[-1])
        code, last, _ = run(w, "--trace", "1")
        result = json.loads(last) if last.startswith("{") else {}
        expect(code == 0 and set(result.get("metrics", {})) == layers,
               f"{w}: traced run prints every per-layer metric")

    bare = os.path.join(ROOT, ".bench_build", "selftest_bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(BENCH_DIR, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, last, _ = run(spec["workloads"][0]["name"], cwd=bare)
    expect(code != 0 and not last.startswith("{"),
           "without the graft sources the benchmark exits non-zero and prints no result")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

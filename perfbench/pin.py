#!/usr/bin/env python3
"""Pin the expected row count and digest of every gmall_sf01 query.

Usage, from the repository root: python3 perfbench/pin.py

Runs each query once through the program, writes its result, and compares
it with the query's DuckDB twin (SparkEntry.oracleSql) by the repository's
own oracle gate, tools/check.py. Only when every query matches the twin
and its digest repeats does it rewrite perfbench/expected.tsv. Run it
again only when a query's output is meant to change.
"""
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
from run import DATA, HERE, jvm  # noqa: E402

WORKLOAD = "gmall_sf01"


def main():
    classes = build.ensure()
    out = os.path.abspath(os.path.join(build.build_dir(), "pin"))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    digests = os.path.join(out, "digests.json")
    work = out + "-work"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = jvm(classes, work) + [
        "--workload", WORKLOAD, "--seed", "0", "--seconds", "0",
        "--data", DATA, "--work", work, "--out", digests, "--pin", out]
    code = subprocess.run(cmd).returncode
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        sys.exit("pin: the program failed")
    got = json.load(open(digests))
    unstable = [q for q, d in got.items() if not d["stable"]]
    if unstable:
        sys.exit(f"pin: digests changed between two runs: {unstable}")
    if subprocess.run([sys.executable, "tools/check.py", DATA, out]).returncode:
        sys.exit("pin: a query disagrees with its DuckDB twin")
    with open(os.path.join(HERE, "expected.tsv"), "w") as f:
        for q in sorted(got):
            f.write(f"{WORKLOAD}\t{q}\t{got[q]['rows']}\t{got[q]['digest']}\n")
    print(f"pinned {len(got)} queries")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result.

Usage, from the repository root:
  python3 perfbench/run.py --workload gmall_sf01|live_dau --seed N \
      --seconds S --trace 0|1

Builds the program from source first (perfbench/build.py), then runs one
JVM that sets the workload up, measures it for S seconds and checks its
outputs. Every metric is printed as `metric value unit (samples)`; the
last line of standard output is the JSON result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the spans and the full record go to
$CARGO_TARGET_DIR/reports (default .bench_build/reports).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.relpath(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("gmall_sf01", "live_dau")
DATA = os.path.join(HERE, "data", "sf0.1")
TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def jvm(classes, work):
    """The JVM that runs perfbench.Main, with its scratch under `work`."""
    return ["java", "-Xmx1g", "-Xss8m"] + \
        [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + \
        ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
         f"-Dspark.local.dir={work}/tmp",
         f"-Dspark.sql.warehouse.dir={work}/warehouse",
         f"-Djava.io.tmpdir={work}/tmp",
         "-cp", os.pathsep.join([classes, os.path.join(build.jars_dir(), "*")]),
         "perfbench.Main"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classes = build.ensure()
    out_dir = build.build_dir()
    work = os.path.abspath(os.path.join(
        out_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}"))
    reports = os.path.join(out_dir, "reports")
    os.makedirs(reports, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    result = os.path.join(work, "result.json")
    spans = os.path.join(reports, f"{tag}-spans.jsonl") if a.trace else ""

    cmd = jvm(classes, work) + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--data", DATA, "--work", work, "--out", result,
        "--expected", os.path.join(HERE, "expected.tsv"), "--spans", spans]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=log,
                             start_new_session=True)
        try:
            code = p.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(result):
        sys.stderr.write(open(log_path).read()[-4000:])
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"perfbench: the run failed ({code})")

    with open(result) as f:
        r = json.load(f)
    shutil.copy(result, os.path.join(reports, f"{tag}.json"))
    shutil.rmtree(work, ignore_errors=True)
    for name, m in r["metrics"].items():
        n = r["samples"].get(name)
        count = f" ({n} samples)" if n else ""
        print(f"{name} {m['value']:.6g} {m['unit']}{count}")
    for fail in r["failures"][:20]:
        print(f"check failed: {fail}", file=sys.stderr)
    print(json.dumps({k: r[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()

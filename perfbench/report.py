#!/usr/bin/env python3
"""Traced-run reporter: per-layer metrics, self-time split, tracing overhead.

Usage, from the repository root:
  python3 perfbench/report.py [--seed N] [--seconds S] [--workload W ...]

For each workload it makes --pairs pairs of one untraced and one traced
run (perfbench/run.py; pair i uses seed N+i), then prints, as markdown:
  - every per-layer metric of the first traced run;
  - a table that splits that run's time by layer self time;
  - the tracing overhead: each end-to-end metric of a traced run minus that
    of its untraced twin, as the median over the pairs (the host's own
    speed drifts by more than the overhead from one run to the next).
The report is also written to $CARGO_TARGET_DIR/reports/report.md.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
from run import WORKLOADS  # noqa: E402

SPLIT = [("operators", "self.operators_s"), ("planner", "self.planner_s"),
         ("exec run", "self.exec_run_s"), ("exec wait", "self.exec_wait_s"),
         ("streaming", "self.streaming_s"), ("serving", "self.serving_s"),
         ("ingest", "self.ingest_s"), ("harness", "self.harness_s")]
PER = {"gmall_sf01": "per pass", "live_dau": "per window second"}


def record(workload, seed, seconds, trace):
    here = os.path.dirname(os.path.abspath(__file__))
    r = subprocess.run([sys.executable, os.path.join(here, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.DEVNULL)
    if r.returncode != 0:
        sys.exit(f"report: {workload} trace={trace} failed")
    path = os.path.join(build.build_dir(), "reports",
                        f"{workload}-seed{seed}-trace{trace}.json")
    with open(path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--workload", action="append", choices=WORKLOADS)
    a = ap.parse_args()
    names = a.workload or WORKLOADS
    pairs = {w: [(record(w, a.seed + i, a.seconds, 0),
                  record(w, a.seed + i, a.seconds, 1)) for i in range(a.pairs)]
             for w in names}
    runs = {w: p[0] for w, p in pairs.items()}

    out = [f"# Traced runs (seeds {a.seed}..{a.seed + a.pairs - 1}, {a.seconds} s)", ""]
    out += ["## Self time by layer", "",
            "Each instant of an operation goes to the most specific layer "
            "active then. gmall_sf01 is one thread, so its layers add up to "
            "the pass; live_dau's ingest, stream and dashboard run side by "
            "side, so its layers add up to busy seconds per window second.",
            "", "| workload | unit | " + " | ".join(k for k, _ in SPLIT) +
            " | total |", "|---" * (len(SPLIT) + 3) + "|"]
    for w, (_, t) in runs.items():
        vals = [t["metrics"][m]["value"] for _, m in SPLIT]
        tot = sum(vals)
        cells = [f"{v:.3f} ({100 * v / tot:.0f}%)" if tot else "0"
                 for v in vals]
        out.append(f"| {w} | s {PER[w]} | " + " | ".join(cells) +
                   f" | {tot:.3f} |")
    out += ["", f"## Tracing overhead (median of {a.pairs} pairs)", "",
            "| workload | metric | untraced | traced | traced - untraced |",
            "|---|---|---|---|---|"]
    for w, ps in pairs.items():
        for m, v in ps[0][0]["metrics"].items():
            un = statistics.median(u["metrics"][m]["value"] for u, _ in ps)
            tr = statistics.median(t["traced_e2e"][m]["value"] for _, t in ps)
            d = statistics.median(t["traced_e2e"][m]["value"] -
                                  u["metrics"][m]["value"] for u, t in ps)
            out.append(f"| {w} | {m} | {un:.4g} {v['unit']} | {tr:.4g} | "
                       f"{d:+.4g} ({100 * d / un:+.1f}%) |")
    for w, (_, t) in runs.items():
        out += ["", f"## Per-layer metrics: {w} ({PER[w]})", "",
                "| metric | value | unit |", "|---|---|---|"]
        for m, v in t["metrics"].items():
            out.append(f"| {m} | {v['value']:.6g} | {v['unit']} |")
        bad = [f for u, t in pairs[w] for f in u["failures"] + t["failures"]]
        if bad:
            out.append(f"\nchecks failed: {bad}")
    text = "\n".join(out) + "\n"
    with open(os.path.join(build.build_dir(), "reports", "report.md"), "w") as f:
        f.write(text)
    print(text)


if __name__ == "__main__":
    main()

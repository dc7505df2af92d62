#!/usr/bin/env python3
"""Where the time went: per-layer self time and counts for each workload.

Usage (from the repository root):
  python3 perfbench/report.py [--seed 1] [--seconds 24] [--workload NAME ...]

For each workload it makes an untraced run and a traced run with the same
seed, prints the traced run's layer table (self time per measured query,
its share of the query wall time, and the layer's counts), and states the
tracing overhead as the traced minus the untraced end-to-end figures.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def bench(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def fmt(v):
    return "%.4g" % v


def report(workload, seed, seconds):
    plain = bench(workload, seed, seconds, 0)["metrics"]
    traced = bench(workload, seed, seconds, 1)["metrics"]
    wl = run.WORKLOADS[workload]
    with open(run.result_path(workload, seed, 1)) as f:
        res = json.load(f)
    e2e, _, measured = run.end_to_end(res, wl["kind"])
    wall = sum(r["total_s"] for r in measured) / max(1, len(measured))
    m = {k: v["value"] for k, v in traced.items()}
    rows = [
        ("GraftSession", m["GraftSession.build_s"], "setup (median, not per query)"),
        ("SparkEntry", m["SparkEntry.self_s"],
         "build %s s, %s build jobs, substrate builds %s (cold pass), hits %s/pass"
         % (fmt(m["SparkEntry.build_s"]), fmt(m["SparkEntry.build_jobs"]),
            fmt(m["substrate.builds"]), fmt(m["substrate.hits"]))),
        ("catalyst", m["catalyst.plan_s"],
         "%s exchanges, %s broadcasts, %s wscg stages, %s files listed"
         % (fmt(m["catalyst.exchanges"]), fmt(m["catalyst.broadcasts"]),
            fmt(m["catalyst.wscg_stages"]), fmt(m["catalyst.files_discovered"]))),
        ("exec (driver)", m["exec.self_s"],
         "%s jobs, non-task %s s" % (fmt(m["exec.jobs"]), fmt(m["exec.non_task_s"]))),
        ("exec.job", m["exec.job_self_s"],
         "%s stages, first-task wait %s s" % (fmt(m["exec.stages"]),
                                              fmt(m["exec.first_task_wait_s"]))),
        ("exec.stage", m["exec.stage_s"],
         "%s tasks, run %s s, cpu %s s, critical path %s s, slot util %s"
         % (fmt(m["exec.tasks"]), fmt(m["exec.task_run_s"]), fmt(m["exec.task_cpu_s"]),
            fmt(m["exec.critical_path_s"]), fmt(m["exec.slot_util"]))),
    ]
    print("\n## %s (seed %d, %d measured queries, %.4g s wall each)\n"
          % (workload, seed, len(measured), wall))
    print("| layer | self s/query | share | counts |")
    print("|---|---|---|---|")
    for name, self_s, counts in rows:
        share = "" if name == "GraftSession" else "%.1f%%" % (100 * self_s / wall if wall else 0)
        print("| %s | %s | %s | %s |" % (name, fmt(self_s), share, counts))
    print("\nInside those spans: codegen %s compiles / %s s in the cold pass, %s per "
          "query after the first pass, hit ratio %s; shuffle %s B written, %s B read, "
          "fetch wait %s s; spill %s B; scan %s B; task GC %s s; driver GC %s s, "
          "heap peak %s MB."
          % tuple(fmt(m[k]) for k in (
              "codegen.compiles", "codegen.compile_s", "codegen.warm_compiles",
              "codegen.hit_ratio", "shuffle.write_bytes", "shuffle.read_bytes",
              "shuffle.fetch_wait_s", "spill.disk_bytes", "scan.input_bytes", "exec.gc_s",
              "jvm.gc_s", "jvm.heap_peak_mb")))
    print("\nTracing overhead (traced minus untraced, same seed):")
    for k, v in e2e.items():
        base = plain[k]["value"]
        print("- %s: %s -> %s (%+.1f%%)" % (k, fmt(base), fmt(v),
                                            100 * (v - base) / base if base else 0))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=24)
    ap.add_argument("--workload", action="append", choices=sorted(run.WORKLOADS))
    args = ap.parse_args()
    for w in args.workload or list(run.WORKLOADS):
        report(w, args.seed, args.seconds)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""The engine's benchmark: runs one workload and prints its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload fixture-serial --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md):
  fixture-serial      seeded registry mix on a fixture-sized corpus; one client,
                      a cold pass then warm passes in one fresh session
  fixture-concurrent  the same mix on one warm session, four closed-loop clients
                      in FAIR scheduler pools
  scaled-batch        shuffle-heavy jobs on a larger generated corpus, each job
                      in a fresh session; a cold pass, then warm passes

The first run builds the engine and the harness (perfbench/build.py). Every
run generates (or reuses) its seeded corpus, runs the workload in one JVM
with local[4] (scaled-batch local[2]), then checks every query of the mix
against its DuckDB twin.
The last line of standard output is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics with --trace 0, per-layer metrics
with --trace 1).
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import corpus  # noqa: E402
import mixes  # noqa: E402
import oracle  # noqa: E402
import traceview  # noqa: E402

CPUS = 4  # local[CPUS], unless a workload sets its own `cpus`
# pass_s: nominal seconds of --seconds per measured pass (see passes())
WORKLOADS = {
    "fixture-serial": dict(kind="serial", size="fixture", setups=7, heap="3g", pass_s=12),
    "fixture-concurrent": dict(kind="concurrent", size="fixture", setups=7, heap="3g",
                               pass_s=12, clients=4),
    "scaled-batch": dict(kind="batch", size="scaled", setups=0, heap="4g", pass_s=12,
                         cpus=2),
}
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

E2E_UNITS = {"setup_s": "s", "cold_pass_s": "s", "query_p50_s": "s", "query_cpu_s": "s"}


def log(msg):
    print("perfbench: " + msg, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(value, percentile): the highest of the usual percentiles with at
    least ten samples beyond it, by nearest rank; the maximum when there are
    too few samples for any."""
    xs = sorted(xs)
    n = len(xs)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100.0) >= 10:
            k = max(0, min(n - 1, int(-(-p * n // 100)) - 1))
            return xs[k], p
    return (xs[-1], 100.0) if xs else (0.0, 100.0)


def run_jvm(plan, rundir, heap):
    plan_path = os.path.join(rundir, "plan.txt")
    with open(plan_path, "w") as f:
        for k, v in plan.items():
            f.write("%s=%s\n" % (k, v))
    tmp = os.path.join(rundir, "tmp")
    local = os.path.join(rundir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    # -XX:-UsePerfData: no hsperfdata file outside the work area
    cmd += ["-Xmx" + heap, "-XX:+UseG1GC", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", build.classpath(), "perfbench.Harness", plan_path,
            os.path.join(rundir, "result.json")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    env.pop("SPARK_GRAFT_SUBSTRATE_DIR", None)  # sinks stay per session
    with open(os.path.join(rundir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=rundir, env=env, stdout=out, stderr=out,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit("perfbench: harness JVM timed out after %ds" % JVM_TIMEOUT_S)
        except BaseException:  # interrupted or terminated: take the JVM along
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    if code != 0:
        with open(os.path.join(rundir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit("perfbench: harness JVM failed (exit %d)" % code)
    with open(os.path.join(rundir, "result.json")) as f:
        return json.load(f)


def passes(seconds, pass_s):
    """Measured passes: warm passes after the cold pass (fixture-serial,
    scaled-batch) or rounds after it (fixture-concurrent); one per `pass_s`
    of --seconds, at least one. A count fixed by --seconds, not a deadline:
    the JIT keeps speeding up later passes, so a time-filled loop would make
    the figures depend on how many passes fitted."""
    return max(1, int(round(seconds / pass_s)))


def result_path(workload, seed, trace):
    """Where a run's raw result (and, traced, its spans) is kept."""
    d = os.path.join(build.WORK, "results")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, "%s-s%d-t%d.json" % (workload, seed, trace))


def per_query(runs, reduce):
    """{query name: reduce(its times)} over `runs`."""
    times = {}
    for r in runs:
        times.setdefault(r["name"], []).append(r["total_s"])
    return {n: reduce(ts) for n, ts in times.items()}


def end_to_end(res, kind):
    """End-to-end metrics, queries per second, and the measured query runs
    they come from. The measured runs are those of the passes after the cold
    pass: warm passes (fixture-serial, scaled-batch) or rounds
    (fixture-concurrent).

    cold_pass_s: the cold pass; for scaled-batch the batch pass, each job's
    fastest warm run summed. query_p50_s: the median latency of the
    measured runs. query_cpu_s: JVM process CPU time per measured run.
    qps: mix size over the warm pass, each query's median over the warm
    passes (fixture-serial); jobs over the batch pass (scaled-batch);
    completed queries per second of round wall time, median over rounds
    (fixture-concurrent)."""
    measured = [r for r in res["runs"] if r["pass"] >= 1]
    p50 = median([r["total_s"] for r in measured])
    cpu = sum(r["cpu_s"] for r in measured) / len(measured)
    if kind == "batch":
        best = per_query(measured, min)
        cold = sum(best.values())
        qps = len(best) / cold
        return {"setup_s": median(res["setup_s"]), "cold_pass_s": cold,
                "query_p50_s": p50, "query_cpu_s": cpu}, qps, measured
    cold = [p["s"] for p in res["phases"] if p["kind"] == "cold"][0]
    if kind == "serial":
        warm = per_query(measured, median)
        qps = len(warm) / sum(warm.values())
    else:
        rounds = [p for p in res["phases"] if p["kind"] == "round"]
        qps = median([sum(1 for r in measured if r["pass"] == i + 1) / p["s"]
                      for i, p in enumerate(rounds)])
        cpu = sum(p["cpu_s"] for p in rounds) / len(measured)
    return {"setup_s": median(res["setup_s"]), "cold_pass_s": cold,
            "query_p50_s": p50, "query_cpu_s": cpu}, qps, measured


def per_layer(res, measured, qps, failed_frac, cpus):
    """Per-layer metrics of a traced run; see README.md for each definition."""
    counters = res["trace"]["counters"]
    cold = [r for r in res["runs"] if r["pass"] == 0]
    zero = {}

    def c(r, k):
        return counters.get(r["qid"], zero).get(k, 0)

    def mean(f, rs=measured):
        return sum(f(r) for r in rs) / len(rs) if rs else 0.0

    selfs = traceview.self_times(res["trace"]["spans"])
    n_passes = max(1, len({(r["client"], r["pass"]) for r in measured}) //
                   max(1, len({r["client"] for r in measured})))
    wall = sum(r["total_s"] for r in measured)
    task_run = sum(c(r, "task_run_s") for r in measured)
    # measured passes come after the first: the JVM-wide class cache has
    # seen every query once
    cold_compiles = mean(lambda r: r["compiles"], cold)
    warm_compiles = mean(lambda r: r["compiles"])
    tail_s, tail_pct = tail([r["total_s"] for r in measured])
    m = {
        "GraftSession.build_s": (median(res["setup_s"]), "s"),
        "SparkEntry.build_s": (mean(lambda r: r["build_s"]), "s"),
        "SparkEntry.self_s": (mean(lambda r: selfs[r["qid"]]["SparkEntry"]), "s"),
        "SparkEntry.build_jobs": (mean(lambda r: c(r, "build_jobs")), "count"),
        "catalyst.plan_s": (mean(lambda r: r["plan_s"]), "s"),
        "catalyst.exchanges": (mean(lambda r: c(r, "exchanges")), "count"),
        "catalyst.broadcasts": (mean(lambda r: c(r, "broadcasts")), "count"),
        "catalyst.wscg_stages": (mean(lambda r: c(r, "wscg_stages")), "count"),
        "catalyst.files_discovered": (mean(lambda r: r["files_discovered"]), "count"),
        "exec.s": (mean(lambda r: r["exec_s"]), "s"),
        "exec.self_s": (mean(lambda r: selfs[r["qid"]]["exec"]), "s"),
        "exec.job_self_s": (mean(lambda r: selfs[r["qid"]]["exec.job"]), "s"),
        "exec.stage_s": (mean(lambda r: selfs[r["qid"]]["exec.stage"]), "s"),
        "exec.jobs": (mean(lambda r: c(r, "jobs")), "count"),
        "exec.stages": (mean(lambda r: c(r, "stages")), "count"),
        "exec.tasks": (mean(lambda r: c(r, "tasks")), "count"),
        "exec.non_task_s": (mean(lambda r: r["exec_s"] - c(r, "critical_exec_s")), "s"),
        "exec.sched_delay_s": (mean(lambda r: c(r, "sched_delay_s")), "s"),
        "exec.task_deser_s": (mean(lambda r: c(r, "task_deser_s")), "s"),
        "exec.task_run_s": (mean(lambda r: c(r, "task_run_s")), "s"),
        "exec.task_cpu_s": (mean(lambda r: c(r, "task_cpu_s")), "s"),
        "exec.critical_path_s": (mean(lambda r: c(r, "critical_path_s")), "s"),
        "exec.slot_util": (task_run / (wall * cpus) if wall else 0.0, "ratio"),
        "exec.gc_s": (mean(lambda r: c(r, "task_gc_s")), "s"),
        "exec.peak_mem_bytes": (max([c(r, "peak_mem_bytes") for r in measured] or [0]), "B"),
        "exec.first_task_wait_s": (mean(lambda r: c(r, "first_task_wait_s")), "s"),
        "scan.input_bytes": (mean(lambda r: c(r, "input_bytes")), "B"),
        "shuffle.write_bytes": (mean(lambda r: c(r, "shuffle_write_bytes")), "B"),
        "shuffle.read_bytes": (mean(lambda r: c(r, "shuffle_read_bytes")), "B"),
        "shuffle.fetch_wait_s": (mean(lambda r: c(r, "fetch_wait_s")), "s"),
        "spill.disk_bytes": (mean(lambda r: c(r, "spill_disk_bytes")), "B"),
        "codegen.compiles": (float(sum(r["compiles"] for r in cold)), "count"),
        "codegen.compile_s": (sum(r["compile_s"] for r in cold), "s"),
        "codegen.warm_compiles": (warm_compiles, "count"),
        "codegen.hit_ratio": (1 - warm_compiles / cold_compiles if cold_compiles else 0.0,
                              "ratio"),
        "substrate.builds": (float(sum(len(r["sink_dirs"]) for r in cold)), "count"),
        "substrate.build_bytes": (float(sum(r["sink_bytes"] for r in cold)), "B"),
        "substrate.build_s": (sum(r["build_s"] for r in cold if r["sink_dirs"]), "s"),
        "substrate.hits": (sum(1 for r in measured if c(r, "sink_scans")
                               and not r["sink_dirs"]) / n_passes, "count"),
        "jvm.gc_s": (res["jvm_gc_s"], "s"),
        "jvm.heap_peak_mb": (res["heap_peak_mb"], "MB"),
        "jvm.retained_heap_mb": (res["retained_heap_mb"], "MB"),
        "qps": (qps, "1/s"),
        "query_tail_s": (tail_s, "s"),
        "query_tail_pct": (tail_pct, "%"),
        "failed_frac": (failed_frac, "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(corpus.SIZES),
                    help="corpus size instead of the workload's own (self-tests)")
    ap.add_argument("--inject-wrong", metavar="QUERY",
                    help="alter QUERY's output before the check (self-tests)")
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    wl = WORKLOADS[args.workload]
    kind = wl["kind"]
    build.build(log=sys.stderr)
    size = args.size or wl["size"]
    cdir, manifest, gen_s = corpus.ensure(os.path.join(build.WORK, "corpus"), args.seed, size)
    log("corpus %s seed %d digest %s; generation %.3f s (not part of setup_s)"
        % (size, args.seed, manifest["digest"][:16], gen_s))
    pool = mixes.load_pool()
    mix = list(pool["batch"]) if kind == "batch" else mixes.fixture_mix(args.seed, pool)
    rundir = os.path.join(build.WORK, "runs", "%s-s%d-t%d-%d" % (
        args.workload, args.seed, args.trace, os.getpid()))
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    check_dir = os.path.join(rundir, "check")
    cpus = wl.get("cpus", CPUS)
    plan = {"workload": kind, "corpus": cdir, "cpus": cpus, "trace": args.trace,
            "passes": passes(args.seconds, wl["pass_s"]), "setups": wl["setups"],
            "mix": ",".join(mix), "check_dir": check_dir}
    clients = wl.get("clients", 1)
    if kind == "concurrent":
        plan["clients"] = clients
        for i, order in enumerate(mixes.client_orders(args.seed, mix, clients)):
            plan["client.%d" % i] = ",".join(order)
    try:
        t0 = time.perf_counter()
        res = run_jvm(plan, rundir, wl["heap"])
        t1 = time.perf_counter()
        checked = oracle.check(cdir, check_dir, mix, args.inject_wrong)
        log("harness JVM %.1f s; output check %.1f s" % (t1 - t0, time.perf_counter() - t1))
    finally:
        if os.path.exists(os.path.join(rundir, "result.json")):
            shutil.copy(os.path.join(rundir, "result.json"), result_path(
                args.workload, args.seed, args.trace))
        shutil.rmtree(rundir, ignore_errors=True)
    wrong = {n: why for n, why in checked.items() if why}
    for n, why in sorted(wrong.items()):
        log("output check FAILED %s: %s" % (n, why))
    attempted = len(res["runs"])
    failed = sum(1 for r in res["runs"] if r["error"] or r["name"] in wrong)
    for r in res["runs"]:
        if r["error"]:
            log("query threw %s: %s" % (r["qid"], r["error"]))
    e2e, qps, measured = end_to_end(res, kind)
    log("mix (%d): %s" % (len(mix), " ".join(mix)))
    log("output check: %d of %d queries match their DuckDB twin" % (
        len(checked) - len(wrong), len(checked)))
    log("failed_frac %.4f (%d failed of %d attempted)" % (
        failed / attempted, failed, attempted))
    log("qps %.4f" % qps)
    if kind == "serial":
        log("warm_pass_s %.4f (sum of each query's median over %d warm passes)"
            % (len(mix) / qps, len(measured) // len(mix)))
    tail_s, pct = tail([r["total_s"] for r in measured])
    log("query_tail_s %.4f (p%g of %d measured queries)" % (tail_s, pct, len(measured)))
    if args.trace:
        metrics = per_layer(res, measured, qps, failed / attempted, cpus)
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    for k, v in metrics.items():
        log("%-28s %.6g %s" % (k, v["value"], v["unit"]))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

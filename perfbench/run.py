"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest_analytics --seed 1 --seconds 5 --trace 0

Run from the repository root.  Every run works in a fresh directory
under ``.perfbench/work/`` (Spark's warehouse, metastore, local dirs and
temp files land there) that is removed at the end.  The last line of
standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
with ``--trace 1`` the per-layer ones, from a run that alternates
untraced and traced passes so the tracing overhead can be reported.
Lines before it report every workload-specific metric by name and unit,
and the environment.  The exit code is 1 when an output check fails and
2 when the package under test is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import uuid

from spans import ROOT_SPAN, PlanPhases, StageMetrics, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "syslog_handler_with_clickhouse_spark"

# Modules each workload imports as part of its set-up.
WORKLOAD_MODULES = {
    "ingest_analytics": ["streaming.ingest", "streaming.analytics", "sources.sinks",
                         "functions.parse", "queries"],
    "corpus_store": ["operators.retrieval", "operators.similarity", "operators.dedup"],
}

# Spans recorded in the traced run.  Each gives <name>_s (seconds per
# pass), <name>_jobs (jobs launched inside it per pass) and
# <name>.self_s (seconds per pass not covered by child spans).
SPAN_LAYERS = [
    "sources.testdata.load_table", "queries.construct", "spark.exec",
    "streaming.ingest.drain", "sources.sinks.read_logs",
    "streaming.analytics.errors_per_device_minute",
    "operators.retrieval.init", "operators.retrieval.insert", "operators.retrieval.topk",
    "operators.retrieval.compact",
    "operators.similarity.init", "operators.similarity.insert", "operators.similarity.scan",
    "operators.similarity.compact",
    "operators.dedup.init", "operators.dedup.insert", "operators.dedup.labels",
    "operators.dedup.compact",
]


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit, in report order."""
    out = [("session.get_spark_s", "s"), ("session.warmup_s", "s"),
           ("jvm.gc_s", "s"), ("jvm.jit_s", "s"),
           ("spark.plan_s", "s"), ("spark.plan_actions", "count"),
           ("spark.shuffle_bytes", "bytes"), ("spark.spill_bytes", "bytes")]
    for name in SPAN_LAYERS:
        out += [(f"{name}_s", "s"), (f"{name}_jobs", "count"), (f"{name}.self_s", "s")]
    out += [("functions.parse.rows_per_s", "1/s"),
            ("streaming.ingest.batches", "count"),
            ("streaming.ingest.rows_per_batch", "count"),
            ("streaming.ingest.plan_ms", "ms"), ("streaming.ingest.offsets_ms", "ms"),
            ("streaming.ingest.commit_ms", "ms"), ("sources.sinks.write_ms", "ms"),
            ("sources.sinks.files_written", "count"),
            ("operators.retrieval.file_depth", "count"),
            ("operators.genswap.bytes_rewritten", "bytes"),
            (f"{ROOT_SPAN}.self_s", "s"),
            ("trace.pass_s", "s"), ("trace.untraced_pass_s", "s"), ("trace.overhead_s", "s")]
    return out


# The metrics of the --trace 0 result: the ones every workload has.  The
# workload-specific ones are reported but not bounded, and so is
# peak_rss_mb: when G1 grows the 8 GB heap varies by 40 % between runs
# of the same input.
END_TO_END = [("setup_s", "s"), ("pass_s", "s")]

# The machine is shared: while other guests run, the hypervisor takes
# CPU time from this one ("steal"), and a pass that lost 10-20 % of its
# CPU time ran 40-70 % slower.  Steal comes from outside the program, so
# a pass with more than STEAL_LIMIT of the CPU time stolen is repeated,
# at most MAX_RETRIES times, and the untraced metrics come from the
# passes under the limit (or, if none, the least stolen one).
STEAL_LIMIT = 0.04
MAX_RETRIES = 1


class Context:
    def __init__(self, args, workdir: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.scale = args.scale
        self.workdir = workdir
        self.spark = None
        self.tracer = None
        self.plans = None


def isolate(workdir: str) -> None:
    """Point every file Spark, the JVM and Python write at ``workdir``."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(workdir, d), exist_ok=True)
    tmp = os.path.join(workdir, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["TMPDIR"] = tmp
    # no hsperfdata: the JVM would write it under /tmp whatever tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the session's defaults: local[SPARK_GRAFT_CPUS], UI on (the traced
    # run reads stage metrics from its REST API)
    for knob in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_UI", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(knob, None)
    import tempfile

    tempfile.tempdir = tmp
    os.chdir(workdir)


def set_up(workload: str) -> tuple[object, dict]:
    """Import the workload's modules, start a session and run one small
    job.  Returns the session and the phase timings."""
    import importlib

    t0 = time.perf_counter()
    for m in WORKLOAD_MODULES[workload]:
        importlib.import_module(f"{PACKAGE}.{m}")
    from syslog_handler_with_clickhouse_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    spark.range(0, 200_000, numPartitions=8).selectExpr("id % 101 AS k").groupBy("k").count().collect()
    t3 = time.perf_counter()
    return spark, {"setup_s": t3 - t0, "get_spark_s": t2 - t1, "warmup_s": t3 - t2}


def shut_down(spark) -> None:
    """Stop the session and the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def cpu_ticks() -> list[int]:
    """The machine's cumulative CPU time counters (user, nice, system,
    idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def jvm_busy_s(spark) -> tuple[float, float]:
    """Cumulative seconds the driver JVM spent in garbage collection and
    in JIT compilation."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return gc_ms / 1000, mf.getCompilationMXBean().getTotalCompilationTime() / 1000


def timed_window(ctx, wl, stages, plans) -> tuple[list, list]:
    """Run whole passes until ``ctx.seconds`` have passed; in a traced
    run, alternate untraced and traced passes and end on a traced one.
    An untraced run repeats a stolen pass (STEAL_LIMIT).  Returns
    (untraced, traced) passes."""
    tracer = ctx.tracer
    untraced, traced = [], []
    stop_at = time.perf_counter() + ctx.seconds
    i = retries = 0
    while True:
        if time.perf_counter() >= stop_at and untraced and (traced or not ctx.trace):
            if (ctx.trace or retries == MAX_RETRIES
                    or any(p.extra["steal_share"] <= STEAL_LIMIT for p in untraced)):
                break
            retries += 1
        if ctx.trace and i % 2 == 1:
            stages.mark()
            plans.attach()
            tracer.enabled = True
            with tracer.span(ROOT_SPAN):
                p = wl.timed_pass(i)
            tracer.enabled = False
            plans.detach()
            p.extra.update(stages.since_mark())
            if hasattr(wl, "after_traced_pass"):
                wl.after_traced_pass(p)
            traced.append(p)
        else:
            gc0, jit0 = jvm_busy_s(ctx.spark)
            ticks0 = cpu_ticks()
            t0 = time.perf_counter()
            p = wl.timed_pass(i)
            p.extra["call_s"] = time.perf_counter() - t0
            ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
            gc1, jit1 = jvm_busy_s(ctx.spark)
            p.extra.update(gc_s=gc1 - gc0, jit_s=jit1 - jit0,
                           steal_share=ticks[7] / max(sum(ticks), 1))
            untraced.append(p)
        i += 1
    return untraced, traced


def layer_metrics(ctx, wl, setup, untraced, traced) -> dict:
    tracer = ctx.tracer
    n = len(traced)
    tot = tracer.totals(ROOT_SPAN)
    zero = {"s": 0.0, "self_s": 0.0, "jobs": 0}
    m = {
        "session.get_spark_s": setup["get_spark_s"],
        "session.warmup_s": setup["warmup_s"],
        # from the untraced passes: JIT compilation stays busy through
        # every pass (several CPU-seconds per pass on a 4-core machine)
        # and tracks the run-to-run spread of pass_s
        "jvm.gc_s": statistics.mean(p.extra["gc_s"] for p in untraced),
        "jvm.jit_s": statistics.mean(p.extra["jit_s"] for p in untraced),
        "spark.plan_s": ctx.plans.seconds / n,
        "spark.plan_actions": ctx.plans.actions / n,
        "spark.shuffle_bytes": sum(p.extra["shuffle_bytes"] for p in traced) / n,
        "spark.spill_bytes": sum(p.extra["spill_bytes"] for p in traced) / n,
    }
    for name in SPAN_LAYERS:
        t = tot.get(name, zero)
        m[f"{name}_s"] = t["s"] / n
        m[f"{name}_jobs"] = t["jobs"] / n
        m[f"{name}.self_s"] = t["self_s"] / n
    m.update({k: v for k, (v, _unit) in wl.layers(traced).items()})
    m[f"{ROOT_SPAN}.self_s"] = tot[ROOT_SPAN]["self_s"] / n
    # both sides time the whole timed_pass call, clean-up included
    m["trace.pass_s"] = tot[ROOT_SPAN]["s"] / n
    m["trace.untraced_pass_s"] = statistics.mean(p.extra["call_s"] for p in untraced)
    m["trace.overhead_s"] = m["trace.pass_s"] - m["trace.untraced_pass_s"]
    return {name: {"value": m.get(name, 0.0), "unit": unit} for name, unit in per_layer_names()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_MODULES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; tiny is the self-test's smoke size")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    out_dir = os.path.join(ROOT, ".perfbench")
    workdir = os.path.join(out_dir, "work", f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}")
    os.makedirs(workdir)
    try:
        return run(args, workdir, out_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(workdir, ignore_errors=True)


def run(args, workdir: str, out_dir: str) -> int:
    loadavg_before = os.getloadavg()
    isolate(workdir)
    ctx = Context(args, workdir)
    spark, setup = set_up(args.workload)
    import pyspark

    from workloads import WORKLOADS, median_pass_s

    ctx.spark = spark
    ctx.tracer = Tracer(spark)
    wl = WORKLOADS[args.workload](ctx)
    phases = {}
    t = time.perf_counter()

    def phase(name):
        nonlocal t
        now = time.perf_counter()
        phases[name] = round(now - t, 2)
        t = now

    try:
        wl.prepare()
        phase("prepare")
        if ctx.trace:
            # spans around the loader the query registry calls
            from syslog_handler_with_clickhouse_spark.queries import _common

            _common.load_table = ctx.tracer.wrap("sources.testdata.load_table", _common.load_table)
        wl.check_pass()
        phase("check")
        stages = None
        if ctx.trace:
            stages, ctx.plans = StageMetrics(spark), PlanPhases(spark)
        untraced, traced = timed_window(ctx, wl, stages, ctx.plans)
        phase("window")
        wl.verify()
        phase("verify")
        peak_rss = jvm_peak_rss_mb(spark)
        env = {"nproc": len(os.sched_getaffinity(0)), "pyspark": pyspark.__version__,
               "java": spark._jvm.java.lang.System.getProperty("java.version")}
    finally:
        shut_down(spark)
    phase("shutdown")

    measured = ([p for p in untraced if p.extra["steal_share"] <= STEAL_LIMIT]
                or [min(untraced, key=lambda p: p.extra["steal_share"])])
    report = {
        "setup_s": (setup["setup_s"], "s"),
        "pass_s": (median_pass_s(measured), "s"),
        "pass_wall_p50_s": (statistics.median(p.wall_s for p in measured), "s"),
        "passes": (len(measured), "count"),
        "peak_rss_mb": (peak_rss, "MB"),
    }
    report.update(wl.report(measured))
    attempted = wl.attempted + sum(len(p.ops) for p in untraced + traced)
    report["failed_op_share"] = (wl.failed / attempted, "ratio")
    env["phase_s"] = phases
    env["pass_walls_s"] = [round(p.wall_s, 3) for p in untraced]
    env["pass_jit_s"] = [round(p.extra["jit_s"], 2) for p in untraced]
    env["pass_steal_share"] = [round(p.extra["steal_share"], 3) for p in untraced]
    env["op_p50_s"] = {name: round(statistics.median(p.ops[name] for p in measured), 3)
                       for name in measured[0].ops}
    env["loadavg_before"] = [round(x, 2) for x in loadavg_before]
    env["loadavg_after"] = [round(x, 2) for x in os.getloadavg()]
    print(f"env {json.dumps(env)}")
    for note in wl.notes:
        print(note)
    for name, (value, unit) in report.items():
        print(f"metric {args.workload} {name} {value:.6g} {unit}")

    if ctx.trace:
        metrics = layer_metrics(ctx, wl, setup, untraced, traced)
        os.makedirs(os.path.join(out_dir, "traces"), exist_ok=True)
        ctx.tracer.dump(os.path.join(out_dir, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics = {name: {"value": report[name][0], "unit": unit} for name, unit in END_TO_END}
    correct = wl.failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": wl.failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One run generates the workload's inputs
from the seed, sets up several times (reporting the median), measures
its timed cycle in a closed loop for `--seconds`, checks the outputs
against independent oracles and prints, as its last line, one JSON
object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. It exits 1 on a wrong output and 2 when it cannot run.
Everything it writes stays under perfbench/_run/.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import eventlog  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402

# set-ups per run (median reported), untimed warm-up cycles, minimum
# timed cycles, and repeats of each isolated layer call in a traced run.
# A plan's first two cycles after the checks run up to 60% slower than
# the later ones (JIT, plan caches), so they are run but not timed.
SETUP_REPS = 3
WARMUP_CYCLES = 2
MIN_CYCLES = 4
TRACE_REPS = 3

END_TO_END = {"setup_s": "s", "items_per_s": "1/s"}

# per-layer span metrics: median self time of the span, 0 where the
# workload does not run that layer
LAYER_SPANS = (
    "session.get_spark",
    "sources.pages.extract_points",
    "plans.pip_join.probe",
    "geo.cover.cover_rings",
    "plans.index_build.build_index",
    "plans.index_build.edges",
    "plans.webtext.minhash_signatures",
    "plans.webtext.minhash_lsh_pairs",
    "plans.components.connected_components",
    "plans.webtext.ngram_jaccard_pairs",
)
LAYER_VALUES = {
    "sources.pages.extract_points.rows_out_per_in": "ratio",
    "plans.pip_join.probe.hit_rows": "count",
    "plans.pip_join.probe.hits_per_point": "ratio",
    "plans.pip_join.probe.sure_hit_share": "ratio",
    "geo.cover.cover_rings.cells": "count",
    "plans.index_build.cell_rows": "count",
    "plans.index_build.interior_cell_share": "ratio",
    "plans.index_build.edge_rows": "count",
    "plans.webtext.minhash_lsh_pairs.pairs": "count",
    "plans.components.connected_components.components": "count",
    "plans.components.connected_components.nodes": "count",
    "plans.webtext.ngram_jaccard_pairs.pairs": "count",
    "plans.webtext.ngram_jaccard_pairs.precision": "ratio",
    "session.cores": "count",
    "session.heap_mb": "MB",
    "session.peak_rss_mb": "MB",
    "trace.cycle_s": "s",
}
# Spark job groups folded from the event log into spark.<op>.*
SPARK_OPS = (
    "geocode",
    "extract_points",
    "pip_join",
    "build_index",
    "minhash_lsh_pairs",
    "connected_components",
    "ngram_jaccard_pairs",
)
SPARK_UNITS = {
    "stages": "count", "tasks": "count", "executor_run_ms": "ms", "executor_cpu_ms": "ms",
    "jvm_gc_ms": "ms", "shuffle_read_bytes": "B", "shuffle_write_bytes": "B",
    "spill_bytes": "B", "python_run_ms": "ms", "python_bytes_in": "B",
    "python_bytes_out": "B", "task_skew": "ratio", "driver_only_s": "s",
}


def per_layer_units() -> dict:
    units = {f"{name}.s": "s" for name in LAYER_SPANS}
    units.update(LAYER_VALUES)
    for op in SPARK_OPS:
        for m in eventlog.METRICS:
            units[f"spark.{op}.{m}"] = SPARK_UNITS[m]
    return units


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def descendants(pid: int) -> list:
    """Pids of every live descendant process of `pid`."""
    kids: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in and its Python workers,
    and wait until each has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None


def configure_env(work: str, events: str | None, cores: int) -> None:
    """Everything the program needs from outside: core count, worker
    import path, and temp/local dirs inside the checkout. The traced run
    also turns on Spark's event log here, not in the program."""
    import tempfile

    os.makedirs(os.path.join(work, "local"), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # -UsePerfData: no hsperfdata file in the system temp dir, for the
    # spark-submit launcher JVM and the driver JVM alike
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", f"-Djava.io.tmpdir={work} -XX:-UsePerfData",
    ]
    if events:
        os.makedirs(events, exist_ok=True)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args) + " pyspark-shell"


def layer_metrics(tracer: Tracer, counters: dict, spark_ops: dict) -> dict:
    from perfbench.spans import self_times

    st = self_times(tracer.spans)
    by_name: dict = {}
    for s in tracer.spans:
        by_name.setdefault(s["name"], []).append(st[s["id"]])
    out = {}
    for name in LAYER_SPANS:
        vals = by_name.get(name)
        out[f"{name}.s"] = statistics.median(vals) if vals else 0.0
    for name in LAYER_VALUES:
        out[name] = counters.get(name, 0)
    for op in SPARK_OPS:
        for m, v in spark_ops.get(op, dict.fromkeys(eventlog.METRICS, 0)).items():
            out[f"spark.{op}.{m}"] = v
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "insideout_spark", "__init__.py")):
        print("perfbench: insideout_spark/ is not next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    trace = bool(args.trace)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    out_dir = os.path.join(HERE, "_run")
    work = os.path.join(out_dir, run_id)
    events = os.path.join(work, "events") if trace else None
    cores = len(os.sched_getaffinity(0))
    configure_env(work, events, cores)
    from insideout_spark.session import get_spark

    tracer = Tracer(trace, run_id)
    t_start = time.perf_counter()
    wl = WORKLOADS[args.workload](args.seed, work)
    phases = {"inputs": time.perf_counter() - t_start}
    run = Run(tracer)

    setups, spark = [], None
    try:
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            with tracer.span("session.get_spark"):
                spark = get_spark(f"perfbench-{args.workload}")
            spark.sparkContext.setLogLevel("ERROR")
            tracer.bind(spark)
            wl.setup(spark, run, 2 * cores)
            setups.append(time.perf_counter() - t0)
            if rep < SETUP_REPS - 1:
                wl.release()
                spark.stop()

        phases["setups"] = time.perf_counter() - t_start - phases["inputs"]
        t0 = time.perf_counter()
        # the checks run the timed plans once before timing, which also
        # warms the JVM, the Python workers and the plan caches
        wl.verify(run)
        phases["checks"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        with run.warming():
            for _ in range(WARMUP_CYCLES):
                wl.cycle(run)
        phases["warmup"] = time.perf_counter() - t0
        deadline = time.perf_counter() + args.seconds
        cycle_walls: list = []
        while len(cycle_walls) < MIN_CYCLES or time.perf_counter() < deadline:
            t0 = time.perf_counter()
            with tracer.span("cycle"):
                wl.cycle(run)
            cycle_walls.append(time.perf_counter() - t0)
        try:
            e2e = wl.metrics(run)
        except (KeyError, statistics.StatisticsError):
            print(f"perfbench: every timed operation of a phase failed: {run.notes}", file=sys.stderr)
            return 1
        phases["cycles"] = sum(cycle_walls)
        if trace:
            t0 = time.perf_counter()
            wl.trace_extras(run, TRACE_REPS)
            phases["trace_extras"] = time.perf_counter() - t0
        sc = spark.sparkContext
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        heap_mb = spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20
        peak_rss_mb = (vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")) / 1024.0
        resources = {
            "nproc": cores,
            "ram_gib": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30,
            "master": sc.master,
            "spark.driver.memory": sc.getConf().get("spark.driver.memory", None),
            "heap_max_mb": heap_mb,
            "peak_rss_mb": peak_rss_mb,
        }
        run.counters["session.cores"] = sc.defaultParallelism
        run.counters["session.heap_mb"] = heap_mb
        run.counters["session.peak_rss_mb"] = peak_rss_mb
    finally:
        if spark is not None:
            stop_spark(spark)

    failed = run.failed()
    correct = failed == 0
    if trace:
        run.counters["trace.cycle_s"] = statistics.median(cycle_walls)
        spark_ops = eventlog.fold(
            eventlog.read_events(os.path.join(events, f) for f in sorted(os.listdir(events))),
            {op: w for op, w in tracer.op_windows().items() if op in SPARK_OPS},
        )
        metrics = layer_metrics(tracer, run.counters, spark_ops)
        units = per_layer_units()
        last = os.path.join(out_dir, f"last_{args.workload}.json")
        overhead = None
        if os.path.exists(last):
            with open(last) as f:
                overhead = run.counters["trace.cycle_s"] - json.load(f)["cycle_s"]
        tracer.dump(
            os.path.join(out_dir, f"spans_{args.workload}.json"),
            {"resources": resources, "trace_overhead_s": overhead,
             "untraced_reference": last if overhead is not None else None},
        )
    else:
        metrics = {"setup_s": statistics.median(setups), "items_per_s": e2e["items_per_s"]}
        units = END_TO_END
        with open(os.path.join(out_dir, f"last_{args.workload}.json"), "w") as f:
            json.dump({"cycle_s": statistics.median(cycle_walls), "seed": args.seed}, f)
    shutil.rmtree(work, ignore_errors=True)

    phases["total"] = time.perf_counter() - t_start
    print(json.dumps({"resources": resources, "phases_s": phases, "setups_s": setups, "cycles": len(cycle_walls),
                      "samples_s": run.samples, "checks": run.checks, "notes": run.notes}))
    for name, (value, unit) in e2e["named"].items():
        print(f"{args.workload} {name} {value:.6g} {unit}")
    print(f"{args.workload} peak_rss_mb {resources['peak_rss_mb']:.6g} MB")
    print(f"{args.workload} error_rate {failed / max(1, run.attempted):.6g} ratio")
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

"""Fold a Spark event log into per-operation layer metrics.

The traced run enables Spark's event log from outside the program
(uncompressed, non-rolling, one JSON event per line) and runs each
traced operation under a Spark job group named after it. This module
maps every task to its operation through the job group of its stage's
job and sums the task metrics, which splits each operation's time into
JVM work, Python worker work and driver-only time.
"""

from __future__ import annotations

import json
import statistics

from .spans import covered

# one entry per metric reported for each operation, in output order
METRICS = (
    "stages",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "jvm_gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "python_run_ms",
    "python_bytes_in",
    "python_bytes_out",
    "task_skew",
    "driver_only_s",
)

# MapInPandas SQL metrics, summed over the task-level updates
_PY_ACCUMS = {
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_bytes_in",
    "data returned from Python workers": "python_bytes_out",
}


def read_events(paths):
    for path in paths:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def fold(events, op_windows: dict) -> dict:
    """{op: {metric: value}} for every op in `op_windows`.

    `op_windows` maps an op (job group id) to the wall-clock intervals,
    in epoch seconds, of the spans that ran it. `events` may hold the
    logs of several applications one after another (a run restarts its
    session between set-ups), so stages are keyed by application too.
    `task_skew` is max over median task duration in the op's stage with
    the most task time. `driver_only_s` is the op's wall time during
    which no stage was running."""
    stage_op: dict = {}
    stage_span: dict = {}
    tasks: dict = {}
    app = None
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerApplicationStart":
            app = e.get("App ID")
        elif kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in e.get("Stage IDs", []):
                if group is not None:
                    stage_op[(app, sid)] = group
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sub, done = info.get("Submission Time"), info.get("Completion Time")
            if sub is not None and done is not None:
                stage_span[(app, info["Stage ID"], info.get("Stage Attempt ID", 0))] = (
                    sub / 1000.0,
                    done / 1000.0,
                )
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault((app, e["Stage ID"]), []).append(e)

    out = {op: dict.fromkeys(METRICS, 0) for op in op_windows}
    stage_task_ms: dict = {}
    for stage, evs in tasks.items():
        op = stage_op.get(stage)
        if op not in out:
            continue
        m = out[op]
        m["stages"] += 1
        durs = []
        for e in evs:
            m["tasks"] += 1
            tm = e.get("Task Metrics") or {}
            m["executor_run_ms"] += tm.get("Executor Run Time", 0)
            m["executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            m["jvm_gc_ms"] += tm.get("JVM GC Time", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            ti = e.get("Task Info") or {}
            for acc in ti.get("Accumulables", []):
                key = _PY_ACCUMS.get(acc.get("Name"))
                if key is not None:
                    m[key] += int(acc.get("Update") or 0)
            if "Launch Time" in ti and "Finish Time" in ti:
                durs.append(ti["Finish Time"] - ti["Launch Time"])
        if durs:
            total = sum(durs)
            if total > stage_task_ms.get(op, (-1, 0))[0]:
                stage_task_ms[op] = (total, max(durs) / max(statistics.median(durs), 1.0))
    for op, (_, skew) in stage_task_ms.items():
        out[op]["task_skew"] = skew
    busy = list(stage_span.values())
    for op, windows in op_windows.items():
        out[op]["driver_only_s"] = sum((b - a) - covered(busy, a, b) for a, b in windows)
    return out

"""Per-layer numbers from a traced run.

The worker records which Spark jobs ran under which layer (job groups
read back through ``statusTracker``); the session's event log, written
through the ``SPARK_GRAFT_EXTRA_CONF`` deployment setting, holds the
stage and task metrics. This module joins the two once the session has
stopped and the log is complete.
"""

from __future__ import annotations

import json
import os


def event_log_conf(log_dir: str) -> str:
    """``SPARK_GRAFT_EXTRA_CONF`` entries that make the session write its
    event log under ``log_dir``."""
    return (
        "spark.eventLog.enabled=true,spark.eventLog.rolling.enabled=false,"
        f"spark.eventLog.compress=false,spark.eventLog.dir=file://{os.path.abspath(log_dir)}"
    )


def task_totals(log_dir: str, job_ids) -> dict[str, float]:
    """Sum stage and task metrics over the given jobs from the single
    event log in ``log_dir``."""
    logs = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    wanted = set(job_ids)
    stages: set[int] = set()
    out = dict.fromkeys(
        ("stages", "tasks", "task_run_s", "jvm_cpu_s", "gc_s", "shuffle_read_bytes",
         "shuffle_write_bytes", "input_bytes", "spill_bytes"),
        0.0,
    )
    with open(os.path.join(log_dir, logs[0]), encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart" and ev["Job ID"] in wanted:
                stages.update(ev.get("Stage IDs", ()))
            elif kind == "SparkListenerStageCompleted":
                if ev["Stage Info"]["Stage ID"] in stages:
                    out["stages"] += 1
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stages:
                m = ev.get("Task Metrics") or {}
                out["tasks"] += 1
                out["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                out["jvm_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                out["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                out["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return out

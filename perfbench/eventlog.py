"""Spark event-log reader and span attribution (standard library only).

Spans are ``(name, start_s, end_s)`` wall-clock windows taken with
``time.time()`` around public calls. Jobs, stages and tasks are attributed
to a span by time window, not by job group: job groups are thread-local,
so the jobs the imputer submits from its thread pool would be missed.
"""

from __future__ import annotations

import glob
import json
import os
import statistics


def read_events(log_dir: str) -> list[dict]:
    """Every event of every application log under ``log_dir``; handles
    both single-file and rolling (``eventlog_v2_*``) layouts."""
    files = sorted(
        f
        for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f)
        and not os.path.basename(f).startswith((".", "appstatus"))
    )
    events = []
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _tasks(events):
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        info = e.get("Task Info") or {}
        m = e.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        yield {
            "stage": (e.get("Stage ID"), e.get("Stage Attempt ID")),
            "start": info.get("Launch Time", 0) / 1000.0,
            "end": info.get("Finish Time", 0) / 1000.0,
            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
            "gc_s": m.get("JVM GC Time", 0) / 1000.0,
            "shuffle_read": sr.get("Remote Bytes Read", 0)
            + sr.get("Local Bytes Read", 0),
            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
            "spill": m.get("Memory Bytes Spilled", 0)
            + m.get("Disk Bytes Spilled", 0),
        }


def _union_s(intervals, lo, hi) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def span_layers(events: list[dict], start: float, end: float) -> dict:
    """Spark-layer totals for the window [start, end] (epoch seconds)."""
    jobs = [
        e for e in events
        if e.get("Event") == "SparkListenerJobStart"
        and start <= e.get("Submission Time", 0) / 1000.0 <= end
    ]
    stages = [
        e for e in events
        if e.get("Event") == "SparkListenerStageSubmitted"
        and start <= (e["Stage Info"].get("Submission Time") or 0) / 1e3 <= end
    ]
    tasks = [t for t in _tasks(events) if start <= t["start"] <= end]
    wall = max(end - start, 1e-9)
    busy = _union_s([(t["start"], t["end"]) for t in tasks], start, end)

    by_stage: dict = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["end"] - t["start"])
    skew = 1.0
    for durations in by_stage.values():
        med = statistics.median(durations)
        if len(durations) > 1 and med > 0:
            skew = max(skew, max(durations) / med)

    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.idle_share": 1.0 - busy / wall,
        "spark.task_core_s": sum(t["end"] - t["start"] for t in tasks),
        "spark.executor_cpu_s": sum(t["cpu_s"] for t in tasks),
        "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spark.spill_bytes": sum(t["spill"] for t in tasks),
        "spark.gc_s": sum(t["gc_s"] for t in tasks),
        "spark.task_skew": skew,
    }

"""Aggregate a Spark event log into the ``spark.*`` layer metrics.

Only tasks launched inside the measured window count. Jobs are tagged
with the job group the benchmark client set (``spark.jobGroup.id``),
so input records can be attributed to the request that caused them.
"""

from __future__ import annotations

import json
import os


def read_events(path: str):
    """Yield the events of a (non-rolling, uncompressed) event log."""
    with open(path) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def aggregate(events, window_ms: tuple[float, float], cores: int) -> dict:
    """``spark.*`` totals over tasks launched in ``window_ms`` (epoch ms,
    inclusive), plus ``input_records_by_group`` for attribution."""
    lo, hi = window_ms
    stage_group: dict[int, str | None] = {}
    jobs = 0
    stages: set[int] = set()
    m = dict.fromkeys((
        "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms", "input_bytes",
        "input_records", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    ), 0)
    by_group: dict[str, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
            if lo <= ev.get("Submission Time", -1) <= hi:
                jobs += 1
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            if not lo <= info.get("Launch Time", -1) <= hi:
                continue
            tm = ev.get("Task Metrics") or {}
            stages.add(ev["Stage ID"])
            srd = tm.get("Shuffle Read Metrics", {})
            records = tm.get("Input Metrics", {}).get("Records Read", 0)
            m["tasks"] += 1
            m["executor_run_ms"] += tm.get("Executor Run Time", 0)
            m["executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            m["gc_ms"] += tm.get("JVM GC Time", 0)
            m["input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
            m["input_records"] += records
            m["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0)
            m["shuffle_read_bytes"] += srd.get("Remote Bytes Read", 0) + srd.get(
                "Local Bytes Read", 0)
            m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0)
            group = stage_group.get(ev["Stage ID"])
            if group is not None:
                by_group[group] = by_group.get(group, 0) + records
    wall_ms = max(hi - lo, 1.0)
    out = {f"spark.{k}": v for k, v in m.items()}
    out["spark.jobs"] = jobs
    out["spark.stages"] = len(stages)
    out["spark.core_busy_frac"] = m["executor_run_ms"] / (wall_ms * cores)
    out["input_records_by_group"] = by_group
    return out


def latest_log(event_dir: str) -> str:
    """The event log of the most recently started application under
    ``event_dir`` (each set-up restarts the application)."""
    entries = [os.path.join(event_dir, e) for e in os.listdir(event_dir)
               if not e.startswith(".")]
    if not entries:
        raise FileNotFoundError(f"no event log in {event_dir}")
    return max(entries, key=os.path.getmtime)

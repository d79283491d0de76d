"""Per-job-group task statistics from a Spark event log (standard library).

Spark writes one JSON object per line. ``SparkListenerJobStart`` carries
the job's properties (``spark.jobGroup.id``) and its stage ids;
``SparkListenerTaskEnd`` carries each task's stage, duration, end reason
and metrics. Skipped stages emit no task events, so they are not counted.
``spill_bytes`` is the on-disk (serialised) size of spilled data only:
``Memory Bytes Spilled`` measures the same data at its in-memory size.
"""

from __future__ import annotations

import json
import os
import statistics


def _lines(path: str):
    paths = [path]
    if os.path.isdir(path):
        paths = sorted(
            os.path.join(root, f) for root, _, files in os.walk(path) for f in files
            if not f.startswith(".") and not f.endswith(".crc")
        )
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def group_stats(path: str) -> dict[str, dict[str, float]]:
    """job group id -> {stages, tasks, failed_tasks, task_skew,
    shuffle_write_bytes, spill_bytes}.

    ``task_skew`` is, over the group's stages with at least two
    successful tasks, the largest ratio of the slowest task's duration to
    the median task duration (1.0 when no stage qualifies).
    """
    stage_group: dict[int, str] = {}
    tasks: dict[tuple[str, int, int], list[float]] = {}
    out: dict[str, dict[str, float]] = {}

    def bucket(g: str) -> dict[str, float]:
        return out.setdefault(g, {"stages": 0, "tasks": 0, "failed_tasks": 0,
                                  "task_skew": 1.0, "shuffle_write_bytes": 0,
                                  "spill_bytes": 0})

    for ev in _lines(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if g is not None:
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"))
            if g is None:
                continue
            b = bucket(g)
            info = ev.get("Task Info", {})
            durs = tasks.setdefault((g, ev["Stage ID"], ev.get("Stage Attempt ID", 0)), [])
            b["tasks"] += 1
            failed = info.get("Failed") or info.get("Killed") or (
                (ev.get("Task End Reason") or {}).get("Reason", "Success") != "Success"
            )
            if failed:
                b["failed_tasks"] += 1
            else:
                durs.append(float(info.get("Finish Time", 0) - info.get("Launch Time", 0)))
            m = ev.get("Task Metrics") or {}
            b["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            b["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    for (g, _, _), durs in tasks.items():
        b = bucket(g)
        b["stages"] += 1
        if len(durs) >= 2:
            med = statistics.median(durs)
            b["task_skew"] = max(b["task_skew"], max(durs) / med if med > 0 else 1.0)
    return out

"""Per-job-group totals from a Spark event log.

The event log is JSON lines: the benchmark's session turns compression and
rolling off, so one plain file holds the whole run. Jobs are keyed by the
``spark.jobGroup.id`` property the tracer sets; tasks are attributed to a
job through their stage. The field names are the ones
``tools/profile_query.py`` reads, aggregated by group instead of by job
description.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

FIELDS = ("jobs", "task_cpu_s", "shuffle_write_mb", "spill_mb", "failed_tasks")


def _lines(evdir: str):
    paths = glob.glob(os.path.join(evdir, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path, encoding="utf-8", errors="replace") as f:
            yield from f


def group_totals(evdir: str) -> dict[str, dict[str, float]]:
    """{job group id: {jobs, task_cpu_s, shuffle_write_mb, spill_mb,
    failed_tasks}}; jobs without a group are keyed by ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    for line in _lines(evdir):
        try:
            ev = json.loads(line)
        except ValueError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            acc = out[group]
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            if reason not in (None, "Success"):
                acc["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            swm = m.get("Shuffle Write Metrics") or {}
            acc["shuffle_write_mb"] += swm.get("Shuffle Bytes Written", 0) / (1 << 20)
            acc["spill_mb"] += (
                m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
            ) / (1 << 20)
    return dict(out)

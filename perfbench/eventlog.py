"""Spark event-log parser: jobs, stages and tasks attributed to spans.

A traced run tags every job with the id of the innermost open span as
its job group (``trace.py``). After the SparkContext stops, the event
log holds one JSON object per line; this module folds
``SparkListenerJobStart`` (job -> group, stages) and
``SparkListenerTaskEnd`` (task metrics by stage) into per-group totals.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

MB = 1024 * 1024

FIELDS = ("jobs", "tasks", "task_cpu_s", "shuffle_read_mb",
          "shuffle_write_mb", "spill_mb", "fetch_wait_s")


def log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir``; a rolling log is a directory
    of ``events_*`` files."""
    return sorted(
        os.path.join(dp, f) for dp, _, files in os.walk(log_dir)
        for f in files if not f.startswith((".", "appstatus"))
    )


def parse(path: str) -> dict[str | None, dict]:
    """Job group -> totals: the FIELDS plus ``task_max_over_median``
    (the largest ratio of slowest to median task time over the group's
    stages that ran at least two tasks; 1.0 when none did)."""
    stage_group: dict[int, str | None] = {}
    tot: dict[str | None, dict] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    durations: dict[int, list[float]] = defaultdict(list)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                tot[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                t = tot[stage_group.get(sid)]
                t["tasks"] += 1
                t["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                sr = m.get("Shuffle Read Metrics") or {}
                t["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                         + sr.get("Local Bytes Read", 0)) / MB
                t["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                t["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                t["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                  + m.get("Disk Bytes Spilled", 0)) / MB
                if info.get("Finish Time") and info.get("Launch Time"):
                    durations[sid].append(info["Finish Time"] - info["Launch Time"])
    skew: dict[str | None, float] = defaultdict(lambda: 1.0)
    for sid, ds in durations.items():
        if len(ds) >= 2:
            med = statistics.median(ds)
            ratio = max(ds) / med if med > 0 else 1.0
            group = stage_group.get(sid)
            skew[group] = max(skew[group], ratio)
    out = {}
    for group, t in tot.items():
        out[group] = dict(t, task_max_over_median=skew[group])
    return out


def attribute(spans: list[dict], groups: dict[str | None, dict]) -> list[dict]:
    """Per span: its own job totals plus its descendants' (inclusive),
    wall and self seconds. Spans are opened on one thread, so siblings
    never overlap and self time is wall minus the children's wall."""
    children: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out: dict[str, dict] = {}

    def visit(s: dict) -> dict:
        own = groups.get(s["id"], {})
        rec = {f: own.get(f, 0.0) for f in FIELDS}
        rec["task_max_over_median"] = own.get("task_max_over_median", 1.0)
        wall = s["end"] - s["start"]
        kids = [visit(c) for c in children[s["id"]]]
        for k in kids:
            for f in FIELDS:
                rec[f] += k[f]
            rec["task_max_over_median"] = max(
                rec["task_max_over_median"], k["task_max_over_median"])
        rec.update(wall_s=wall, self_s=wall - sum(k["wall_s"] for k in kids),
                   span=s)
        out[s["id"]] = rec
        return rec

    for s in spans:
        if s["parent"] is None:
            visit(s)
    return [out[s["id"]] for s in spans]

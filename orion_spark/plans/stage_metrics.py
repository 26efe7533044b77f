"""Named driver-side phases of a composed run, each its own Spark job group.

Wrap each phase in `PhaseRecorder.phase(name)`: the jobs its block starts
carry the job group `{tag}.{name}`, so the status tracker counts them
while the session runs (`jobs(name)`) and the Spark event log attributes
their stages and tasks after it stops: `read_event_log` totals the
session's event log with the benchmark's parser (`perfbench/eventlog.py`)
and `PhaseRecorder.rows` joins those totals with each phase's wall time.
The recorder needs no Spark UI.

On exit, normal or not, a phase puts back the caller's job group and
description, so jobs started between phases stay attributed to whatever
group the caller set.
"""

from __future__ import annotations

import shutil
import time
from contextlib import contextmanager


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf that writes one plain event log under `log_dir`."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> dict[str | None, dict]:
    """Job group -> totals of the one event log under `log_dir`, then
    removes the directory. Call after the session has stopped. Needs the
    repository root on `sys.path` (the parser lives in `perfbench/`)."""
    from perfbench import eventlog

    (log,) = eventlog.log_files(log_dir)
    groups = eventlog.parse(log)
    shutil.rmtree(log_dir)
    return groups


class PhaseRecorder:
    """Runs named phases under job groups `{tag}.{name}` and records
    their wall seconds in `walls`, in phase order."""

    def __init__(self, spark, tag: str):
        self.sc = spark.sparkContext
        self.tag = tag
        self.walls: dict[str, float] = {}

    def group(self, name: str) -> str:
        return f"{self.tag}.{name}"

    def _label(self, group: str | None, description: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty("spark.job.description", description)

    @contextmanager
    def phase(self, name: str):
        caller = (self.sc.getLocalProperty("spark.jobGroup.id"),
                  self.sc.getLocalProperty("spark.job.description"))
        self._label(self.group(name), name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name] = (self.walls.get(name, 0.0)
                                + time.perf_counter() - t0)
            self._label(*caller)

    def rows(self, groups: dict[str | None, dict]) -> list[dict]:
        """One row per phase, in phase order: its name, wall seconds and
        its totals in `groups` (`read_event_log`), zeros for a phase that
        started no job."""
        from perfbench import eventlog

        no_jobs = dict.fromkeys(eventlog.FIELDS, 0.0) | {"task_max_over_median": 1.0}
        return [
            {"phase": name, "wall_s": round(wall, 3),
             **groups.get(self.group(name), no_jobs)}
            for name, wall in self.walls.items()
        ]

    def jobs(self, name: str) -> int:
        """Jobs the phase has started so far."""
        return len(self.sc.statusTracker().getJobIdsForGroup(self.group(name)))

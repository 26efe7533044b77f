"""Spans recorded from outside the engine, attributed to Spark jobs.

A span is a named interval on the driver thread with a parent and the
run's id. Every span is also a Spark job group: while it is the
innermost open span, the jobs the driver starts carry its id, so the
event log (``eventlog.py``) attributes jobs, stages and tasks to it
after the run. Outside every span, jobs carry the iteration's group, so
``jobs(iteration)`` can count an untraced iteration's jobs from the
status tracker without an event log.

Engine functions are wrapped by the name the caller looks up: a module
that did ``from x import f`` calls its own binding ``f``, so the wrapper
goes on that module, not on ``x``. ``unwrap_engine`` restores every
original binding.
"""

from __future__ import annotations

import functools
import importlib
import time
from contextlib import contextmanager

# (module, attribute the caller looks up, span name). ``build_graph``
# imports the merge, bundle and sidecar helpers into its own namespace,
# and imports merge_report and write_merge_sidecar at call time from
# their modules; the upsert imports merge_edges at call time.
WRAPS = [
    ("orion_spark.plans.pipeline", "read_bundle", "sources.kgx.read_bundle"),
    ("orion_spark.plans.pipeline", "write_bundle", "sources.kgx.write_bundle"),
    ("orion_spark.plans.pipeline", "merge_nodes", "operators.merge"),
    ("orion_spark.plans.pipeline", "merge_edges", "operators.merge"),
    ("orion_spark.plans.pipeline", "connected_edge_subset", "operators.merge"),
    ("orion_spark.plans.pipeline", "write_metadata_sidecars",
     "sinks.metadata"),
    ("orion_spark.operators.metrics", "merge_report",
     "operators.metrics.merge_report"),
    ("orion_spark.sinks.metadata", "write_merge_sidecar", "sinks.metadata"),
    ("orion_spark.operators.merge", "merge_edges", "operators.merge"),
    ("orion_spark.sinks.incremental", "upsert_sharded_edges",
     "sinks.incremental.upsert_sharded_edges"),
    ("orion_spark.sinks.incremental", "read_sharded_bundle",
     "sinks.incremental.read_sharded_bundle"),
    ("orion_spark.sinks.qc_incremental", "refresh_qc_partials",
     "sinks.qc_incremental.refresh_qc_partials"),
]


class Tracer:
    """Spans of one run. ``enabled`` turns recording on for the traced
    iterations; while it is off, ``span`` costs nothing."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.iteration = 0
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []

    def _group(self) -> None:
        if self._stack:
            self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
        else:
            self.sc.setJobGroup(f"{self.run_id}.iter{self.iteration}",
                                "iteration")

    def begin(self, iteration: int, traced: bool) -> None:
        """Start an iteration: set its job group, and wrap the engine's
        functions when it is traced."""
        self.iteration = iteration
        self.enabled = traced
        self._group()
        if traced:
            for mod, attr, name in WRAPS:
                self.wrap(importlib.import_module(mod), attr, name)

    def end(self) -> None:
        for module, attr, fn in reversed(self._patches):
            setattr(module, attr, fn)
        self._patches.clear()
        self.enabled = False
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def jobs(self, iteration: int) -> int:
        """Jobs an untraced iteration started."""
        return len(self.sc.statusTracker().getJobIdsForGroup(
            f"{self.run_id}.iter{iteration}"))

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"{self.run_id}.{len(self.spans)}",
            "run_id": self.run_id,
            "name": name,
            "iteration": self.iteration,
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._group()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._group()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a wrapper that opens span ``name``."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)
        self._patches.append((module, attr, fn))

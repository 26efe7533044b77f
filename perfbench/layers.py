"""Per-layer metrics of a traced run.

Spans are grouped by name (an engine module, or a registered query and
its build/plan/exec phases) and summed per traced iteration; a span
nested in a span of the same name is not counted twice. Every metric in
``names()`` is reported on every workload, 0 where the workload does not
reach the layer, so a change that moves a layer another workload should
not touch shows there.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

import eventlog
from workloads import GRAPH_QUERIES

SPAN_FIELDS = ("wall_s", "self_s") + eventlog.FIELDS + ("task_max_over_median",)
SMALL = ("wall_s", "jobs", "task_cpu_s", "shuffle_write_mb")

# layer (span name) -> the span fields reported for it
LAYERS: dict[str, tuple[str, ...]] = {
    "plans.pipeline.build_graph": ("wall_s", "self_s", "jobs"),
    "sources.kgx.read_bundle": ("wall_s", "jobs"),
    "sources.kgx.write_bundle": SPAN_FIELDS,
    "operators.merge": ("wall_s", "jobs"),
    "operators.metrics.merge_report": ("wall_s", "jobs", "task_cpu_s"),
    "sinks.metadata": ("wall_s", "jobs", "task_cpu_s"),
    "operators.normalize": SMALL,
    "operators.analyze": SMALL,
    "sinks.graph_csv": SMALL,
    "cli.upsert": ("wall_s", "self_s", "jobs"),
    "sinks.incremental.upsert_sharded_edges": ("wall_s", "self_s", "jobs",
                                               "task_cpu_s",
                                               "shuffle_write_mb"),
    "sinks.qc_incremental.refresh_qc_partials": ("wall_s", "jobs",
                                                 "task_cpu_s"),
    "sinks.incremental.read_sharded_bundle": ("wall_s", "jobs"),
    "lookup": ("wall_s", "jobs"),
}
# measured by the workload itself, as a median over the traced calls
COUNTS = ("sinks.incremental.touched_shards",
          "sinks.incremental.rewritten_mb_per_delta_mb")
PHASES = ("build_s", "build_jobs", "plan_s", "plan_jobs", "exec_s",
          "exec_jobs")
QUERY_TOTALS = PHASES + ("tasks", "task_cpu_s", "shuffle_write_mb",
                         "fetch_wait_s", "task_max_over_median")
SETUP = ("session.start_s", "session.prepare_s", "session.warmup_s",
         "session.peak_rss_mb")
TRACE = ("trace.wall_s", "trace.untraced_wall_s", "trace.overhead_s",
         "trace.jobs", "trace.untraced_jobs", "trace.spans")


def unit(name: str) -> str:
    field = name.rsplit(".", 1)[-1]
    if field in ("task_max_over_median", "rewritten_mb_per_delta_mb"):
        return "ratio"
    if field.endswith("_s"):
        return "s"
    if field.endswith("_mb"):
        return "MB"
    return "count"


def names() -> list[str]:
    out = list(SETUP) + list(TRACE)
    for layer, fields in LAYERS.items():
        out += [f"{layer}.{f}" for f in fields]
    out.append("sinks.incremental.upsert_sharded_edges.jobs_per_call")
    out += list(COUNTS)
    for q in GRAPH_QUERIES:
        out += [f"plans.queries.{q}.{p}" for p in PHASES if p != "plan_jobs"]
    out += [f"plans.queries.{f}" for f in QUERY_TOTALS]
    return out


def _attributed(spans: list[dict], log_dir: str) -> list[dict]:
    groups: dict = {}
    for path in eventlog.log_files(log_dir):
        groups.update(eventlog.parse(path))
    return eventlog.attribute(spans, groups)


def _by_name(records: list[dict]) -> dict[str, list[dict]]:
    """Span records per name, skipping those nested in a span of the
    same name."""
    by_id = {r["span"]["id"]: r for r in records}
    out: dict[str, list[dict]] = defaultdict(list)
    for r in records:
        name, p = r["span"]["name"], r["span"]["parent"]
        while p is not None and by_id[p]["span"]["name"] != name:
            p = by_id[p]["span"]["parent"]
        if p is None:
            out[name].append(r)
    return out


def report(spans: list[dict], log_dir: str, counts: dict[str, list[float]],
           setup: dict[str, float], traced: list[float],
           untraced: list[float], untraced_jobs: list[int]) -> dict:
    records = _attributed(spans, log_dir)
    by_name = _by_name(records)
    n_iter = len({s["iteration"] for s in spans}) or 1

    def total(name: str, field: str) -> float:
        recs = by_name.get(name, [])
        if field == "task_max_over_median":
            return max((r[field] for r in recs), default=1.0)
        return sum(r[field] for r in recs) / n_iter

    values: dict[str, float] = dict(setup)
    values["trace.wall_s"] = statistics.median(traced)
    values["trace.untraced_wall_s"] = statistics.median(untraced)
    values["trace.overhead_s"] = (values["trace.wall_s"]
                                  - values["trace.untraced_wall_s"])
    # every job of a traced iteration, attributed through the top-level
    # spans; equals the untraced count when attribution misses nothing
    values["trace.jobs"] = sum(
        r["jobs"] for r in records if r["span"]["parent"] is None) / n_iter
    values["trace.untraced_jobs"] = statistics.median(untraced_jobs)
    values["trace.spans"] = len(spans) / n_iter
    for layer, fields in LAYERS.items():
        for f in fields:
            values[f"{layer}.{f}"] = total(layer, f)
    upserts = by_name.get("sinks.incremental.upsert_sharded_edges", [])
    values["sinks.incremental.upsert_sharded_edges.jobs_per_call"] = (
        sum(r["jobs"] for r in upserts) / len(upserts) if upserts else 0.0)
    for k in COUNTS:
        values[k] = statistics.median(counts[k]) if counts.get(k) else 0.0
    for q in GRAPH_QUERIES:
        for p in PHASES:
            phase, kind = p.split("_")
            values[f"plans.queries.{q}.{p}"] = total(
                f"plans.queries.{q}.{phase}",
                "wall_s" if kind == "s" else "jobs")
    for f in QUERY_TOTALS:
        if f in PHASES:
            vals = [values[f"plans.queries.{q}.{f}"] for q in GRAPH_QUERIES]
        else:
            vals = [total(f"plans.queries.{q}", f) for q in GRAPH_QUERIES]
        values[f"plans.queries.{f}"] = (
            max(vals) if f == "task_max_over_median" else sum(vals))
    return {n: {"value": values[n], "unit": unit(n)} for n in names()}


def table(spans: list[dict], log_dir: str) -> list[dict]:
    """Every span name with all its fields, summed over the run."""
    rows = []
    for name, recs in sorted(_by_name(_attributed(spans, log_dir)).items()):
        row = {"layer": name, "calls": len(recs)}
        for f in SPAN_FIELDS[:-1]:
            row[f] = round(sum(r[f] for r in recs), 4)
        row["task_max_over_median"] = round(
            max(r["task_max_over_median"] for r in recs), 3)
        rows.append(row)
    return rows

#!/usr/bin/env python
"""Build / plan / exec breakdown for one registered query (guide §1:
measure first, empirically). Each measured run is three phases, as the
benchmark's graph workload times a query: the builder (its eager jobs),
forcing the physical plan, and a `noop` write. Each phase is a Spark job
group (plans/stage_metrics.PhaseRecorder); the session writes the event
log, and after it stops the benchmark's parser (perfbench/eventlog.py)
totals each phase's jobs, tasks, task CPU, shuffle, spill, fetch wait and
max/median task time. No Spark UI needed.

Usage: python tools/job_profile.py <query> [sf_dir] [--runs N]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import eventlog  # noqa: E402

PHASES = ("build", "plan", "exec")


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 1
    for a in sys.argv[1:]:
        if a.startswith("--runs"):
            runs = int(a.split("=", 1)[1]) if "=" in a else int(sys.argv[sys.argv.index(a) + 1])
    name = args[0]
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"

    evdir = tempfile.mkdtemp(prefix="spark-events-")
    from orion_spark.plans.stage_metrics import (
        PhaseRecorder, event_log_conf, read_event_log,
    )
    from orion_spark.session import autoscale_shuffle, get_spark

    spark = get_spark(app_name=f"profile-{name}", extra_conf=event_log_conf(evdir))
    spark.sparkContext.setLogLevel("ERROR")
    autoscale_shuffle(spark, sf_dir)

    from orion_spark.plans.queries import QUERIES

    fn = QUERIES[name]
    # warmup at sf0.001 so JIT/codegen cache is hot (bench methodology)
    warm = "/root/testdata/sf0.001"
    if os.path.isdir(warm) and warm != sf_dir:
        fn(spark, warm).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()

    measured = []
    for i in range(runs):
        rec = PhaseRecorder(spark, f"profile.{name}.run{i}")
        with rec.phase("build"):
            df = fn(spark, sf_dir)
        with rec.phase("plan"):
            df._jdf.queryExecution().executedPlan()
        with rec.phase("exec"):
            df.write.format("noop").mode("overwrite").save()
        measured.append((rec, sum(rec.jobs(p) for p in PHASES)))
    spark.stop()

    groups = read_event_log(evdir)
    cols = ("wall_s", *eventlog.FIELDS, "task_max_over_median")
    widths = [max(len(c), 12) for c in cols]
    print("run phase " + " ".join(f"{c:>{w}}" for c, w in zip(cols, widths)))
    for i, (rec, tracked) in enumerate(measured):
        for row in rec.rows(groups):
            print(f"{i:3d} {row['phase']:5s} " + " ".join(
                f"{row[c]:{w}.3f}" for c, w in zip(cols, widths)))
        print(f"run {i}: {tracked} jobs by the status tracker")


if __name__ == "__main__":
    main()

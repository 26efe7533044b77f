#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload kgx_lifecycle --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout. The runner writes its input
tables from the seed, starts one local Spark session with one worker
thread per CPU, prepares the workload's fixtures, runs warm-up
iterations, the first of which also checks the outputs, then runs timed
iterations for ``--seconds``. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns the
Spark event log on, alternates traced and untraced iterations, and
reports the per-layer metrics (``layers.py``): time, jobs, tasks and
shuffle bytes of each engine module the workload calls.

Everything the run writes lives under ``.perfbench_work/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# TPC-H scale factor of the input tables per workload (lineitem has
# about 6M x sf rows)
SCALE = {"kgx_lifecycle": 0.002, "graph_iterative": 0.002}

# the Spark JVM's heap, fixed and pre-touched
HEAP = "2g"

# On a shared virtual machine the hypervisor can take a quarter of the CPU
# time for minutes at a time (``steal`` in /proc/stat); iterations timed
# then ran up to 2.4x slower. ``wall_s`` is the median of the timed
# iterations that lost at most STEAL_MAX of the machine's CPU time, and
# the runner keeps iterating until it has one, for up to RETRY_UNTIL_S
# after it started, so that a run still ends within three minutes.
STEAL_MAX = 0.05
RETRY_UNTIL_S = 100

END_TO_END = {
    "wall_s": "s",
    "setup_s": "s",
    "spark_jobs": "count",
    "peak_rss_mb": "MB",
}

clock = time.perf_counter
STARTED = clock()


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test hooks: a smaller input, and a wrong expectation the
    # correctness gate must catch
    ap.add_argument("--scale", type=float, help=argparse.SUPPRESS)
    ap.add_argument("--corrupt-expectation", action="store_true",
                    help=argparse.SUPPRESS)
    return ap.parse_args(argv)


# ---------------------------------------------------------------------------
# processes and environment
# ---------------------------------------------------------------------------

def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def spark_jvms(exclude: int) -> list[int]:
    """Pids of live Spark driver JVMs other than ``exclude``."""
    return [int(d) for d in os.listdir("/proc")
            if d.isdigit() and int(d) != exclude
            and "org.apache.spark.deploy.SparkSubmit" in _cmdline(int(d))]


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as fh:
                kids = [int(k) for k in fh.read().split()]
        except OSError:
            kids = []
        out += kids
        todo += kids
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(") ", 1)[-1][:1] not in ("Z", "")
    except OSError:
        return False


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> list[int]:
    """The machine's CPU time so far, by state (``/proc/stat``): user,
    nice, system, idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def share(before: list[int], after: list[int], *states: int) -> float:
    """Share of the CPU time between two ``cpu_ticks`` samples spent in
    ``states``."""
    d = [b - a for a, b in zip(before, after)]
    return sum(d[s] for s in states) / max(sum(d), 1)


IDLE, IOWAIT, STEAL = 3, 4, 7


def busy_cpus(seconds: float = 1.0) -> float:
    """CPUs' worth of time the whole machine spent busy over ``seconds``;
    the caller sleeps meanwhile."""
    before = cpu_ticks()
    time.sleep(seconds)
    busy = 1 - share(before, cpu_ticks(), IDLE, IOWAIT)
    return busy * (os.cpu_count() or 1)


def environment(spark, jvm_pid: int, busy: float) -> dict:
    """What the numbers depend on, and why a run may be contaminated:
    another Spark JVM alive (concurrent JVMs have inflated times by up
    to 10x), or other work keeping a CPU busy before the run. The load
    average is recorded but not judged: it still counts the previous
    run's JVM for a minute after it ends."""
    others = spark_jvms(exclude=jvm_pid)
    env = {
        "nproc": cpus(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "load_avg_1m": os.getloadavg()[0],
        "busy_cpus_before": busy,
        "other_spark_jvms": others,
    }
    reasons = []
    if others:
        reasons.append(f"{len(others)} other Spark JVM(s) alive: {others}")
    if busy > 1:
        reasons.append(f"{busy:.1f} CPUs busy before the session started")
    env["contaminated"] = reasons
    return env


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def start_session(work: str, sf_dir: str, event_log: str | None):
    """One local session with one worker thread per CPU, its scratch
    space under ``work``; shuffle partitions sized to the inputs by the
    engine's ``autoscale_shuffle``, as the product paths do."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    tempfile.tempdir = tmp
    os.environ.update({
        # the engine's session defaults to local[32]
        "SPARK_GRAFT_CPUS": str(cpus()),
        # a fixed heap the inputs need a small share of, all of it touched
        # at start (-Xms, AlwaysPreTouch below): when G1 chose how far to
        # grow the heap, the JVM's peak RSS varied by 20-30% between runs
        "ORION_SPARK_DRIVER_MEM": HEAP,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    })
    for var in ("SPARK_MASTER", "ORION_SPARK_SHUFFLE_PARTITIONS",
                "SPARK_GRAFT_SF_DIR", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(var, None)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Dderby.system.home={tmp}",
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from orion_spark.session import autoscale_shuffle, get_spark

    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    autoscale_shuffle(spark, sf_dir)
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and every process it started, and wait
    until each has ended."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    kids = descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    for pid in kids:
        while alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if alive(pid):
            os.kill(pid, 9)


# ---------------------------------------------------------------------------
# measurement
# ---------------------------------------------------------------------------

def measure(args, work: str) -> dict:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import gen

    sf_dir = os.path.join(work, "inputs")
    t = clock()
    gen.generate(sf_dir, args.scale or SCALE[args.workload], args.seed)
    gen_s = clock() - t

    busy = busy_cpus()
    event_log = os.path.join(work, "eventlog") if args.trace else None
    t = clock()
    spark = start_session(work, sf_dir, event_log)
    session_s = clock() - t
    jvm_pid = spark.sparkContext._gateway.proc.pid
    env = environment(spark, jvm_pid, busy)
    print(json.dumps({"environment": env}), flush=True)
    for reason in env["contaminated"]:
        log(f"CONTAMINATED RUN: {reason}")

    import trace
    import workloads

    tracer = trace.Tracer(spark.sparkContext, uuid.uuid4().hex[:8])
    w = workloads.WORKLOADS[args.workload](
        spark, tracer, sf_dir, os.path.join(work, "iter"), args.seed)
    w.corrupt = args.corrupt_expectation
    attempted = failed = 0
    failures: list[str] = []

    def tally(r: dict) -> None:
        nonlocal attempted, failed
        attempted += len(r["log"])
        failed += len(r["failures"])
        failures.extend(r["failures"])

    walls, jobs, clean = [], [], []
    traced, untraced = [], []
    try:
        t = clock()
        w.prepare(os.path.join(work, "fixtures"))
        prep_s = clock() - t
        log(f"inputs {gen_s:.2f} s, session {session_s:.2f} s, "
            f"prepare {prep_s:.2f} s")

        t = clock()
        for it in range(1 + w.warm_passes):
            tracer.begin(it, traced=False)
            r = w.iteration(it, check=it == 0)
            tracer.end()
            tally(r)
            log(f"warm-up {it}: {r['wall']:.2f} s"
                + (f", failures: {r['failures']}" if it == 0 else ""))
        warm_s = clock() - t
        setup_s = gen_s + session_s + prep_s + warm_s

        t0 = clock()
        first = it + 1
        while True:
            it += 1
            on = bool(args.trace) and (it - first) % 2 == 0
            before = cpu_ticks()
            tracer.begin(it, traced=on)
            r = w.iteration(it)
            tracer.end()
            steal = share(before, cpu_ticks(), STEAL)
            tally(r)
            walls.append(r["wall"])
            (traced if on else untraced).append(r["wall"])
            if steal <= STEAL_MAX:
                clean.append(r["wall"])
            if not on:
                jobs.append(tracer.jobs(it))
            log(f"iteration {it}{' (traced)' if on else ''}: "
                f"{r['wall']:.2f} s, {jobs[-1] if not on else '-'} jobs, "
                f"steal {steal:.1%}; "
                + ", ".join(f"{n} {s:.2f}" for n, s in r["log"]))
            enough = len(walls) >= (2 if args.trace else 1)
            retry = (not clean and not args.trace
                     and clock() - STARTED < RETRY_UNTIL_S)
            if (enough and not retry
                    and clock() - t0 + statistics.median(walls) > args.seconds):
                break
        rss = peak_rss_mb(jvm_pid)
    except Exception as e:  # an op failed: report it, never a partial metric
        log(f"run failed: {type(e).__name__}: {e}")
        stop_session(spark)
        return {"correct": False, "attempted": attempted + 1,
                "failed": failed + 1, "metrics": {}}
    stop_session(spark)
    if failures:
        log("correctness failures:\n  " + "\n  ".join(failures[:20]))

    if args.trace:
        import layers

        metrics = layers.report(
            tracer.spans, event_log, w.counts,
            setup={"session.start_s": session_s,
                   "session.prepare_s": prep_s,
                   "session.warmup_s": warm_s,
                   "session.peak_rss_mb": rss},
            traced=traced, untraced=untraced,
            untraced_jobs=jobs)
        for row in layers.table(tracer.spans, event_log):
            print(json.dumps(row), flush=True)
    else:
        if not clean:
            log(f"CONTAMINATED RUN: the hypervisor took more than "
                f"{STEAL_MAX:.0%} of the CPU time of every timed iteration")
        values = {
            "wall_s": statistics.median(clean or walls),
            "setup_s": setup_s,
            "spark_jobs": statistics.median(jobs),
            "peak_rss_mb": rss,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in values.items()}
    print(json.dumps({"iterations": len(walls), "clean": len(clean)}),
          flush=True)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "orion_spark")):
        print(f"no engine sources (orion_spark/) under {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

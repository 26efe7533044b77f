#!/usr/bin/env python3
"""Self-test of the benchmark, on small inputs.

    python3 perfbench/selftest.py

From the root of a source checkout, one run after another (never in
parallel, so no two Spark JVMs compete):

1. each workload once at sf0.001 with ``--trace 0`` and with
   ``--trace 1``: the result must be correct, and every end-to-end or
   per-layer metric named in ``BENCHMARK.json`` must be printed with its
   unit. In the traced run, the jobs attributed to spans must add up to
   the untraced iteration's jobs, and for ``graph_iterative`` the
   per-query build, plan and exec jobs plus the lookup jobs must add up
   to them too;
2. each workload once with a corrupted expectation: the correctness gate
   must fail;
3. the runner in a directory that holds only ``BENCHMARK.json`` and the
   benchmark's own files must exit non-zero without printing a result.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.001"


def run(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    if result is None or "correct" not in result:
        result = None
    return proc.returncode, result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    problems: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(("ok    " if ok else "FAIL  ") + what, flush=True)
        if not ok:
            problems.append(what)

    for wl in (w["name"] for w in bench["workloads"]):
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            rc, res = run(["--workload", wl, "--seed", "7", "--seconds", "1",
                           "--trace", str(trace), "--scale", SCALE])
            expect(rc == 0 and res is not None and res["correct"]
                   and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{wl} --trace {trace}: correct result, exit 0")
            got = (res or {}).get("metrics", {})
            missing = [m["name"] for m in bench[kind]
                       if got.get(m["name"], {}).get("unit") != m["unit"]]
            expect(not missing, f"{wl} --trace {trace}: every {kind} metric "
                   f"printed with its unit (missing: {missing})")
            if trace and got:
                jobs = got["trace.jobs"]["value"]
                expect(jobs == got["trace.untraced_jobs"]["value"],
                       f"{wl}: traced jobs {jobs} equal untraced jobs "
                       f"{got['trace.untraced_jobs']['value']}")
                if wl == "graph_iterative":
                    parts = sum(got[f"plans.queries.{p}_jobs"]["value"]
                                for p in ("build", "plan", "exec"))
                    parts += got["lookup.jobs"]["value"]
                    expect(parts == jobs, f"{wl}: build+plan+exec+lookup "
                           f"jobs {parts} equal spark jobs {jobs}")
        rc, res = run(["--workload", wl, "--seed", "7", "--seconds", "1",
                       "--trace", "0", "--scale", SCALE,
                       "--corrupt-expectation"])
        expect(rc == 0 and res is not None and not res["correct"]
               and res["failed"] >= 1,
               f"{wl}: a corrupted expectation fails the correctness gate")

    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".selftest-") as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        rc, res = run(["--workload", bench["workloads"][0]["name"],
                       "--seed", "1", "--seconds", "1", "--trace", "0"],
                      cwd=bare)
        expect(rc != 0 and res is None,
               f"benchmark files alone: exit {rc}, no result printed")

    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

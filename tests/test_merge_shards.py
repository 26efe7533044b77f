"""tools/merge_correctness_shards.py: reassembling sharded sweep artifacts,
and the artifacts tools/check_correctness.py --json leaves behind.

The shard tests are pure-python (no Spark): they fabricate per-shard
--json records over the real registry names and check the merged
artifact is exactly what a single end-to-end tools/check_correctness.py
--json run would have produced — registry-complete, registry-ordered,
with duplicate/missing shard membership rejected loudly. The last test
runs check_correctness.py itself on one query at sf0.001.
"""

import json
import os
import subprocess
import sys

from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
TOOL = REPO / "tools" / "merge_correctness_shards.py"

sys.path.insert(0, str(REPO))

from orion_spark.plans.queries import QUERIES  # noqa: E402


def _rec(hash_match=True):
    return {
        "rows_match": True, "schema_match": True, "hash_match": hash_match,
        "spark_rows": 1, "oracle_rows": 1, "err": None,
    }


def _write_shards(tmp_path, n=3, drop=None, dupe=None):
    names = [q for q in QUERIES if q != drop]
    shards = [{} for _ in range(n)]
    for i, name in enumerate(names):
        shards[i % n][name] = _rec()
    if dupe:
        shards[0][dupe] = _rec()
        shards[1][dupe] = _rec()
    paths = []
    for i, results in enumerate(shards):
        p = tmp_path / f"shard{i}.json"
        p.write_text(json.dumps({"sf_dir": "/root/testdata/sf0.1",
                                 "results": results}))
        paths.append(p)
    return paths


def _run(out, paths):
    return subprocess.run(
        [sys.executable, str(TOOL), str(out)] + [str(p) for p in paths],
        capture_output=True, text=True)


def test_merge_restores_registry_order(tmp_path):
    paths = _write_shards(tmp_path)
    out = tmp_path / "merged.json"
    proc = _run(out, paths)
    assert proc.returncode == 0, proc.stdout + proc.stderr
    merged = json.loads(out.read_text())
    assert list(merged["results"]) == list(QUERIES)
    assert merged["sf_dir"] == "/root/testdata/sf0.1"
    assert "3 concurrent registry shards" in merged["note"]


def test_merge_rejects_missing_query(tmp_path):
    some = next(iter(QUERIES))
    paths = _write_shards(tmp_path, drop=some)
    proc = _run(tmp_path / "merged.json", paths)
    assert proc.returncode != 0
    assert some in proc.stdout


def test_merge_rejects_duplicate_query(tmp_path):
    some = next(iter(QUERIES))
    paths = _write_shards(tmp_path, drop=some, dupe=some)
    proc = _run(tmp_path / "merged.json", paths)
    assert proc.returncode != 0
    assert "more than one shard" in proc.stdout


def test_check_correctness_json_leaves_no_partial(tmp_path):
    """A complete `check_correctness.py --json OUT` run leaves OUT with
    every record and no `OUT.partial` beside it."""
    out = tmp_path / "out.json"
    proc = subprocess.run(
        [sys.executable, str(REPO / "tools" / "check_correctness.py"),
         "--json", str(out), "/root/testdata/sf0.001",
         "tpch_q6_forecast_revenue"],
        capture_output=True, text=True, timeout=420,
        env={**os.environ, "SPARK_GRAFT_CPUS": "2"},
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    results = json.loads(out.read_text())["results"]
    assert results["tpch_q6_forecast_revenue"]["hash_match"] is True
    assert sorted(p.name for p in tmp_path.iterdir()) == ["out.json"]

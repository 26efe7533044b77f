#!/usr/bin/env python
"""Self-check harness mimicking the driver's t2 gate: run each declared
query on Spark AND its oracle SQL on DuckDB, compare row count + columns +
order-insensitive values.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
       python tools/check_correctness.py --json OUT.json [sf_dir] [query ...]

--json additionally writes a driver-CORRECTNESS-style record per query
({rows_match, schema_match, hash_match, spark_rows, oracle_rows, err})
so scale-point sweeps (e.g. sf0.1) leave an auditable committed artifact.
--rows-only NAME (repeatable) demotes NAME to a rows-only check: the
Spark side still runs and is recorded, but the oracle is skipped — for
queries whose DuckDB ground truth (not the Spark plan) blows up at the
target scale, e.g. recursive-CTE reachability at sf0.1.
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb
import pandas as pd

from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, round floats, stringify, sort rows."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
        df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    force_rows_only: set[str] = set()
    while argv and argv[0] in ("--json", "--rows-only"):
        if argv[0] == "--json":
            json_out = argv[1]
        else:
            force_rows_only.add(argv[1])
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    from orion_spark.plans.queries import BOUND_CHECKS, ORACLES, QUERIES
    from orion_spark.session import get_spark

    spark = get_spark(app_name="check-correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures, passed, no_oracle, bounded = [], [], [], []
    records: dict[str, dict] = {}

    def record(name, *, rows=None, orows=None, rm=None, sm=None, hm=None,
               err=None, **extra):
        records[name] = {
            "rows_match": rm, "schema_match": sm, "hash_match": hm,
            "spark_rows": rows, "oracle_rows": orows, "err": err, **extra,
        }
        # Long sweeps (sf0.1: hours of single-core DuckDB oracle time) are
        # run as killable shards; dump after every record so a killed shard
        # keeps its finished records.  The .partial suffix marks the run as
        # possibly incomplete: the final artifact is written once at the
        # end, which removes the .partial, and merge_correctness_shards.py
        # validates completeness.
        if json_out:
            with open(json_out + ".partial", "w") as fh:
                json.dump({"sf_dir": sf_dir, "results": records}, fh, indent=2)

    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            record(name, err=f"spark: {str(e)[:300]}")
            continue
        if name not in ORACLES:
            if name in BOUND_CHECKS:
                # declared-approximate query: no cross-engine value oracle
                # exists BY NATURE (engine-private sketch/model), but a
                # quantified accuracy bound vs exact ground truth does
                try:
                    ok, detail = BOUND_CHECKS[name](sdf, con)
                    ok = bool(ok)  # pandas comparisons yield np.bool_
                except Exception as e:
                    failures.append((name, f"BOUND CHECK ERROR: {e}"))
                    print(f"FAIL  {name}: bound check error: {str(e)[:300]}")
                    record(name, rows=len(sdf), err=f"bound: {str(e)[:300]}")
                    continue
                record(name, rows=len(sdf),
                       err=None if ok else f"bound violated: {detail}",
                       bound_ok=ok, bound_detail=detail)
                if ok:
                    bounded.append(name)
                    print(f"PASS  {name} (bound-checked: {detail}, "
                          f"{len(sdf)} rows, {time.time()-t0:.1f}s)")
                else:
                    failures.append((name, f"bound violated: {detail}"))
                    print(f"FAIL  {name}: bound violated: {detail}")
                continue
            no_oracle.append(name)
            print(f"SKIP  {name}: no oracle ({len(sdf)} rows, rows-only check)")
            record(name, rows=len(sdf), err="rows-only by design (no oracle)")
            continue
        if name in force_rows_only:
            no_oracle.append(name)
            print(f"SKIP  {name}: oracle demoted to rows-only at this scale "
                  f"({len(sdf)} rows)")
            record(name, rows=len(sdf),
                   err="rows-only at this scale (oracle-side cost; "
                       "hash-checked at sf0.01)")
            continue
        try:
            odf = con.execute(ORACLES[name]).df()
        except Exception as e:
            failures.append((name, f"ORACLE ERROR: {e}"))
            print(f"FAIL  {name}: oracle error: {str(e)[:300]}")
            record(name, rows=len(sdf), err=f"oracle: {str(e)[:300]}")
            continue
        if len(sdf) != len(odf):
            failures.append((name, f"rowcount {len(sdf)} vs {len(odf)}"))
            print(f"FAIL  {name}: rowcount spark={len(sdf)} oracle={len(odf)}")
            record(name, rows=len(sdf), orows=len(odf), rm=False)
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            failures.append(
                (name, f"columns {sorted(sdf.columns)} vs {sorted(odf.columns)}")
            )
            print(f"FAIL  {name}: columns {sorted(sdf.columns)} vs {sorted(odf.columns)}")
            record(name, rows=len(sdf), orows=len(odf), rm=True, sm=False)
            continue
        cs, co = canon(sdf), canon(odf)
        if not cs.equals(co):
            diff_mask = (cs != co).any(axis=1)
            sample = pd.concat(
                [cs[diff_mask].head(3), co[diff_mask].head(3)], keys=["spark", "oracle"]
            )
            failures.append((name, "value mismatch"))
            print(f"FAIL  {name}: value mismatch; sample:\n{sample}")
            record(name, rows=len(sdf), orows=len(odf), rm=True, sm=True, hm=False)
            continue
        passed.append(name)
        print(f"PASS  {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
        record(name, rows=len(sdf), orows=len(odf), rm=True, sm=True, hm=True)

    print(
        f"\n== {len(passed)} passed, {len(bounded)} bound-checked, "
        f"{len(failures)} failed, {len(no_oracle)} rows-only =="
    )
    if json_out:
        with open(json_out, "w") as fh:
            json.dump({"sf_dir": sf_dir, "results": records}, fh, indent=2)
        if os.path.exists(json_out + ".partial"):
            os.remove(json_out + ".partial")
        print(f"wrote {json_out} ({len(records)} records)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

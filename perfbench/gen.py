"""Seeded TPC-H-shaped input tables for the benchmark.

The engine's registered queries and their DuckDB oracles read one parquet
file per table (``<dir>/<table>.parquet``). This module writes those
tables from a seed: the same ``(sf, seed)`` always gives byte-identical
inputs, and row counts depend on ``sf`` only, so two seeds cost the same
work and differ only in values (keys, dates, prices).

Columns, dtypes and value domains follow the engine's test-data layout;
only the tables the benchmark workloads read are written.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["PROMO", "ECONOMY", "MEDIUM", "LARGE", "STANDARD", "SMALL"]
PNAME_ADJ = ["large", "hot", "blue", "red", "dim", "salty", "green", "small"]
PNAME_NOUN = ["ring", "bolt", "case", "drum", "wheel", "plate", "cap", "rod"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = np.int64(86_400_000_000)


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the tables under ``out_dir``; returns rows per table."""
    rng = np.random.default_rng([seed, 20240917])
    os.makedirs(out_dir, exist_ok=True)

    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    rows = {}

    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": REGIONS,
    })
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i:02d}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-1000, 10_000, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-1000, 10_000, n_supp), 2),
    })
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{PNAME_ADJ[i % 8]} {PNAME_NOUN[(i // 8) % 8]}" for i in range(n_part)
        ],
        "p_brand": [f"Brand#{1 + i % 25}" for i in range(n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 1000, n_part), 2),
    })

    odate = np.datetime64("1995-01-01", "us") + (
        rng.integers(0, 2400, n_ord) * DAY_US
    ).astype("timedelta64[us]")
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, max(n_cust, 1), n_ord),
        "o_orderstatus": np.array(["O", "F", "P"])[
            rng.choice(3, n_ord, p=[0.48, 0.48, 0.04])
        ],
        "o_totalprice": np.round(rng.uniform(1000, 400_000, n_ord), 2),
        "o_orderdate": odate,
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })

    # a fixed 1..7 line-count cycle keeps the lineitem row count (and so the
    # work) independent of the seed; the seed permutes it across orders
    lines_per = rng.permutation(np.resize(np.arange(1, 8), n_ord))
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    n_li = len(l_order)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    ship = np.repeat(odate, lines_per) + (
        rng.integers(1, 121, n_li) * DAY_US
    ).astype("timedelta64[us]")
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, max(n_part, 1), n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": l_num,
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["R", "N", "A"])[
            rng.choice(3, n_li, p=[0.25, 0.5, 0.25])
        ],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ship,
    })

    return rows

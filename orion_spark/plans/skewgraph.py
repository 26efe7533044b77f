"""Deterministic power-law (Zipf hub) graph fixture — the registered
skew surface for the sweep/bench gate.

Round-8 finding (SCALE.md): `tools/gen_scale.py` clones rows under fresh
keys, so every registered fixture has a SCALE-INVARIANT degree
distribution (sf10 co-occurrence max degree 13 == sf0.01) — hub/skew
defenses (adamic max_degree cap, DOULION sampling, salted aggregation)
were therefore only ever demonstrated on ad-hoc fixtures inside
tools/bench_*.py, outside the correctness gate. This module puts a real
power-law graph INTO the registry: the fixture is pure integer
arithmetic over `range`, sized by the lineitem row count (so it scales
with the sf point), and exactly reproducible in DuckDB SQL — every skew
query carries a full value oracle.

Shape, with N = lineitem_rows // 6 base nodes:
- base: a circulant graph on N nodes with offsets {1, 2, 3} (3N distinct
  undirected edges, degree ~6) — guarantees wedges/triangles exist;
- hubs: 16 hub nodes (ids N..N+15); hub j has Zipf degree
  d_j = max(1, (N // 2) // (j + 1)) — hub 0 owns N/2 spokes, the
  quadratic-wedge / hot-reducer regime the 100 TB brief is about.
  Spoke k of hub j attaches to base node (j * 1000003 + k * 7919) % N
  (7919 prime, coprime to N at every sf point => no duplicate edges;
  overlapping residue sets across hubs give a secondary tier of warm
  base nodes, degree up to ~45).

At sf0.1 this is ~469k edges with degree p50=7, p99~45, max=50,000 —
three orders of magnitude of degree spread, scaling with sf.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orion_spark.sources.kgx import parquet_num_rows

N_HUBS = 16
SPOKE_P1 = 1_000_003
SPOKE_P2 = 7_919
_SPOKE_CHUNK = 8_192  # per-row explode bound: hub 0 at sf10 is ~5M spokes


def skew_n(spark: SparkSession, sf_dir: str) -> int:
    """Base size of both skew fixtures (this graph's base nodes and
    skewtext's docs): lineitem_rows // 6, i.e. 1k/10k/100k at the
    driver's three sf points. The row count is summed from the lineitem
    footers, with no Spark job."""
    return parquet_num_rows(spark, f"{sf_dir}/lineitem.parquet") // 6


def skew_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixture edge list (a, b) bigint with a < b, distinct by
    construction (circulant pairs are unique per offset; spoke targets
    are unique per hub because gcd(7919, N) = 1 and d_j <= N/2; hub ids
    sit above every base id) — no dedup shuffle needed, and the DuckDB
    side replays the identical arithmetic."""
    return skew_edges_for_n(spark, skew_n(spark, sf_dir))


def skew_edges_for_n(spark: SparkSession, n: int) -> DataFrame:
    """skew_edges with an explicit base-node count (measurement tools
    size the fixture directly; registered queries derive n from the
    sf_dir so the sweep scales it)."""
    base = spark.range(3 * n).select(
        (F.col("id") % n).alias("u"),
        ((F.col("id") % n + 1 + F.floor(F.col("id") / n).cast("long")) % n)
        .alias("v"),
    ).select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    )
    spokes = _hub_spokes(spark, n)
    hubs = spokes.select(
        F.col("target").alias("a"), (F.lit(n) + F.col("j")).alias("b")
    )
    return base.unionAll(hubs)


def _hub_spokes(spark: SparkSession, n: int) -> DataFrame:
    """(j, k, target) for every spoke k of hub j. The per-hub fan-out is
    chunked (<= 8192 spokes per exploded array row) so hub 0's d_0 = N/2
    spokes never materialize as one driver-sized array — the generator
    itself must survive the skew it synthesizes."""
    dj = F.greatest(
        F.lit(1), F.floor(F.lit(n // 2) / (F.col("j") + 1)).cast("long")
    )
    meta = spark.range(N_HUBS).select(F.col("id").alias("j"), dj.alias("dj"))
    chunks = meta.select(
        "j", "dj",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.floor((F.col("dj") - 1) / _SPOKE_CHUNK).cast("long"),
            )
        ).alias("ch"),
    ).repartition(spark.sparkContext.defaultParallelism)
    spokes = chunks.select(
        "j",
        F.explode(
            F.sequence(
                F.col("ch") * _SPOKE_CHUNK,
                F.least(F.col("dj"), (F.col("ch") + 1) * _SPOKE_CHUNK) - 1,
            )
        ).alias("k"),
    )
    return spokes.select(
        "j", "k",
        ((F.col("j") * SPOKE_P1 + F.col("k") * SPOKE_P2) % n).alias("target"),
    )


def skew_hub_property_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed property-merge input: one row per (hub, spoke) with
    id = 'H:<j>' — 16 keys with Zipf row counts (hub 0 carries N/2 rows:
    a genuine hot reducer key) and closed-form properties exercising the
    keep-first-truthy contract:
    - name: truthy only at spoke ordinals k % 97 == 13 (globally first
      truthy per key is k = 13);
    - publications: ['PMID:<(k * 31) % 50>'] — 50 distinct values folded
      to a sorted-distinct list.
    _source_ordinal = k (unique per key => deterministic merge)."""
    n = skew_n(spark, sf_dir)
    spokes = _hub_spokes(spark, n)
    return spokes.select(
        F.concat(F.lit("H:"), F.col("j").cast("string")).alias("id"),
        F.when(
            F.col("k") % 97 == 13,
            F.concat(
                F.lit("n"), F.col("j").cast("string"),
                F.lit("_"), F.col("k").cast("string"),
            ),
        ).otherwise(F.lit("")).alias("name"),
        F.array(
            F.concat(
                F.lit("PMID:"), ((F.col("k") * 31) % 50).cast("string")
            )
        ).alias("publications"),
        F.col("k").alias("_source_ordinal"),
    )


def skew_pairs_chain_sql() -> str:
    """DuckDB CTE chain form — `params AS (...), ..., pairs AS (...)` —
    for oracle builders that splice it as `WITH {chain}, ...`
    (triangle_count_sampled_oracle_sql). Identical integer arithmetic to
    skew_edges, sized from the same lineitem count."""
    return f"""params AS (SELECT (SELECT COUNT(*) FROM lineitem) // 6 AS n),
    skew_base AS (
        SELECT LEAST(i.i % n, ((i.i % n) + 1 + i.i // n) % n) AS a,
               GREATEST(i.i % n, ((i.i % n) + 1 + i.i // n) % n) AS b
        FROM params, UNNEST(range(0, 3 * n)) AS i(i)),
    skew_hubs AS (
        SELECT (j.j * {SPOKE_P1} + k.k * {SPOKE_P2}) % n AS a, n + j.j AS b
        FROM params,
             UNNEST(range(0, {N_HUBS})) AS j(j),
             UNNEST(range(0, GREATEST(1, (n // 2) // (j.j + 1)))) AS k(k)),
    pairs AS (SELECT a, b FROM skew_base UNION ALL SELECT a, b FROM skew_hubs)"""


def skew_pairs_select_sql() -> str:
    """Single-SELECT form (nested WITH) for oracle builders that wrap the
    pairs source as `WITH pairs AS ({this})` (adamic_adar_oracle_sql)."""
    return f"WITH {skew_pairs_chain_sql()} SELECT a, b FROM pairs"


def skew_hub_rows_chain_sql() -> str:
    """DuckDB CTE chain ending in `hub_rows AS (...)` mirroring
    skew_hub_property_rows row-for-row."""
    return f"""params AS (SELECT (SELECT COUNT(*) FROM lineitem) // 6 AS n),
    hub_rows AS (
        SELECT 'H:' || j.j AS id,
               CASE WHEN k.k % 97 = 13 THEN 'n' || j.j || '_' || k.k
                    ELSE '' END AS name,
               ['PMID:' || ((k.k * 31) % 50)] AS publications,
               k.k AS ord
        FROM params,
             UNNEST(range(0, {N_HUBS})) AS j(j),
             UNNEST(range(0, GREATEST(1, (n // 2) // (j.j + 1)))) AS k(k))"""

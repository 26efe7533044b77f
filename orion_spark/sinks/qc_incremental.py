"""Incrementally-maintained QC sidecars for hash-sharded bundles.

The QC aggregations (operators/analyze.py, reference
orion/kgx_validation.py:44-204) are full-bundle scans. After a sharded
upsert (sinks/incremental.py) rewrote a handful of shard partitions, a
full QC recompute re-reads the 100 TB bundle to account for a delta that
touched tens of GB — the same O(bundle)-vs-O(delta) asymmetry the upsert
itself fixed.

The fix is the classic algebraic-aggregate decomposition: every QC
metric kept here is a per-key SUM (counts and size-sums), so the bundle
stores a per-shard PARTIALS table — long format `(_shard, metric, key,
n)`, partitioned by `_shard`, under `<bundle>/.qc_partials` (dot-prefixed:
invisible to bundle readers). Maintenance is then:

- full write: one grouped scan of the bundle (same cost as one QC pass);
- after `upsert_sharded_bundle` returns its touched-shard list:
  recompute partials for ONLY those shards (partition-pruned read) and
  dynamically overwrite only those partials partitions;
- totals: fold the partials — `groupBy(metric, key).sum(n)` over a table
  whose size is O(n_shards x distinct keys), i.e. kilobytes at any
  bundle size.

Deliberately EXCLUDED from the exact partials: anything non-algebraic
per shard. `spo_type_counts` joins edges to nodes (two bundles,
different shard keys — a shard-local partial is not exact) and stays
full-scan. `knowledge_source_breakdown`'s distinct-node count (a
set-union, not a sum) gets the SKETCH-mergeable treatment instead —
`edge_hll_partials`/`knowledge_source_hll_totals` below store per-shard
DataSketches HLL sketches whose union equals the full-corpus sketch
exactly; the approximation (declared, bounded) is only in the final
estimate, never in the partial==full equivalence.

Consistency contract: refresh runs after the upsert's commit point using
the returned touched list, under the caller's control. A crash between
upsert commit and partials refresh leaves STALE partials — detectable
(`partials_shards ⊂ live shards` check in `verify_partials`) and
repairable by re-running refresh for the journaled shards or rewriting
in full; partials are derived data and never gate the bundle itself.

Equivalence is oracle-proved: the registered query `incremental_qc_totals`
folds partials maintained across an upsert and hash-matches the DuckDB
full-recompute oracle over the same merged data.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orion_spark.sinks.incremental import SHARD_COL, read_shards
from orion_spark.sources.kgx import read_parquet

PARTIALS_DIR = ".qc_partials"


def edge_qc_partials(edges: DataFrame) -> DataFrame:
    """Per-shard algebraic QC partials for an edge bundle (must carry
    SHARD_COL): predicate counts, primary-knowledge-source counts,
    subject CURIE-prefix counts, publications-per-predicate size sums.
    All four are per-key sums, so per-shard rows fold exactly."""
    shard = F.col(SHARD_COL)

    def one(metric: str, key, n=None):
        return edges.select(
            shard.alias(SHARD_COL),
            F.lit(metric).alias("metric"),
            key.alias("key"),
            (F.lit(1).cast("long") if n is None else n.cast("long")).alias("_n"),
        )

    melted = (
        one("predicate", F.col("predicate"))
        .unionByName(
            one("primary_knowledge_source", F.col("primary_knowledge_source"))
        )
        .unionByName(
            one("subject_prefix", F.split(F.col("subject"), ":").getItem(0))
        )
        .unionByName(
            one(
                "publications_per_predicate",
                F.col("predicate"),
                F.when(
                    F.col("publications").isNotNull(), F.size("publications")
                ).otherwise(0),
            )
            if "publications" in edges.columns
            else one("publications_per_predicate", F.col("predicate"), F.lit(0))
        )
    )
    return melted.groupBy(SHARD_COL, "metric", "key").agg(
        F.sum("_n").alias("n")
    )


def node_qc_partials(nodes: DataFrame) -> DataFrame:
    """Per-shard algebraic QC partials for a node bundle: CURIE-prefix
    counts and exploded category counts."""
    shard = F.col(SHARD_COL)
    prefix = nodes.select(
        shard.alias(SHARD_COL),
        F.lit("curie_prefix").alias("metric"),
        F.split(F.col("id"), ":").getItem(0).alias("key"),
    )
    cat = nodes.select(
        shard.alias(SHARD_COL),
        F.lit("category").alias("metric"),
        F.explode("category").alias("key"),
    )
    return (
        prefix.unionByName(cat)
        .groupBy(SHARD_COL, "metric", "key")
        .agg(F.count("*").alias("n"))
    )


_PARTIAL_FNS = {"edges": edge_qc_partials, "nodes": node_qc_partials}


def _write_partials(
    spark: SparkSession,
    bundle_path: str,
    subdir: str,
    partials: Callable[[DataFrame], DataFrame],
    touched: list[int] | None = None,
) -> str:
    """Write `partials(bundle rows)` under `<bundle>/<subdir>`,
    partitioned by SHARD_COL. With `touched=None`, or before any partials
    exist, it rebuilds them from one grouped scan of the bundle. Otherwise
    it recomputes only the touched shards (partition-pruned read) and
    dynamically overwrites only those partitions — O(touched shards), not
    O(bundle); an empty `touched` starts no job."""
    out = os.path.join(bundle_path, subdir)
    full = touched is None or not os.path.isdir(out)
    if not full and not touched:
        return out
    if full:
        df = read_parquet(spark, bundle_path, merge_schema=True)
    else:
        df = read_shards(spark, bundle_path, touched)
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    spark.conf.set(key, "static" if full else "dynamic")
    try:
        partials(df).write.mode("overwrite").partitionBy(SHARD_COL).parquet(out)
    finally:
        spark.conf.set(key, prev)
    return out


def write_qc_partials(
    spark: SparkSession, bundle_path: str, kind: str
) -> str:
    """Full partials (re)build: one grouped scan of the bundle."""
    return _write_partials(spark, bundle_path, PARTIALS_DIR, _PARTIAL_FNS[kind])


def refresh_qc_partials(
    spark: SparkSession, bundle_path: str, touched: list[int], kind: str
) -> str:
    """Recompute partials for ONLY the touched shards — call with the
    shard list `upsert_sharded_bundle` returned (`_write_partials`)."""
    return _write_partials(
        spark, bundle_path, PARTIALS_DIR, _PARTIAL_FNS[kind], touched
    )


def qc_totals(spark: SparkSession, bundle_path: str) -> DataFrame:
    """Fold the partials into bundle-wide QC totals: (metric, key, n).
    The input is O(n_shards x distinct keys) — kilobytes at any bundle
    size; this never touches bundle data."""
    partials = read_parquet(spark, os.path.join(bundle_path, PARTIALS_DIR))
    return partials.groupBy("metric", "key").agg(F.sum("n").alias("n"))


def verify_partials(
    spark: SparkSession, bundle_path: str, partials_dir: str | None = None
) -> list[int]:
    """Staleness probe: shard ids present in the live bundle but missing
    from the partials table (e.g. a crash between upsert commit and
    refresh, or a delta that created brand-new shards). Empty list ⇒
    every live shard is covered. Metadata-only: compares partition
    listings, reads no data. `partials_dir` selects which partials table
    to probe (default: the exact QC partials; pass HLL_PARTIALS_DIR for
    the sketch partials)."""

    def shard_ids(path: str) -> set[int]:
        return {
            int(d.split("=", 1)[1])
            for d in os.listdir(path)
            if d.startswith(f"{SHARD_COL}=")
        }

    live = shard_ids(bundle_path)
    pdir = os.path.join(bundle_path, partials_dir or PARTIALS_DIR)
    have = shard_ids(pdir) if os.path.isdir(pdir) else set()
    return sorted(live - have)


# ---------------------------------------------------------------------------
# Sketch-mergeable partials for the one non-algebraic QC metric
# ---------------------------------------------------------------------------

HLL_PARTIALS_DIR = ".qc_hll_partials"


def edge_hll_partials(edges: DataFrame, lg_k: int = 12) -> DataFrame:
    """Per-shard HLL sketches for knowledge_source_breakdown's
    distinct-node count — the metric the exact partials deliberately
    exclude (set-union, not a sum). DataSketches HLL IS mergeable and
    order/duplicate-insensitive: per-shard sketches unioned equal the
    full-corpus sketch exactly (same estimate, not merely close), so the
    partial==full equivalence stays exact even though the count itself
    is approximate (the declared trade, ~1.6%/sqrt(2^lg_k) rel. std.
    error). Long format: (_shard, aggregator_sources,
    primary_knowledge_source, n_edges, node_sketch binary)."""
    agg_key = F.coalesce(
        F.array_join(F.array_sort(F.col("aggregator_knowledge_source")), ","),
        F.lit(""),
    ) if "aggregator_knowledge_source" in edges.columns else F.lit("")
    melted = edges.select(
        F.col(SHARD_COL),
        agg_key.alias("aggregator_sources"),
        F.col("primary_knowledge_source"),
        F.explode(F.array("subject", "object")).alias("_node"),
    )
    return melted.groupBy(
        SHARD_COL, "aggregator_sources", "primary_knowledge_source"
    ).agg(
        (F.count("*") / 2).cast("long").alias("n_edges"),
        F.hll_sketch_agg("_node", F.lit(lg_k)).alias("node_sketch"),
    )


def write_hll_partials(
    spark: SparkSession, bundle_path: str, lg_k: int = 12
) -> str:
    return _write_partials(
        spark, bundle_path, HLL_PARTIALS_DIR, lambda df: edge_hll_partials(df, lg_k)
    )


def refresh_hll_partials(
    spark: SparkSession, bundle_path: str, touched: list[int], lg_k: int = 12
) -> str:
    """Partition-pruned refresh — same contract as refresh_qc_partials."""
    return _write_partials(
        spark, bundle_path, HLL_PARTIALS_DIR,
        lambda df: edge_hll_partials(df, lg_k), touched,
    )


def knowledge_source_hll_totals(
    spark: SparkSession, bundle_path: str
) -> DataFrame:
    """Fold the per-shard sketches: (aggregator_sources,
    primary_knowledge_source, n_edges, approx_distinct_nodes). The union
    of shard sketches is the full-corpus sketch, so this equals a direct
    full-scan HLL exactly; it approximates the exact distinct count
    within the sketch's error bound."""
    partials = read_parquet(spark, os.path.join(bundle_path, HLL_PARTIALS_DIR))
    return (
        partials.groupBy("aggregator_sources", "primary_knowledge_source")
        .agg(
            F.sum("n_edges").cast("long").alias("n_edges"),
            F.hll_sketch_estimate(
                F.hll_union_agg("node_sketch")
            ).alias("approx_distinct_nodes"),
        )
    )

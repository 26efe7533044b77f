"""KGX JSON-lines bundle I/O (SURVEY §2.1 S1/S2/K1/K2).

The reference streams jsonl dicts row-at-a-time (orion/utils.py:468-475) and
writes with manual null pruning (orion/kgx_file_writer.py:99-160). Spark
replaces both with the columnar json reader/writer:

- read: `spark.read.json` — gzip transparent, schema inference == the
  reference's full-scan type widening (orion/kgx_file_converter.py:224-305);
  a 1M-row "chunk" (orion/kgx_file_normalizer.py:15-16) is just a partition.
- write: `df.write.json` with `ignoreNullFields` (K1's drop-None behavior);
  empty-string/empty-array pruning (orion/kgx_file_writer.py:131-135) is a
  projection before the write.

Bundles persist as a directory pair (`nodes/`, `edges/`) — on a cluster each
is a multi-file dataset; `.gz` codec gives K2's gzip finalize for free.
Parquet is the engine-native format (`write_bundle_parquet`); jsonl is the
KGX-compatibility boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orion_spark.model import ensure_edge_core, ensure_node_core


def read_kgx_nodes(spark: SparkSession, path: str) -> DataFrame:
    """Read a KGX nodes jsonl[.gz] file/dir; enforce core columns."""
    return ensure_node_core(spark.read.json(path))


def read_kgx_edges(spark: SparkSession, path: str) -> DataFrame:
    return ensure_edge_core(spark.read.json(path))


def prune_empty_properties(df: DataFrame) -> DataFrame:
    """P6: None / '' / [] all become JSON-absent (null + ignoreNullFields)
    (orion/kgx_file_writer.py:131-135)."""
    out = df
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, T.StringType):
            out = out.withColumn(f.name, F.when(c != "", c))
        elif isinstance(f.dataType, T.ArrayType):
            out = out.withColumn(f.name, F.when(F.size(c) > 0, c))
        elif isinstance(f.dataType, T.MapType):
            out = out.withColumn(f.name, F.when(F.size(F.map_keys(c)) > 0, c))
    return out


def write_kgx(df: DataFrame, path: str, gzip: bool = False) -> None:
    """K1/K2: write node/edge DataFrame as KGX jsonl, optionally gzipped."""
    writer = prune_empty_properties(df).write.mode("overwrite")
    if gzip:
        writer = writer.option("compression", "gzip")
    writer.json(path)


# ---------------------------------------------------------------------------
# Bundle = the engine's unit of persistence (orion/kgx_bundle.py:16-20)
# ---------------------------------------------------------------------------

def write_bundle(
    nodes: DataFrame, edges: DataFrame, path: str, fmt: str = "parquet",
    gzip: bool = False,
    edge_partition_by: list[str] | None = None,
    recorder=None,
    collect_counts: bool = False,
) -> tuple[int, int] | None:
    """Persist a bundle. `edge_partition_by` (e.g. ["predicate"]) writes
    hive-partitioned edges — at 100 TB this is what makes per-predicate
    derived jobs (closure expansion, Memgraph export, meta-KG) partition-
    prunable instead of full scans.

    `recorder` (plans/stage_metrics.PhaseRecorder) attributes the two
    write actions — which is where the whole upstream merge lineage
    actually executes, Spark being lazy — to "write_nodes"/"write_edges"
    phases with measured shuffle/IO bytes.

    `collect_counts=True` rides `observe()` metrics on the write actions
    and returns (node_count, edge_count) — the sidecar writer's counts for
    free, instead of two whole-bundle re-scan jobs afterwards."""
    if recorder is None:
        from orion_spark.plans.stage_metrics import NullRecorder

        recorder = NullRecorder()
    obs_nodes = obs_edges = None
    if collect_counts:
        from pyspark.sql import Observation

        obs_nodes, obs_edges = Observation(), Observation()
        nodes = nodes.observe(obs_nodes, F.count(F.lit(1)).alias("n"))
        edges = edges.observe(obs_edges, F.count(F.lit(1)).alias("n"))
    if fmt == "parquet":
        with recorder.phase("write_nodes"):
            nodes.write.mode("overwrite").parquet(os.path.join(path, "nodes"))
        with recorder.phase("write_edges"):
            ew = edges.write.mode("overwrite")
            if edge_partition_by:
                ew = ew.partitionBy(*edge_partition_by)
            ew.parquet(os.path.join(path, "edges"))
    else:
        with recorder.phase("write_nodes"):
            write_kgx(nodes, os.path.join(path, "nodes"), gzip=gzip)
        with recorder.phase("write_edges"):
            write_kgx(edges, os.path.join(path, "edges"), gzip=gzip)
    if collect_counts:
        return int(obs_nodes.get["n"]), int(obs_edges.get["n"])
    return None


def read_bundle(
    spark: SparkSession, path: str, fmt: str = "parquet",
    schemas: tuple[T.StructType, T.StructType] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Read a bundle's (nodes, edges).

    `schemas` are the (node, edge) schemas of the frames the bundle was
    just written from. Parquet keeps a frame's schema as written, so a
    parquet read given them skips the footer schema-inference job each
    side otherwise runs. JSON lines do not round-trip a schema (the
    writer prunes empties, the reader widens numbers and drops all-null
    columns), so a jsonl read always infers."""
    if fmt == "parquet":
        node_schema, edge_schema = schemas or (None, None)
        return (
            spark.read.load(os.path.join(path, "nodes"), "parquet", node_schema),
            spark.read.load(os.path.join(path, "edges"), "parquet", edge_schema),
        )
    return (
        read_kgx_nodes(spark, os.path.join(path, "nodes")),
        read_kgx_edges(spark, os.path.join(path, "edges")),
    )


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within_by: list[str] | None = None,
) -> int:
    """Compact a parquet table directory to ~target-sized files.

    Incremental ingest (streaming micro-batches, per-source merges)
    accumulates small files; at 100 TB the scan cost becomes dominated by
    file-open overhead and tiny row groups long before data volume. This
    rewrites the table with a file count derived from its actual byte
    size, optionally sorting within partitions (clustered columns give
    parquet min/max stats real skipping power).

    Returns the new file count (0 = nothing to compact). Rewrite is staged
    through a sibling temp dir then swapped; stale leftovers from a
    crashed prior run are cleaned at entry, and a failure between the two
    renames restores ``path`` from the saved copy so concurrent readers
    never see the table permanently missing.
    """
    import shutil

    tmp = path.rstrip("/") + "__compact_tmp"
    old = path.rstrip("/") + "__compact_old"
    # Recover from a prior crashed run: a leftover __compact_old with no
    # live table means the swap died mid-flight — restore it; otherwise
    # both leftovers are garbage from before the failure point.
    if os.path.exists(old) and not os.path.exists(path):
        os.rename(old, path)
    for stale in (tmp, old):
        if os.path.exists(stale):
            shutil.rmtree(stale)

    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    if total == 0:
        return 0
    n_files = max(1, -(-total // target_file_bytes))  # ceil div
    df = spark.read.parquet(path)
    out = df.repartition(n_files)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    out.write.mode("overwrite").parquet(tmp)
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except BaseException:
        os.rename(old, path)  # restore — table must never stay missing
        raise
    shutil.rmtree(old)
    return n_files

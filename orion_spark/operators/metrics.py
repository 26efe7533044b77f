"""Self-reported pipeline metrics (BASELINE.md implication: the engine
should report the counters ORION tracks as metadata — merge counts
(orion/kgx_file_merger.py:84-100), normalization success/failure/split
counts (orion/kgx_file_normalizer.py:204-221,355-364), per-prefix stats
(366-401)).

Each report is a handful of small aggregates collected into Python; the
heavy inputs are only scanned, never collected. The
merge report scans nothing: its caller passes counts the parquet footers
and the bundle write already hold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from orion_spark.model import NODE_ID, OBJECT, SUBJECT
from orion_spark.operators.normalize import prefix_stats


def merge_report(source_nodes: int, source_edges: int,
                 merged_nodes: int, merged_edges: int) -> dict:
    """Counts before/after the merge stage (orion/kgx_file_merger.py:84-100
    tracks source/merged counts per source).

    The caller holds every count, so the report starts no Spark job:
    `build_graph` reads the source counts from the parquet footers
    (`sources/kgx.parquet_num_rows`) and the merged counts are the
    written bundle's (the write's observed metrics,
    `write_bundle(collect_counts=True)`)."""
    return {
        "source_nodes": source_nodes,
        "merged_nodes": merged_nodes,
        "nodes_merged_away": source_nodes - merged_nodes,
        "source_edges": source_edges,
        "merged_edges": merged_edges,
        "edges_merged_away": source_edges - merged_edges,
    }


def normalization_report(
    nodes: DataFrame, edges: DataFrame, norm_map: DataFrame
) -> dict:
    """Success / failure / split counters for a normalization pass
    (orion/kgx_file_normalizer.py:204-221 node side, 355-364 edge splits)."""
    ok = norm_map.where(F.size("normalized_ids") > 0)
    joined = nodes.select(NODE_ID).join(
        broadcast(norm_map), nodes[NODE_ID] == norm_map["original_id"], "left"
    )
    hit = joined["original_id"].isNotNull() & (F.size("normalized_ids") > 0)
    node_counts = joined.agg(
        F.count("*").alias("total"),
        F.sum(F.when(hit, 1).otherwise(0)).alias("normalized"),
        F.sum(F.when(hit & (F.size("normalized_ids") > 1), 1).otherwise(0)).alias(
            "split"
        ),
    ).collect()[0]

    smap = broadcast(ok.select(F.col("original_id").alias("_s"),
                               F.size("normalized_ids").alias("_sn")))
    omap = broadcast(ok.select(F.col("original_id").alias("_o"),
                               F.size("normalized_ids").alias("_on")))
    e = (
        edges.select(SUBJECT, OBJECT)
        .join(smap, edges[SUBJECT] == F.col("_s"), "left")
        .join(omap, edges[OBJECT] == F.col("_o"), "left")
    )
    edge_counts = e.agg(
        F.count("*").alias("total"),
        F.sum(
            F.when(F.col("_sn").isNull() | F.col("_on").isNull(), 1).otherwise(0)
        ).alias("dropped"),
        F.sum(
            F.when(
                F.col("_sn").isNotNull() & F.col("_on").isNotNull(),
                F.col("_sn") * F.col("_on"),
            ).otherwise(0)
        ).alias("output_edges"),
    ).collect()[0]

    surviving = edge_counts["total"] - int(edge_counts["dropped"])
    return {
        "nodes_total": node_counts["total"],
        "nodes_normalized": int(node_counts["normalized"]),
        "nodes_failed": node_counts["total"] - int(node_counts["normalized"]),
        "node_splits": int(node_counts["split"]),
        "edges_total": edge_counts["total"],
        "edges_dropped_missing_endpoint": int(edge_counts["dropped"]),
        "edges_after_split_fanout": int(edge_counts["output_edges"]),
        # reference invariant (kgx_file_normalizer.py:360-362):
        # source_edges - failures + splits = edges post norm
        "edge_splits": int(edge_counts["output_edges"]) - surviving,
        "prefix_stats": [r.asDict() for r in prefix_stats(nodes, norm_map).collect()],
    }


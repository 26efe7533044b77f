"""Graph metadata / QC / schema sinks (SURVEY §2.1 K7, §2.3 A9/A12).

The reference writes graph-metadata.json, qc-results.json and schema.json by
scanning the jsonl files (orion/kgx_metadata.py:150-290,375-460,
orion/kgx_validation.py:25-204). Here the graph-sized work behind all three
is two census aggregates (`graph_census`: one over the nodes, one over the
edges — counts, prefix histogram, predicate totals, category vocabulary,
knowledge-source set) plus the spo-type census, which joins the edges to
the broadcast node categories. Only the per-knowledge-source breakdown
(when the aggregator column exists) and the node-type check (when a type
vocabulary is given) add an aggregate of their own. Results are tiny,
collected and dumped as JSON from Python; schema.json reads the DataFrame
schema and scans nothing.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from orion_spark.operators.analyze import (
    edge_census,
    infer_property_schema,
    knowledge_source_breakdown,
    node_census,
    spo_type_counts,
)
from orion_spark.model import EDGE_CORE_COLUMNS, NODE_CORE_COLUMNS


@dataclass(frozen=True)
class GraphCensus:
    """Everything the sidecars need from whole-graph scans, collected by
    one node and one edge aggregate (`graph_census`). The histograms keep
    the aggregates' row order, which is the order of the sidecar's keys."""

    node_prefixes: dict  # CURIE prefix -> nodes
    categories: list  # distinct first categories, sorted
    predicates: dict  # predicate -> edges
    knowledge_sources: set  # primary (or the missing default) + aggregator

    @property
    def node_count(self) -> int:
        return sum(self.node_prefixes.values())

    @property
    def edge_count(self) -> int:
        return sum(self.predicates.values())


def graph_census(nodes: DataFrame, edges: DataFrame) -> GraphCensus:
    """Two Spark actions: `node_census` and `edge_census`, each a
    vocabulary-sized collect."""
    node_rows = node_census(nodes).collect()
    edge_rows = edge_census(edges).collect()
    return GraphCensus(
        node_prefixes={r["prefix"]: r["n"] for r in node_rows},
        categories=sorted({c for r in node_rows for c in r["categories"]}),
        predicates={r["predicate"]: r["n"] for r in edge_rows},
        knowledge_sources={
            s for r in edge_rows for s in r["knowledge_sources"]
        },
    )


def qc_results(edges: DataFrame, census: GraphCensus) -> dict:
    """A9 QC aggregate panel (orion/kgx_validation.py:44-204)."""
    return {
        "node_curie_prefixes": census.node_prefixes,
        "edge_properties": sorted(edges.columns),
        "predicate_totals": census.predicates,
        "edges_per_knowledge_source": [
            row.asDict() for row in knowledge_source_breakdown(edges).collect()
        ]
        if "aggregator_knowledge_source" in edges.columns
        else [],
    }


INFORES_STATUS_DEPRECATED = "deprecated"
INFORES_STATUS_INVALID = "invalid"


def validate_graph(
    nodes: DataFrame,
    edges: DataFrame,
    infores_status: dict[str, str] | None = None,
    valid_node_types: set[str] | None = None,
    census: GraphCensus | None = None,
) -> dict:
    """The validation VERDICT layer on top of the QC counts
    (orion/kgx_validation.py:25-204): a pass/warnings/errors record that
    flags deprecated or invalid knowledge-source infores identifiers and
    node categories outside the model.

    `infores_status` maps infores id -> status (the reference resolves
    this from the biolink infores catalog via bmt; here it is an
    injectable snapshot, same treatment as the closure dimension tables
    in operators/derive.py — unknown ids count as valid, matching the
    reference's get_infores_status default). `valid_node_types` is the
    category vocabulary; None skips that check. `census` is a graph
    census the caller already holds (the sidecar writer shares one with
    graph-metadata.json); None collects one.

    Scale shape: the knowledge sources (incl. the missing-pks default)
    come from the same edge census as the QC counts, so the verdict and
    the counts cost the two census actions together; node-type
    validation adds one distinct-aggregate over the exploded categories.
    Results are vocabulary-sized; the verdict itself is a Python set
    comparison. Edges/nodes are never collected."""
    infores_status = infores_status or {}
    if census is None:
        census = graph_census(nodes, edges)
    sources = census.knowledge_sources
    warnings: dict[str, list] = {}
    deprecated = sorted(
        s for s in sources
        if infores_status.get(s) == INFORES_STATUS_DEPRECATED
    )
    invalid = sorted(
        s for s in sources if infores_status.get(s) == INFORES_STATUS_INVALID
    )
    if deprecated:
        warnings["deprecated_knowledge_sources"] = deprecated
    if invalid:
        warnings["invalid_knowledge_sources"] = invalid
    if valid_node_types is not None and "category" in nodes.columns:
        cats = {
            r.c
            for r in nodes.select(F.explode("category").alias("c"))
            .distinct()
            .collect()
        }
        invalid_types = sorted(cats - set(valid_node_types))
        if invalid_types:
            warnings["invalid_node_types"] = invalid_types
    return {
        "pass": True,  # warnings never fail the build (kgx_validation.py:36)
        "warnings": warnings,
        "errors": {},
        **qc_results(edges, census),
    }


def graph_metadata(
    graph_id: str,
    graph_version: str,
    nodes: DataFrame,
    edges: DataFrame,
    census: GraphCensus,
) -> dict:
    """graph-metadata.json content (orion/kgx_metadata.py:150-290): counts +
    spo-type census. The counts, the category vocabulary and the node
    count behind the spo census's broadcast-vs-sort-merge decision come
    from the graph census, so the spo census is the only extra scan."""
    return {
        "graph_id": graph_id,
        "graph_version": graph_version,
        "node_count": census.node_count,
        "edge_count": census.edge_count,
        "spo_type_counts": [
            row.asDict()
            for row in spo_type_counts(
                edges, nodes, n_nodes=census.node_count,
                categories=census.categories,
            ).collect()
        ],
    }


def kgx_schema(nodes: DataFrame, edges: DataFrame) -> dict:
    """schema.json content (orion/kgx_metadata.py:375-443): property->type
    from the (already known) DataFrame schema instead of a rescan."""
    return {
        "nodes": dict(infer_property_schema(nodes, NODE_CORE_COLUMNS)),
        "edges": dict(infer_property_schema(edges, EDGE_CORE_COLUMNS)),
    }


def write_metadata_sidecars(
    graph_id: str,
    graph_version: str,
    nodes: DataFrame,
    edges: DataFrame,
    out_dir: str,
    infores_status: dict[str, str] | None = None,
    valid_node_types: set[str] | None = None,
) -> None:
    """graph-metadata.json, qc-results.json and schema.json; both JSON
    records share one graph census."""
    os.makedirs(out_dir, exist_ok=True)
    census = graph_census(nodes, edges)
    with open(os.path.join(out_dir, "graph-metadata.json"), "w") as fh:
        json.dump(
            graph_metadata(graph_id, graph_version, nodes, edges, census),
            fh, indent=2,
        )
    # qc-results.json carries the full verdict record (pass/warnings/
    # errors + counts), matching the reference's qc shape
    with open(os.path.join(out_dir, "qc-results.json"), "w") as fh:
        json.dump(
            validate_graph(
                nodes, edges, infores_status, valid_node_types, census
            ),
            fh, indent=2,
        )
    with open(os.path.join(out_dir, "schema.json"), "w") as fh:
        json.dump(kgx_schema(nodes, edges), fh, indent=2)


def write_merge_sidecar(report: dict, out_dir: str) -> None:
    """merge-metadata.json (orion/kgx_file_merger.py:84-100 merge_metadata:
    source vs final counts, merged-away counts per stage). The report dict
    comes from operators/metrics.merge_report."""
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "merge-metadata.json"), "w") as fh:
        json.dump(report, fh, indent=2, sort_keys=True)


def write_normalization_sidecar(report: dict, out_dir: str) -> None:
    """normalization-metadata.json (orion/kgx_file_normalizer.py:355-364:
    source_edges / edge_splits / final counts + per-prefix stats). The
    report dict comes from operators/metrics.normalization_report."""
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "normalization-metadata.json"), "w") as fh:
        json.dump(report, fh, indent=2, sort_keys=True)

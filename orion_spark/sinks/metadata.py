"""Graph metadata / QC / schema sinks (SURVEY §2.1 K7, §2.3 A9/A12).

The reference writes graph-metadata.json, qc-results.json and schema.json by
scanning the jsonl files once per statistic (orion/kgx_metadata.py:150-290,
375-460, orion/kgx_validation.py:25-204). Here the graph-sized work behind
all three is ONE census aggregate (`graph_census` over
`operators/analyze.sidecar_census`): node, edge and spo-type rows tagged by side,
unioned and grouped once — counts, prefix histogram, predicate totals,
category vocabulary, node types, knowledge-source set and the spo-type
census, which joins the edges to the broadcast node categories. Only the
per-knowledge-source breakdown (when the aggregator column exists), and
the spo census of a graph too large to broadcast, add an aggregate of
their own. Results are tiny, collected, sorted by key (nulls first) so
the files do not depend on partitioning, and dumped as JSON from Python;
schema.json reads the DataFrame schema and scans nothing.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from dataclasses import dataclass

from pyspark.sql import DataFrame

from orion_spark.operators.analyze import (
    SPO_BROADCAST_MAX_NODES,
    infer_property_schema,
    knowledge_source_breakdown,
    sidecar_census,
    spo_type_counts,
)
from orion_spark.model import EDGE_CORE_COLUMNS, NODE_CORE_COLUMNS

SPO_KEY = ("subject_category", "predicate", "object_category")


def _nulls_first(*keys) -> tuple:
    return tuple((k is not None, k) for k in keys)


def _by_key(counts: dict) -> dict:
    return dict(sorted(counts.items(), key=lambda kv: _nulls_first(kv[0])))


def _sorted_rows(rows: list[dict], key) -> list[dict]:
    return sorted(rows, key=lambda r: _nulls_first(*(r[k] for k in key)))


@dataclass(frozen=True)
class GraphCensus:
    """Everything the sidecars need from whole-graph scans, collected by
    one aggregate (`graph_census`). The histograms are sorted by key."""

    node_prefixes: dict  # CURIE prefix -> nodes
    categories: list  # distinct first categories, sorted
    node_types: set  # every category of every node
    predicates: dict  # predicate -> edges
    knowledge_sources: set  # primary (or the missing default) + aggregator
    spo: list | None  # spo_type_counts rows, sorted; None: not censused

    @property
    def node_count(self) -> int:
        return sum(self.node_prefixes.values())

    @property
    def edge_count(self) -> int:
        return sum(self.predicates.values())


def graph_census(
    nodes: DataFrame,
    edges: DataFrame,
    node_count: int | None = None,
    categories: list[str] | None = None,
) -> GraphCensus:
    """One Spark action: the `sidecar_census` aggregate, collected. When the
    caller knows the node count and the first-category vocabulary (the
    bundle write observes both) and the node map is within the
    broadcast cap, the spo-type census rides in the same aggregate;
    otherwise `spo` is None and `graph_metadata` runs it on its own."""
    vocab = None
    if (categories is not None and node_count is not None
            and node_count <= SPO_BROADCAST_MAX_NODES):
        vocab = sorted(c for c in categories if c is not None)
    rows = sidecar_census(nodes, edges, vocab).collect()
    side = {s: [r for r in rows if r["side"] == s] for s in ("node", "edge", "spo")}

    def totals(rows) -> dict:
        counts = Counter()
        for r in rows:
            counts[r["key"]] += r["n"]
        return _by_key(counts)

    def category(code):
        return None if code is None else vocab[code]

    return GraphCensus(
        node_prefixes=totals(side["node"]),
        categories=sorted({r["subkey"] for r in side["node"]} - {None}),
        node_types={t for r in side["node"] for t in r["types"] or ()} - {None},
        predicates=totals(side["edge"]),
        knowledge_sources={r["subkey"] for r in side["edge"]}
        | {s for r in side["edge"] for s in r["aggregators"] or ()},
        spo=None if vocab is None else _sorted_rows([
            {"subject_category": category(r["scode"]), "predicate": r["key"],
             "object_category": category(r["ocode"]), "n": r["n"]}
            for r in side["spo"]
        ], SPO_KEY),
    )


def qc_results(edges: DataFrame, census: GraphCensus) -> dict:
    """A9 QC aggregate panel (orion/kgx_validation.py:44-204)."""
    return {
        "node_curie_prefixes": census.node_prefixes,
        "edge_properties": sorted(edges.columns),
        "predicate_totals": census.predicates,
        "edges_per_knowledge_source": _sorted_rows(
            [row.asDict() for row in knowledge_source_breakdown(edges).collect()],
            ("aggregator_sources", "primary_knowledge_source"),
        )
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
    and the node types come from the same census aggregate as the QC
    counts, so the verdict and the counts cost that one action together.
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
    if valid_node_types is not None:
        invalid_types = sorted(census.node_types - set(valid_node_types))
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
    spo-type census, sorted by key. The census holds the spo rows when
    it could broadcast the node map; otherwise its node count and
    category vocabulary plan the sort-merge `spo_type_counts`, the only
    extra scan."""
    spo = census.spo
    if spo is None:
        spo = _sorted_rows([
            row.asDict() for row in spo_type_counts(
                edges, nodes, n_nodes=census.node_count,
                categories=census.categories,
            ).collect()
        ], SPO_KEY)
    return {
        "graph_id": graph_id,
        "graph_version": graph_version,
        "node_count": census.node_count,
        "edge_count": census.edge_count,
        "spo_type_counts": spo,
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
    node_count: int | None = None,
    categories: list[str] | None = None,
) -> None:
    """graph-metadata.json, qc-results.json and schema.json; both JSON
    records share one graph census. `node_count` and `categories` (the
    first-category vocabulary), which the bundle write observes, let the
    census plan the spo-type rows into its one aggregate."""
    os.makedirs(out_dir, exist_ok=True)
    census = graph_census(nodes, edges, node_count, categories)
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

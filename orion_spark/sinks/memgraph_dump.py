"""Memgraph dump + load orchestration (orion/memgraph_tools.py:1-48
create_memgraph_dump; file shapes from orion/kgx_file_converter.py:26-148).

The reference emits three artifact kinds per graph release:
- one node csv            memgraph_{graph}_{release}_nodes.csv
- one index cypher file   memgraph_{graph}_{release}_indexes.cypher
  (a name index on the root label + an id index per node label)
- one edge csv PER predicate  memgraph_{graph}_{release}_edges_{type}.csv
  with a _manifest.txt listing them (the memgraph loader reads the
  manifest to issue one LOAD CSV per relationship type)

and each artifact is skipped when it already exists (memgraph_tools.py:
29-42's per-file existence gates). This is the engine's one Memgraph
writer (SURVEY K4). Here the per-predicate split is the distributed
sink's partitionBy — one Spark pass, no per-row Python — and only the
final concat of part files is driver-side (sinks/external.concat_parts,
streamed).

``load_memgraph_dump`` is the subprocess half the reference leaves to its
deployment: the dump files pushed through an injectable mgconsole-style
binary (indexes first, then one LOAD CSV per manifest entry), with the
same exit-code gating (sinks/external.run_tool) + fake-binary testability
as the neo4j chain (sinks/neo4j_dump.py).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from orion_spark.sinks.external import (
    NAMED_THING,
    concat_parts,
    node_labels,
    run_tool,
)


class MemgraphDumpError(RuntimeError):
    pass


def _sub_name(graph_id: str, release_version: str) -> str:
    return f"{graph_id}_{release_version}" if release_version else graph_id


def memgraph_index_cypher(nodes: DataFrame) -> list[str]:
    """add_indexes_to_memgraph_cypher parity (kgx_file_converter.py:56-88):
    a name index on the root label, then an id index per distinct node
    label, sorted (no driver-side jsonl walk)."""
    stmts = [f"CREATE INDEX ON :`{NAMED_THING}`(name);"]
    stmts += [f"CREATE INDEX ON :`{label}`(id);" for label in node_labels(nodes)]
    return stmts


def create_memgraph_dump(
    nodes: DataFrame,
    edges: DataFrame,
    output_directory: str,
    graph_id: str = "graph",
    release_version: str = "",
    node_property_ignore_list: set | None = None,
    edge_property_ignore_list: set | None = None,
    sep: str = "\t",
) -> dict:
    """memgraph_tools.py:9-48 parity. Returns the artifact manifest
    {nodes_csv, indexes_cypher, edge_csvs, edge_manifest}; every artifact
    is skipped if present (idempotent re-runs, matching the reference's
    existence gates). Property ignore lists drop columns before the
    render (kgx_file_converter's property_ignore_list)."""
    from orion_spark.sinks.graph_csv import _render

    os.makedirs(output_directory, exist_ok=True)
    sub = _sub_name(graph_id, release_version)
    nodes_csv = os.path.join(output_directory, f"memgraph_{sub}_nodes.csv")
    idx_cypher = os.path.join(output_directory, f"memgraph_{sub}_indexes.cypher")
    edge_base = os.path.join(output_directory, f"memgraph_{sub}_edges")
    edge_manifest = edge_base + "_manifest.txt"

    if node_property_ignore_list:
        keep = [c for c in nodes.columns if c not in node_property_ignore_list]
        nodes = nodes.select(*keep)
    if edge_property_ignore_list:
        keep = [c for c in edges.columns if c not in edge_property_ignore_list]
        edges = edges.select(*keep)

    if not os.path.exists(nodes_csv):
        staging = os.path.join(output_directory, f".{sub}_nodes_staging")
        _render(nodes).write.mode("overwrite").option("sep", sep).option(
            "emptyValue", ""
        ).csv(staging)
        concat_parts(staging, sep.join(nodes.columns), nodes_csv)
        shutil.rmtree(staging)

    if not os.path.exists(idx_cypher):
        with open(idx_cypher, "w", encoding="utf-8") as fh:
            fh.write("\n".join(memgraph_index_cypher(nodes)) + "\n")

    edge_csvs = []
    if not os.path.exists(edge_manifest):
        # per-predicate split in ONE distributed pass (partitionBy) — the
        # reference re-reads the whole edge jsonl once per type
        # (kgx_file_converter.py:113-143); ':' -> '_' in filenames
        staging = os.path.join(output_directory, f".{sub}_edges_staging")
        rendered = _render(edges).withColumn(
            "_rel", F.regexp_replace(F.col("predicate"), ":", "_")
        )
        rendered.write.mode("overwrite").partitionBy("_rel").option(
            "sep", sep
        ).option("emptyValue", "").csv(staging)
        for d in sorted(os.listdir(staging)):
            if not d.startswith("_rel="):
                continue
            rel_type = d.split("=", 1)[1]
            out = f"{edge_base}_{rel_type}.csv"
            concat_parts(os.path.join(staging, d), sep.join(edges.columns), out)
            edge_csvs.append({"file": os.path.basename(out), "rel_type": rel_type})
        shutil.rmtree(staging)
        with open(edge_manifest, "w") as fh:
            for entry in edge_csvs:
                fh.write(entry["file"] + "\n")
    else:
        prefix = os.path.basename(edge_base) + "_"
        edge_csvs = [
            {
                "file": ln.strip(),
                "rel_type": ln.strip()[len(prefix):].removesuffix(".csv"),
            }
            for ln in open(edge_manifest)
            if ln.strip()
        ]

    return {
        "nodes_csv": nodes_csv,
        "indexes_cypher": idx_cypher,
        "edge_csvs": edge_csvs,
        "edge_manifest": edge_manifest,
    }


def load_memgraph_dump(
    dump_manifest: dict,
    mgconsole: list[str] | None = None,
) -> tuple[bool, list[str]]:
    """Push a create_memgraph_dump() output through an injectable
    mgconsole-style binary: indexes first (fast id lookup for edge
    inserts — the reason the reference writes the cypher file at all),
    then one LOAD CSV per manifest entry. Every step gates on exit code;
    returns (success, command log)."""
    mgconsole = mgconsole or ["mgconsole"]
    log: list[str] = []

    with open(dump_manifest["indexes_cypher"], encoding="utf-8") as fh:
        run_tool(mgconsole, MemgraphDumpError, log, stdin_text=fh.read())

    nodes_csv = dump_manifest["nodes_csv"]
    run_tool(
        mgconsole, MemgraphDumpError, log,
        stdin_text=(
            f'LOAD CSV FROM "{nodes_csv}" WITH HEADER DELIMITER "\\t" AS row\n'
            "CREATE (n) SET n += row;\n"
        ),
    )
    base_dir = os.path.dirname(dump_manifest["edge_manifest"])
    for entry in dump_manifest["edge_csvs"]:
        path = os.path.join(base_dir, entry["file"])
        run_tool(
            mgconsole, MemgraphDumpError, log,
            stdin_text=(
                f'LOAD CSV FROM "{path}" WITH HEADER DELIMITER "\\t" AS row\n'
                "MATCH (a {id: row.subject}), (b {id: row.object})\n"
                "CREATE (a)-[r:`" + entry["rel_type"]
                + "`]->(b) SET r += row;\n"
            ),
        )
    return True, log
